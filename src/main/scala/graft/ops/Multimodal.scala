package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns (builder mandate, SURVEY.md §0 scope extension):
  * image/audio/video as opaque `binary` columns with typed metadata, plus
  * decode / feature-extract / frame-sample operators.
  *
  * The Spark-side plumbing — schema, batch shape, per-partition decoder
  * lifecycle, partition-preserving execution — is real and tested. The
  * actual media decode is STUBBED behind [[MediaDecoder]] (no image/audio
  * codecs ship in this environment): [[StubDecoder]] produces
  * deterministic fake features from the bytes, so every downstream stage
  * (dedup on features, ANN over extracted embeddings, metadata filters)
  * exercises the true code path.
  */
object Multimodal {

  /** Typed metadata carried next to every media blob. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Canonical multimodal row layout: id + opaque bytes + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("meta", mediaMetaType)))

  /** Decoder boundary. One instance per partition (mirrors the
    * per-partition-client pattern for external services, SURVEY.md §2.1 S4);
    * implementations may hold native handles that must not cross the
    * serialization boundary.
    */
  trait MediaDecoder extends Serializable {
    /** Open per-partition resources. */
    def open(): Unit = ()
    /** Fixed-width feature vector for one blob. */
    def features(content: Array[Byte], dim: Int): Array[Float]
    def close(): Unit = ()
  }

  /** Deterministic stand-in for a real codec: feature j of a blob is
    * md5(content ++ ":j") → first 48 bits → exact double in [-1, 1) →
    * float. Same bytes → same vector, and — because the recipe is plain
    * md5 + exact IEEE arithmetic — an external SQL oracle can recompute
    * every feature bit for bit, which turns the stubbed decode path into a
    * hard-verifiable one. A production deployment swaps this for a JNI/FFI
    * decoder with the same partition lifecycle.
    */
  class StubDecoder extends MediaDecoder {
    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")
    def features(content: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        md.reset()
        md.update(content)
        md.update((":" + j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val d = md.digest()
        val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        out(j) = (h.toDouble / 140737488355328.0 - 1.0).toFloat // / 2^47
        j += 1
      }
      out
    }
  }

  /** Real public-format header decoder: PNG / JPEG (JFIF) / GIF
    * (format, width, height) from the leading bytes, per their published
    * specs — no codec library needed, so this is the one decode stage
    * that runs REAL logic in this environment (the pixel decode stays
    * stubbed). Pure function of the blob; one instance per partition like
    * every [[MediaDecoder]].
    *
    *  - PNG: 8-byte signature `89 50 4E 47 0D 0A 1A 0A`, IHDR chunk type
    *    at bytes [12,16), width/height as big-endian int32 at fixed
    *    offsets 16 and 20 (the IHDR layout is mandatory-first per the
    *    PNG spec).
    *  - JPEG: `FF D8` SOI, then a marker SCAN (APP0/COM/… segments carry
    *    a big-endian length) until a start-of-frame marker (C0–CF minus
    *    C4/C8/CC); height/width are big-endian uint16 at SOF+5 / SOF+7.
    *  - GIF: `GIF87a`/`GIF89a`, width/height as LITTLE-endian uint16 at
    *    offsets 6 and 8.
    *
    * Anything else → ("unknown", -1, -1): total on arbitrary bytes, never
    * throws (truncated headers fall through to unknown).
    */
  object ImageHeaders extends Serializable {
    private val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    private def be16(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

    def parse(b: Array[Byte]): (String, Int, Int) = {
      if (b == null) ("unknown", -1, -1)
      else if (b.length >= 24 && b.startsWith(pngSig) &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        ("png", be32(b, 16), be32(b, 20))
      else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
        var pos = 2
        while (pos + 8 < b.length && (b(pos) & 0xff) == 0xff) {
          val marker = b(pos + 1) & 0xff
          val isSof = marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc
          if (isSof) return ("jpeg", be16(b, pos + 7), be16(b, pos + 5))
          // standalone markers (RST0-7, EOI) carry no length field
          if (marker == 0xd9 || (marker >= 0xd0 && marker <= 0xd7)) pos += 2
          else pos += 2 + be16(b, pos + 2)
        }
        ("unknown", -1, -1)
      }
      else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
        ("gif", le16(b, 6), le16(b, 8))
      else ("unknown", -1, -1)
    }
  }

  /** Real WAV (RIFF/WAVE) header decoder — the audio leg of L5's real
    * decode surface: channels / sample rate / duration parsed from the
    * chunk list per the RIFF spec (all little-endian). A proper chunk
    * SCAN, not fixed offsets: `fmt ` and `data` may sit after other
    * chunks (LIST/INFO) and in any order. Total on arbitrary bytes.
    */
  object AudioHeaders extends Serializable {
    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    private def tag(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** (format, channels, sample_rate, duration_ms); unknowns are -1. */
    def parse(b: Array[Byte]): (String, Int, Long, Long) = {
      if (b == null || b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE")
        return ("unknown", -1, -1L, -1L)
      var channels = -1
      var sampleRate = -1L
      var byteRate = -1L
      var dataSize = -1L
      var pos = 12
      while (pos + 8 <= b.length) {
        val id = tag(b, pos)
        val sz = le32(b, pos + 4)
        if (id == "fmt " && pos + 8 + 16 <= b.length) {
          channels = le16(b, pos + 10)
          sampleRate = le32(b, pos + 12)
          byteRate = le32(b, pos + 16)
        } else if (id == "data") dataSize = sz
        pos += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
      }
      if (channels < 0) ("unknown", -1, -1L, -1L)
      else ("wav", channels, sampleRate,
        if (byteRate > 0 && dataSize >= 0) dataSize * 1000L / byteRate else -1L)
    }
  }

  /** Real MP4 (ISO-BMFF) header decoder — the video leg: a box WALK to
    * `moov`/`mvhd` (big-endian), reading the movie timescale and duration
    * for both mvhd version 0 (32-bit) and version 1 (64-bit). Total on
    * arbitrary bytes.
    */
  object VideoHeaders extends Serializable {
    private def be32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def be64(b: Array[Byte], o: Int): Long =
      (be32(b, o) << 32) | be32(b, o + 4)
    private def tag(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** (format, timescale, duration_ms); unknowns are -1. */
    def parse(b: Array[Byte]): (String, Long, Long) = {
      if (b == null || b.length < 12 || tag(b, 4) != "ftyp")
        return ("unknown", -1L, -1L)
      var pos = 0
      while (pos + 8 <= b.length) {
        val sz = be32(b, pos)
        if (sz < 8) return ("unknown", -1L, -1L)
        if (tag(b, pos + 4) == "moov") {
          // walk the moov children for mvhd
          var p = pos + 8
          val end = math.min(pos + sz, b.length.toLong).toInt
          while (p + 8 <= end) {
            val csz = be32(b, p)
            if (csz < 8) return ("unknown", -1L, -1L)
            if (tag(b, p + 4) == "mvhd" && p + 32 <= end) {
              val version = b(p + 8) & 0xff
              val (ts, dur) =
                if (version == 1 && p + 40 <= end)
                  (be32(b, p + 28), be64(b, p + 32))
                else (be32(b, p + 20), be32(b, p + 24))
              return ("mp4", ts, if (ts > 0) dur * 1000L / ts else -1L)
            }
            p += csz.toInt
          }
          return ("unknown", -1L, -1L)
        }
        pos += sz.toInt
      }
      ("unknown", -1L, -1L)
    }
  }

  /** [[ImageHeaders]]-style decode for audio blobs: appends
    * `fmt, channels, sample_rate, duration_ms`. Partition-preserving.
    */
  def decodeAudioMeta(df: DataFrame): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("fmt", StringType),
      StructField("channels", LongType),
      StructField("sample_rate", LongType),
      StructField("duration_ms", LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val contentIdx = df.schema.fieldIndex("content")
    df.mapPartitions { rows =>
      rows.map { r =>
        val (f, c, sr, d) = AudioHeaders.parse(r.getAs[Array[Byte]](contentIdx))
        Row.fromSeq(r.toSeq ++ Seq(f, c.toLong, sr, d))
      }
    }(enc)
  }

  /** [[ImageHeaders]]-style decode for video blobs: appends
    * `fmt, timescale, duration_ms`. Partition-preserving.
    */
  def decodeVideoMeta(df: DataFrame): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("fmt", StringType),
      StructField("timescale", LongType),
      StructField("duration_ms", LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val contentIdx = df.schema.fieldIndex("content")
    df.mapPartitions { rows =>
      rows.map { r =>
        val (f, ts, d) = VideoHeaders.parse(r.getAs[Array[Byte]](contentIdx))
        Row.fromSeq(r.toSeq ++ Seq(f, ts, d))
      }
    }(enc)
  }

  /** Header-metadata decode over the binary column: appends
    * `fmt: string, width: long, height: long` parsed from the blob's
    * leading bytes by [[ImageHeaders]]. Same partition-preserving
    * mapPartitions shape as [[extractFeatures]] — the blobs never move,
    * and only their first dozens of bytes are touched (with parquet at
    * rest and lazy binary materialization this is a metadata-speed pass
    * even at 100 TB).
    */
  def decodeImageMeta(df: DataFrame): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("fmt", StringType),
      StructField("width", LongType),
      StructField("height", LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val contentIdx = df.schema.fieldIndex("content")
    df.mapPartitions { rows =>
      rows.map { r =>
        val (f, w, h) = ImageHeaders.parse(r.getAs[Array[Byte]](contentIdx))
        Row.fromSeq(r.toSeq ++ Seq(f, w.toLong, h.toLong))
      }
    }(enc)
  }

  /** Feature extraction over the binary column: mapPartitions with one
    * decoder per partition, preserving the input partitioning (no shuffle —
    * the blobs never move). Appends `features: array<float>`.
    */
  def extractFeatures(df: DataFrame, dim: Int,
                      decoder: () => MediaDecoder = () => new StubDecoder): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    val contentIdx = df.schema.fieldIndex("content")
    df.mapPartitions { rows =>
      val d = decoder()
      d.open()
      // Close exactly once at task completion — fires on success, early
      // termination (limit), AND task failure. Closing from the iterator's
      // exhaustion path would double-close on repeated hasNext and leak
      // the native handle whenever downstream stops consuming early.
      var closed = false
      def closeOnce(): Unit = if (!closed) { closed = true; d.close() }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](contentIdx)
        val feats = if (bytes == null) null else d.features(bytes, dim)
        Row.fromSeq(r.toSeq :+ (if (feats == null) null else feats.toSeq))
      }
    }(enc)
  }

  /** Frame sampling: one output row per sampled frame offset — declarative
    * explode over a deterministic offset sequence derived from metadata
    * (no decoder needed to *plan* frames; decode happens downstream on the
    * sampled subset only, which is the point at 100 TB).
    */
  def sampleFrames(df: DataFrame, everyMs: Long): DataFrame =
    df.withColumn("frame_ms",
        explode(sequence(lit(0L),
          greatest(col("meta.duration_ms") - 1, lit(0L)), lit(everyMs))))
      .filter(col("meta.duration_ms") > 0)

  /** Metadata-only filter — never touches the blob bytes; with parquet at
    * rest this prunes row groups on the small meta columns and the binary
    * column is not even read for dropped rows (columnar projection).
    */
  def filterByMeta(df: DataFrame, format: String, minWidth: Int): DataFrame =
    df.filter(col("meta.format") === format && col("meta.width") >= minWidth)

  /** Byte-level near-duplicate detection over an opaque binary media
    * column — the format-agnostic dedup pass a multimodal corpus runs
    * BEFORE any decode (re-uploaded/renamed copies and trivially
    * re-muxed files share most payload bytes; decoding 100 TB of media
    * to find them is the expensive way around). Each blob becomes a
    * stream of overlapping `gramBytes`-byte grams (hex-encoded,
    * byte-stride windows — a pure in-row projection), and the grams feed
    * the EXACT simhash + pigeonhole banding machinery text dedup uses
    * ([[LlmOps.simhashPairs]]): same portable md5-48 family, same
    * capped-bucket candidate join, same popcount verify — so the DuckDB
    * twin replays pairs and hamming distances digit-for-digit.
    *
    * Scale shape: the blob never shuffles — only the 48-bit sketch and
    * band values leave the scan; candidate generation is bounded by
    * `maxBucketSize` exactly as in the text path.
    */
  def mediaNearDup(df: DataFrame, idCol: String, binCol: String,
                   gramBytes: Int = 4, bits: Int = 48, bands: Int = 4,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = 1 << 20): DataFrame = {
    require(gramBytes >= 1, "gramBytes must be positive")
    val g = gramBytes * 2
    val hx = lower(hex(col(binCol)))
    val nGrams = (floor((length(hx) - lit(g)) / 2) + 1).cast("int")
    val gramText = when(nGrams <= 0, lit(""))
      .otherwise(array_join(
        transform(sequence(lit(1), nGrams),
          i => hx.substr((i - 1) * 2 + 1, lit(g))), " "))
    val grams = df.select(col(idCol), gramText.as("__grams"))
    LlmOps.simhashPairs(grams, idCol, "__grams", bits, bands,
      maxHamming, maxBucketSize)
  }
}
