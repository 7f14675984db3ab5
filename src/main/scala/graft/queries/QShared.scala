package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps
import graft.ops.{Ingest, LlmOps, Relational, Temporal}
import graft.pipeline.ZoomJobs

/** Shared fixtures/helpers for the per-domain query registries (split from
  * SparkEntry.scala — bodies verbatim). */
private[graft] object QShared {
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)


  /** Deterministic image-blob fixtures for the header-decode queries: one
    * valid PNG / JPEG(JFIF) / GIF header per document (format by
    * doc_id mod 3), dimensions derived from doc columns —
    * width = n_chars mod 300 + 16, height = doc_id mod 200 + 16. Built in
    * hex-string space (unhex at the end) so the DuckDB twin can rebuild
    * the identical blob with string concatenation and struct-unpack the
    * fixed offsets. The JPEG places SOF0 AFTER a real 16-byte APP0/JFIF
    * segment, so the Spark-side parser must actually scan markers.
    */
  private[graft] def synthImages(docs: DataFrame): DataFrame = {
    val w = (pmod(col("n_chars"), lit(300)) + 16).cast("int")
    val h = (pmod(col("doc_id"), lit(200)) + 16).cast("int")
    val w4 = lpad(hex(w), 8, "0")
    val h4 = lpad(hex(h), 8, "0")
    val w2 = lpad(hex(w), 4, "0")
    val h2 = lpad(hex(h), 4, "0")
    val hx = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("89504E470D0A1A0A0000000D49484452"), w4, h4, lit("0806000000")))
      .when(pmod(col("doc_id"), lit(3)) === 1,
        concat(lit("FFD8FFE000104A46494600010100000100010000FFC0001108"), h2, w2, lit("03")))
      .otherwise(
        concat(lit("474946383961"),
          substring(w2, 3, 2), substring(w2, 1, 2),
          substring(h2, 3, 2), substring(h2, 1, 2)))
    docs.select(col("doc_id").as("media_id"), unhex(hx).as("content"))
  }

  /** Little-endian hex of an int column (n bytes): byte-swapped lpad hex —
    * the RIFF/WAV encoding both engines replay with string ops.
    */
  private[graft] def leHex(c: Column, nBytes: Int): Column = {
    val padded = lpad(hex(c), nBytes * 2, "0")
    concat((nBytes - 1 to 0 by -1).map(i => substring(padded, i * 2 + 1, 2)): _*)
  }

  /** Deterministic WAV fixtures (audio leg of the header-decode family):
    * a real RIFF/WAVE chunk list — fmt, a junk LIST/INFO chunk the scanner
    * must skip, then data — with channels / sample rate / data size
    * derived from doc columns. All numerics little-endian per the spec.
    */
  private[graft] def synthAudio(docs: DataFrame): DataFrame = {
    val channels = (pmod(col("doc_id"), lit(2)) + 1).cast("int")       // 1..2
    val rate = ((pmod(col("doc_id"), lit(3)) + 1) * 8000).cast("int")  // 8/16/24 kHz
    val blockAlign = channels * 2
    val byteRate = rate * blockAlign
    val dataSize = ((pmod(col("n_chars"), lit(100)) + 1) * blockAlign).cast("int")
    val hx = concat(
      lit("52494646"), leHex(dataSize + 48, 4), lit("57415645"), // RIFF size WAVE
      lit("666D7420"), leHex(lit(16), 4),                        // 'fmt ' 16
      leHex(lit(1), 2), leHex(channels, 2), leHex(rate, 4),
      leHex(byteRate, 4), leHex(blockAlign, 2), leHex(lit(16), 2),
      lit("4C495354"), leHex(lit(4), 4), lit("494E464F"),        // junk LIST/INFO
      lit("64617461"), leHex(dataSize, 4))                       // 'data' size
    docs.select(col("doc_id").as("media_id"), unhex(hx).as("content"))
  }

  /** Deterministic MP4 (ISO-BMFF) fixtures (video leg): ftyp, a junk
    * `free` box the walker must skip, then moov>mvhd (version 0) with
    * timescale/duration from doc columns. All numerics big-endian.
    */
  private[graft] def synthVideo(docs: DataFrame): DataFrame = {
    val ts = ((pmod(col("doc_id"), lit(2)) + 1) * 600).cast("int")     // 600/1200
    val dur = ((pmod(col("n_chars"), lit(1000)) + 1) *
      (pmod(col("doc_id"), lit(5)) + 1)).cast("int")
    def be4(c: Column) = lpad(hex(c), 8, "0")
    val mvhdTail = "00010000" + "0100" + "0" * 20 + "0" * 72 + "0" * 48 + "00000002"
    val hx = concat(
      lit("0000001066747970" + "69736F6D" + "00000000"),   // ftyp isom
      lit("0000000866726565"),                             // junk 'free' box
      lit("000000746D6F6F76"),                             // moov (116)
      lit("0000006C6D766864" + "00000000" + "00000000" + "00000000"), // mvhd v0
      be4(ts), be4(dur), lit(mvhdTail))
    docs.select(col("doc_id").as("media_id"), unhex(hx).as("content"))
  }

  /** The LLM-data flagship curation DAG a training run ships — length
    * floor → repetition ceiling → exact dedup → near-dup cluster
    * survivors → decontamination vs the benchmark slice — each stage one
    * of the verified operators, composed. Shared by `curation_pipeline`
    * (the survivor table) and `export_manifest` (the packed-shard plan
    * over it).
    *
    * ONE shingle/signature pass (persisted) feeds repetition, near-dup
    * candidate generation AND decontamination — the corpus text is
    * md5-shingled exactly once. The repetition ratio derives from the
    * window count (greatest(nTokens-n,0)+1) and the distinct-hash set
    * size the MinHash plan already carries, so no second shingle pass.
    */
  /** Shared per-slate-run survivor artifact (r12, the coFulfillmentEdges
    * discipline): `curation_pipeline` and `export_manifest` both consume
    * the survivor table, and each used to re-run the whole DAG (~3.3 s
    * apiece at sf0.1). The store writes the consumed columns once per
    * (session, dir) — the minhash struct is internal to the build — and
    * every consumer reads the parquet table; values are identical to the
    * inline derivation (same DAG, one run). r13: served by
    * [[graft.ops.SlateStore.parquet]], the unified managed-table layer.
    */
  private[graft] def curationSurvivors(s: SparkSession, dir: String): DataFrame =
    graft.ops.SlateStore.parquet(s, s"curation_survivors|$dir",
        Some(graft.ops.SlateStore.corpusTag(s, s"$dir/documents.parquet")))(
      curationSurvivorsBuild(s, dir).select("doc_id", "lang", "n_chars"))

  private def curationSurvivorsBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    // repartition before the minhash projection (r17): the corpus is a
    // handful of parquet files locally (one file = one task), so the
    // CPU-heavy shingle+signature pass ran single-threaded — the same
    // spread-the-hashing discipline nearDupPairs documents
    val prepared = corpus.filter(length(col("text")) >= 100)
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        size(LlmOps.tokens(col("text"))).as("__ntok"),
        LlmOps.minhashPlan(col("text"), 3, 16).as("__mh"))
      .withColumn("__nsh", greatest(col("__ntok") - 3, lit(0)) + 1)
      .withColumn("__rep",
        lit(1.0) - size(col("__mh.sh")).cast("double") / col("__nsh").cast("double"))
      .localCheckpoint(true)
    val lowRep = prepared.filter(col("__rep") < 0.2)
    // Survivor persist carries only what downstream stages read (id,
    // output columns, the minhash struct) — the text and token counts
    // served their purpose in the repetition/exact-dedup stages, and at
    // corpus scale dropping them halves this cache's footprint.
    val afterExact = lowRep
      .join(LlmOps.dedupExactIds(lowRep, "doc_id", "text"), "doc_id")
      .select("doc_id", "lang", "n_chars", "__mh")
      .localCheckpoint(true)
    val pairs = LlmOps.nearDupPairsFromSets(
      afterExact.select(col("doc_id"),
        col("__mh.sh").as("__sh"), col("__mh.sig").as("__sig")),
      "doc_id", bands = 4, rowsPerBand = 4, threshold = 0.7, maxBucketSize = 10000)
    val afterNear = afterExact.join(
      graft.ops.Graph.dedupClusters(afterExact, pairs, "doc_id")
        .filter(col("keep")).select("doc_id"),
      "doc_id")
    val benchSet = bench.select(
        explode(LlmOps.minhashPlan(col("text"), 3, 16).getField("sh")).as("__bsh"))
      .distinct()
    afterNear.join(
      LlmOps.contaminationFromSets(
          afterNear.select(col("doc_id"), col("__mh.sh").as("__sh")), "doc_id", benchSet)
        .filter(col("containment") < 0.5).select("doc_id"),
      "doc_id")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
}
