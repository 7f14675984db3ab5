package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.ops.{Sink, SlateStore}
import graft.ops.SlateStore.Evolved

/** Round-15 (VERDICT r14 item 1): segment-append commits. A segmented
  * table's data lives in immutable `segs/__seg=<id>/` directories and a
  * committed version is a `_manifest` listing its segment set — the
  * Iceberg/Delta add-file shape on the existing pointer-commit protocol.
  * An append commits a DELTA-sized segment (write cost proportional to
  * the delta, not the corpus); a removal generation recommits one fresh
  * segment (compaction). Time travel, retention GC, partition pruning,
  * and the pinned-version session cache must all hold across the layout.
  */
class Round15SegmentSpec extends SparkTestBase {
  import spark.implicits._

  private def segDirs(table: String): Array[java.io.File] = {
    val segs = new java.io.File(table, "segs")
    if (!segs.exists()) Array.empty
    else segs.listFiles().filter(_.getName.startsWith("__seg="))
  }

  test("sink: append commits a delta segment; reads union the manifest; time travel serves exact generations") {
    val out = Files.createTempDirectory("segsink").toString + "/t"
    Sink.overwriteSegmented(Seq((1L, "a"), (2L, "a")).toDF("id", "g"), out,
      retain = 2, minAgeMs = 0L)
    Sink.appendSegment(Seq((3L, "b")).toDF("id", "g"), out,
      retain = 2, minAgeMs = 0L)
    Sink.appendSegment(Seq((4L, "b"), (5L, "c")).toDF("id", "g"), out,
      retain = 2, minAgeMs = 0L)
    // one immutable segment per commit; versions carry manifests only
    assert(segDirs(out).length == 3)
    val back = Sink.readSnapshot(spark, out)
    assert(back.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c")))
    assert(back.columns.toSeq == Seq("id", "g"), "no synthetic __seg leaks")
    // each retained manifest pins its exact segment set
    assert(Sink.readSnapshotAt(spark, out, 1).count() == 3)
    assert(Sink.readSnapshotAt(spark, out, 2).count() == 2)
    // the delta segment holds ONLY the delta — the write-cost claim
    val newest = segDirs(out).maxBy(_.lastModified())
    assert(spark.read.parquet(newest.toString).count() == 2)
  }

  test("sink: a rewrite compacts; GC reclaims segments no retained manifest references") {
    val out = Files.createTempDirectory("seggc").toString + "/t"
    Sink.overwriteSegmented(Seq(1).toDF("v"), out, retain = 0, minAgeMs = 0L)
    Sink.appendSegment(Seq(2).toDF("v"), out, retain = 0, minAgeMs = 0L)
    assert(segDirs(out).length == 2)
    // rewrite: retain=0 + minAge=0 GCs the superseded manifests, and with
    // them the only references to the first two segments
    Sink.overwriteSegmented(Seq(9).toDF("v"), out, retain = 0, minAgeMs = 0L)
    assert(segDirs(out).length == 1,
      s"unreferenced segments must be reclaimed, got ${segDirs(out).map(_.getName).toSeq}")
    assert(Sink.readSnapshot(spark, out).as[Int].collect().toSeq == Seq(9))
    // retention keeps referenced segments alive: append again, retain=1 —
    // the superseded manifest still references the rewrite's segment
    Sink.appendSegment(Seq(10).toDF("v"), out, retain = 1, minAgeMs = 0L)
    assert(segDirs(out).length == 2)
    assert(Sink.readSnapshotAt(spark, out, 1).as[Int].collect().toSeq == Seq(9))
  }

  test("sink: appendSegment onto a plain data snapshot fails fast") {
    val out = Files.createTempDirectory("segplain").toString + "/t"
    Sink.overwriteSnapshot(Seq(1).toDF("v"), out)
    val e = intercept[IllegalStateException] {
      Sink.appendSegment(Seq(2).toDF("v"), out, minAgeMs = 0L)
    }
    assert(e.getMessage.contains("plain data snapshot"))
    intercept[IllegalStateException] {
      Sink.appendSegment(Seq(2).toDF("v"),
        Files.createTempDirectory("segnone").toString + "/t")
    }
  }

  test("sink: partition pruning holds across segments") {
    val out = Files.createTempDirectory("segprune").toString + "/t"
    Sink.overwriteSegmented(Seq((1L, 0), (2L, 1)).toDF("id", "__cell"), out,
      retain = 1, minAgeMs = 0L, partitionColumns = Seq("__cell"))
    Sink.appendSegment(Seq((3L, 0), (4L, 2)).toDF("id", "__cell"), out,
      retain = 1, minAgeMs = 0L, partitionColumns = Seq("__cell"))
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val pruned = Sink.readSnapshot(spark, out).filter($"__cell" === 0)
      assert(pruned.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
      val scan = pruned.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }
      assert(scan.nonEmpty)
      // cell 0 lives in both segments: 2 (seg, cell) partitions selected,
      // out of 4 on disk — cells 1 and 2 never read
      val partsRead = scan.head.metrics.get("numPartitions").map(_.value)
      assert(partsRead.contains(2L), s"expected 2 pruned partitions, got $partsRead")
    }
  }

  test("store: an Append evolution writes only the delta; every generation stays pinned and time-travelable") {
    val key = s"r15_seg_${java.util.UUID.randomUUID().toString.take(8)}"
    def gen(tag: String)(ev: Option[org.apache.spark.sql.DataFrame] => Evolved) =
      SlateStore.parquetEvolvingSegmented(spark, key, Some(tag))(ev)
    val g1 = gen("t1") { prev =>
      assert(prev.isEmpty); Evolved.Rewrite(Seq(1L, 2L).toDF("v"))
    }
    assert(g1.as[Long].collect().toSet == Set(1L, 2L))
    val g2 = gen("t2") { prev =>
      assert(prev.isDefined && prev.get.as[Long].collect().toSet == Set(1L, 2L))
      Evolved.Append(Seq(3L).toDF("v"))
    }
    assert(g2.as[Long].collect().toSet == Set(1L, 2L, 3L))
    // generation 1's cached frame still serves ITS content (pinned paths)
    assert(g1.as[Long].collect().toSet == Set(1L, 2L))
    val tableDir = new java.io.File(
      SlateStore.sessionTempRoot(spark), SlateStore.tableName(key)).toString
    // the append's segment carries exactly the delta
    val segs = segDirs(tableDir)
    assert(segs.length == 2)
    assert(spark.read.parquet(segs.maxBy(_.lastModified()).toString).count() == 1)
    // time travel composes with appends
    assert(Sink.readSnapshotAt(spark, tableDir, 1).as[Long].collect().toSet
      == Set(1L, 2L))
    // carry-forward: no new version, no new segment
    val before = Sink.listVersions(spark, tableDir)
    val g3 = gen("t3")(_ => Evolved.CarryForward)
    assert(g3.as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(Sink.listVersions(spark, tableDir) == before)
    assert(segDirs(tableDir).length == 2)
    // a Rewrite generation compacts the history to one fresh segment
    gen("t4")(_ => Evolved.Rewrite(Seq(9L).toDF("v")))
    assert(gen("t4")(_ => sys.error("cached")).as[Long].collect().toSet == Set(9L))
  }

  test("store: appends auto-compact at the segment cap (spark.graft.store.maxSegments)") {
    // unbounded append histories mean unbounded scan paths: once the
    // live manifest reaches the cap, the next Append is promoted to a
    // full single-segment Rewrite — Iceberg's periodic
    // rewrite_data_files, folded into the commit that crossed the line
    val key = s"r15_compact_${java.util.UUID.randomUUID().toString.take(8)}"
    withSQLConf("spark.graft.store.maxSegments" -> "2") {
      def gen(tag: String, ev: Evolved) =
        SlateStore.parquetEvolvingSegmented(spark, key, Some(tag))(_ => ev)
      import spark.implicits._
      gen("t1", Evolved.Rewrite(Seq(1L).toDF("v")))
      gen("t2", Evolved.Append(Seq(2L).toDF("v")))
      val tableDir = new java.io.File(
        SlateStore.sessionTempRoot(spark), SlateStore.tableName(key)).toString
      def liveManifestSegs: Int = {
        val live = Sink.listVersions(spark, tableDir).head
        new String(java.nio.file.Files.readAllBytes(
          new java.io.File(new java.io.File(tableDir, live), "_manifest").toPath))
          .split("\n").count(_.trim.nonEmpty)
      }
      assert(liveManifestSegs == 2, "two appends under the cap stay segments")
      val g3 = gen("t3", Evolved.Append(Seq(3L).toDF("v")))
      assert(g3.as[Long].collect().toSet == Set(1L, 2L, 3L))
      assert(liveManifestSegs == 1,
        "the cap-crossing append must compact to one fresh segment")
      // the pre-compaction generation stays one time-travel step back
      assert(Sink.readSnapshotAt(spark, tableDir, 1)
        .as[Long].collect().toSet == Set(1L, 2L))
    }
  }

  test("store: a second session appends onto the committed artifact; a legacy plain table migrates via one rewrite") {
    val base = Files.createTempDirectory("r15_seg_base_").toString
    val key = s"r15_xseg_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set("spark.graft.store.dir", base)
    try {
      SlateStore.parquetEvolvingSegmented(spark, key, Some("t1"))(_ =>
        Evolved.Rewrite(Seq(1L).toDF("v")))
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.store.dir", base)
      val g2 = SlateStore.parquetEvolvingSegmented(s2, key, Some("t2")) { prev =>
        assert(prev.isDefined, "second session must see the committed generation")
        Evolved.Append(Seq(2L).toDF("v"))
      }
      assert(g2.as[Long].collect().toSet == Set(1L, 2L))
      assert(segDirs(new java.io.File(base, SlateStore.tableName(key)).toString)
        .length == 2)

      // legacy bridge: a table committed as a PLAIN data version (the
      // pre-segment layout) takes one full rewrite on its first Append
      val lKey = s"r15_legacy_${java.util.UUID.randomUUID().toString.take(8)}"
      SlateStore.parquet(spark, lKey, Some("t1"))(Seq(1L).toDF("v"))
      val s3 = spark.newSession()
      s3.conf.set("spark.graft.store.dir", base)
      val mig = SlateStore.parquetEvolvingSegmented(s3, lKey, Some("t2"))(_ =>
        Evolved.Append(Seq(2L).toDF("v")))
      assert(mig.as[Long].collect().toSet == Set(1L, 2L))
      assert(segDirs(new java.io.File(base, SlateStore.tableName(lKey)).toString)
        .length == 1, "migration commits the full content as one segment")
    } finally spark.conf.unset("spark.graft.store.dir")
  }

  test("evolving IVF: a pure append commits a delta-sized segment, bit-identical to full assignment, pruned probes intact") {
    import graft.functions.VectorOps
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val salt = java.util.UUID.randomUUID().toString.take(8)
    val key = s"spec_seg_ivf|$dir|$salt"
    val g1 = emb.filter($"vec_id" % 10 =!= 0)
    val (a1, c1) = VectorOps.ivfIndexEvolving(g1, "vec_id", "embedding",
      nCells = 8, storeKey = key, contentTag = Some("gen1"))
    assert(a1.count() == g1.count())
    // gen2 = pure append (gen1 rows untouched) → the postings commit must
    // be ONE new segment holding exactly the appended rows
    val (a2, c2) = VectorOps.ivfIndexEvolving(emb, "vec_id", "embedding",
      nCells = 8, storeKey = key, contentTag = Some("gen2"))
    assert(a2.count() == emb.count())
    val tableRoot = new java.io.File(SlateStore.sessionTempRoot(spark))
      .listFiles().filter(_.getName.startsWith("ivf_postings_inc"))
      .filter(_.getName.contains(salt))
      .ensuring(_.length == 1, "exactly one postings table for this key").head
    val segs = segDirs(tableRoot.toString)
    assert(segs.length == 2, s"append must add one segment, got ${segs.length}")
    val deltaRows = emb.count() - g1.count()
    assert(spark.read.parquet(segs.maxBy(_.lastModified()).toString).count()
      == deltaRows, "the new segment must hold exactly the delta")
    // exactness: evolved postings == full assignment under gen1's quantizer
    val fit = VectorOps.ivfFit(g1, "embedding", 8, 42L, 4096, 10)
    val want = emb.withColumn("__cell",
        VectorOps.nearestCell($"embedding".cast("array<double>"), fit))
      .select($"vec_id", $"__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = a2.select($"vec_id", $"__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want)
    // the probe path still prunes to probed cells across segments
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val qv = emb.filter($"vec_id" === 0).select($"embedding".as("__qv"))
      val topk = VectorOps.ivfTopK(a2, c2, "embedding", "vec_id", qv,
        k = 5, nProbe = 2)
      topk.collect()
      val scans = topk.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }
        .filter(_.metadata("Location").contains("ivf_postings_inc"))
      assert(scans.nonEmpty, s"no postings scan:\n${topk.queryExecution.executedPlan}")
      val partsRead = scans.head.metrics.get("numPartitions").map(_.value)
      // 8 cells × 2 segments on disk; 2 probed cells → at most 4 (seg,
      // cell) partitions may be read, and never the other 6 cells
      assert(partsRead.exists(_ <= 4L),
        s"probe must prune to the probed cells across segments, got $partsRead")
    }
  }

  test("evolving IVF: a removal generation commits a key-sized delete segment (merge-on-read), never a corpus rewrite") {
    import graft.functions.VectorOps
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val salt = java.util.UUID.randomUUID().toString.take(8)
    val key = s"spec_seg_ivf_rm|$dir|$salt"
    VectorOps.ivfIndexEvolving(emb.filter($"vec_id" % 10 =!= 0), "vec_id",
      "embedding", nCells = 8, storeKey = key, contentTag = Some("gen1"))
    // append a generation first so there is real history under the delete
    VectorOps.ivfIndexEvolving(emb, "vec_id", "embedding",
      nCells = 8, storeKey = key, contentTag = Some("gen2"))
    val (a3, _) = VectorOps.ivfIndexEvolving(emb.filter($"vec_id" =!= 10L),
      "vec_id", "embedding", nCells = 8, storeKey = key,
      contentTag = Some("gen3"))
    assert(a3.count() == emb.count() - 1)
    assert(!a3.select("vec_id").as[Long].collect().contains(10L))
    val tableRoot = new java.io.File(SlateStore.sessionTempRoot(spark))
      .listFiles().filter(_.getName.startsWith("ivf_postings_inc"))
      .filter(_.getName.contains(salt))
      .ensuring(_.length == 1, "exactly one postings table for this key").head
    // the removal generation's live manifest CARRIES the data history and
    // adds one delete entry — write cost is the key, not the corpus
    // (VERDICT r15 item 1; the r15 shape recommitted keep∪fresh here)
    val live = Sink.listVersions(spark, tableRoot.toString).head
    val manifest = new java.io.File(new java.io.File(tableRoot, live), "_manifest")
    assert(manifest.exists())
    val lines = new String(java.nio.file.Files.readAllBytes(manifest.toPath))
      .split("\n").map(_.trim).filter(_.nonEmpty)
    val deletes = lines.filter(_.startsWith("D\t"))
    assert(deletes.length == 1,
      s"a removal generation must commit one delete entry, manifest: ${lines.toSeq}")
    assert(lines.length == 3,
      s"gen1 + gen2 data segments must be carried, manifest: ${lines.toSeq}")
    // the delete segment holds exactly the removed key — nothing
    // corpus-sized was written
    val delSeg = deletes.head.split('\t')(1)
    val delDf = spark.read.parquet(
      new java.io.File(new java.io.File(tableRoot, "segs"), s"__seg=$delSeg").toString)
    assert(delDf.columns.toSeq == Seq("vec_id"))
    assert(delDf.as[Long].collect().toSeq == Seq(10L))
    // time travel still serves the pre-delete generation intact
    assert(Sink.readSnapshotAt(spark, tableRoot.toString, 1).count() == emb.count())
  }
}
