package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Sink

/** Sink layout: partition directories, in-file clustering, lossless
  * round-trip, dynamic-partition idempotence.
  */
class SinkSpec extends SparkTestBase {
  import spark.implicits._

  test("clustered write: partition dirs + sorted files + lossless round-trip") {
    val out = Files.createTempDirectory("sink").toString + "/lineitem"
    val src = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    Sink.writeClustered(src, out,
      partitionCols = Seq("l_returnflag"), sortCols = Seq("l_orderkey"))

    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("l_returnflag="))
    assert(dirs.toSet == Set("l_returnflag=A", "l_returnflag=N", "l_returnflag=R"))

    val back = spark.read.parquet(out)
    assert(back.count() == src.count())
    // partition pruning: reading one flag touches only its directory
    val pruned = back.filter($"l_returnflag" === "A")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains("l_returnflag=N"), "pruning failed")

    // clustering: rows inside each file are sorted by l_orderkey
    import org.apache.spark.sql.expressions.Window
    val misordered = spark.read.parquet(out)
      .withColumn("__file", input_file_name())
      .withColumn("__prev", lag($"l_orderkey", 1).over(
        Window.partitionBy($"__file").orderBy(monotonically_increasing_id())))
      .filter($"__prev" > $"l_orderkey")
    assert(misordered.count() == 0)
  }

  test("jsonl export: sharded dirs, gzip files, round-trips through a json reader") {
    val out = Files.createTempDirectory("sinkjsonl").toString + "/export"
    val docs = Seq(
      (1L, "shard0", "hello \"world\""), // quote forces JSON escaping
      (2L, "shard0", "zweite zeile"),
      (3L, "shard1", "other shard"))
      .toDF("doc_id", "shard", "text")
    Sink.writeJsonl(docs, out, "shard")
    // layout: one directory per shard, files gzip-compressed
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("shard=shard0", "shard=shard1"))
    val gz = new java.io.File(out + "/shard=shard0").listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(gz.nonEmpty, "shard files must be gzip jsonl")
    // round trip: schema and values survive, including escaped quotes
    val back = spark.read.json(out).select("doc_id", "shard", "text")
      .as[(Long, String, String)].collect().toSet
    assert(back == Set((1L, "shard0", "hello \"world\""),
      (2L, "shard0", "zweite zeile"), (3L, "shard1", "other shard")))
  }

  test("dynamic partition overwrite rewrites only the written partition") {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val out = Files.createTempDirectory("sinkdyn").toString + "/t"
    val v1 = Seq(("a", 1), ("b", 2)).toDF("part", "v")
    Sink.writeClustered(v1, out, Seq("part"), Seq("v"))
    val v2 = Seq(("a", 99)).toDF("part", "v") // only partition a rewritten
    Sink.writeClustered(v2, out, Seq("part"), Seq("v"))
    val back = spark.read.parquet(out).as[(Int, String)].collect().toSet
    assert(back == Set((99, "a"), (2, "b")))
  }

  test("overwriteSnapshot: pointer commit, version layout, retention GC") {
    val out = Files.createTempDirectory("snap").toString + "/t"
    Sink.overwriteSnapshot(Seq(1, 2, 3).toDF("v"), out)
    assert(Sink.readSnapshot(spark, out).as[Int].collect().toSet == Set(1, 2, 3))
    Sink.overwriteSnapshot(Seq(4, 5).toDF("v"), out)
    assert(Sink.readSnapshot(spark, out).as[Int].collect().toSet == Set(4, 5))
    // layout: _current pointer + retained snapshot dirs (new + 1 previous)
    val names = new java.io.File(out).listFiles().map(_.getName)
    assert(names.contains("_current"))
    assert(names.count(_.startsWith("v-")) == 2, "retain=1 keeps new + previous")
    // third commit GCs the first version (minAgeMs=0: eager reclamation —
    // no concurrent readers in this test; the default 10-min grace is the
    // concurrent-reader guarantee exercised by the next test)
    Sink.overwriteSnapshot(Seq(6).toDF("v"), out, retain = 1, minAgeMs = 0L)
    val after = new java.io.File(out).listFiles().map(_.getName)
    assert(after.count(_.startsWith("v-")) == 2)
    assert(Sink.readSnapshot(spark, out).as[Int].collect().toSet == Set(6))
  }

  test("time travel: listVersions order, readSnapshotAt parity, retention interplay") {
    val out = Files.createTempDirectory("tt").toString + "/t"
    // no inter-commit sleeps: history order is the marker SEQUENCE, not
    // mtime, so back-to-back same-millisecond commits order correctly
    Sink.overwriteSnapshot(Seq(1, 2).toDF("v"), out, retain = 2, minAgeMs = 0L)
    Sink.overwriteSnapshot(Seq(3).toDF("v"), out, retain = 2, minAgeMs = 0L)
    Sink.overwriteSnapshot(Seq(4, 5, 6).toDF("v"), out, retain = 2, minAgeMs = 0L)
    assert(Sink.listVersions(spark, out).size == 3)
    assert(Sink.readSnapshotAt(spark, out, 0).as[Int].collect().toSet == Set(4, 5, 6))
    assert(Sink.readSnapshotAt(spark, out, 1).as[Int].collect().toSet == Set(3))
    assert(Sink.readSnapshotAt(spark, out, 2).as[Int].collect().toSet == Set(1, 2))
    // 0 back IS the live table readSnapshot serves
    assert(Sink.readSnapshot(spark, out).as[Int].collect().toSet ==
      Sink.readSnapshotAt(spark, out, 0).as[Int].collect().toSet)
    // beyond history: a clear miss, never a partial read
    intercept[java.io.FileNotFoundException] {
      Sink.readSnapshotAt(spark, out, 3)
    }
    // a retain=1 commit GCs the oldest; one step back still serves
    Sink.overwriteSnapshot(Seq(7).toDF("v"), out, retain = 1, minAgeMs = 0L)
    assert(Sink.listVersions(spark, out).size == 2)
    assert(Sink.readSnapshotAt(spark, out, 1).as[Int].collect().toSet == Set(4, 5, 6))
    intercept[java.io.FileNotFoundException] {
      Sink.readSnapshotAt(spark, out, 2)
    }
  }

  test("time travel: an in-flight or crashed writer's dir never occupies a history slot") {
    val out = Files.createTempDirectory("tt_orphan").toString + "/t"
    Sink.overwriteSnapshot(Seq(1).toDF("v"), out, retain = 2, minAgeMs = 0L)
    Sink.overwriteSnapshot(Seq(2).toDF("v"), out, retain = 2, minAgeMs = 0L)
    // an uncommitted v-* dir (no pointer, no supersession marker) is an
    // in-flight or crashed writer — listing it would serve a partial
    // snapshot as "one back" and shift the real history down a slot
    val orphan = new java.io.File(out, "v-orphan-inflight")
    assert(orphan.mkdirs())
    val vs = Sink.listVersions(spark, out)
    assert(vs.size == 2 && !vs.contains("v-orphan-inflight"), vs.toString)
    assert(Sink.readSnapshotAt(spark, out, 1).as[Int].collect().toSet == Set(1))
    // nor does it consume a retention slot: the next retain=1 commit must
    // keep the genuinely committed previous version (and reclaim the
    // orphan via the time floor), not evict the version readSnapshotAt
    // promises one step back (review fix)
    Sink.overwriteSnapshot(Seq(3).toDF("v"), out, retain = 1, minAgeMs = 0L)
    assert(Sink.readSnapshotAt(spark, out, 1).as[Int].collect().toSet == Set(2))
    assert(!new java.io.File(out, "v-orphan-inflight").exists(),
      "minAgeMs-expired orphan should be reclaimed")
  }

  test("history order survives tied marker mtimes (commit sequence, not the clock)") {
    // ADVICE r14 (medium): two commits inside the filesystem's timestamp
    // granularity tie on marker mtime; ordering by mtime alone could then
    // serve the WRONG generation from readSnapshotAt and evict the newer
    // superseded version. Force the worst case — every marker stamped the
    // SAME mtime — and require the seq-stamped order to hold regardless.
    val out = Files.createTempDirectory("ttseq").toString + "/t"
    (1 to 4).foreach(i =>
      Sink.overwriteSnapshot(Seq.fill(i)(i).toDF("v"), out, retain = 3, minAgeMs = 0L))
    val markers = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("_superseded-"))
    assert(markers.length == 3)
    val tied = System.currentTimeMillis() - 60000
    markers.foreach(m => assert(m.setLastModified(tied)))
    assert(Sink.listVersions(spark, out).size == 4)
    (0 to 3).foreach { back =>
      val want = 4 - back
      assert(Sink.readSnapshotAt(spark, out, back).count() == want,
        s"$back back must serve the generation with $want rows")
    }
    // retention under tied mtimes: the next retain=1 commit must keep the
    // newest superseded version (seq order), not an mtime-arbitrary one
    Sink.overwriteSnapshot(Seq.fill(5)(5).toDF("v"), out, retain = 1, minAgeMs = 0L)
    assert(Sink.readSnapshotAt(spark, out, 1).count() == 4)
    // legacy empty markers (pre-seq format) still order below stamped
    // ones and the table stays readable
    Files.write(new java.io.File(out, "_superseded-v-legacy").toPath,
      Array.emptyByteArray)
    assert(new java.io.File(out, "v-legacy").mkdirs())
    val vs = Sink.listVersions(spark, out)
    assert(vs.last == "v-legacy", vs.toString)
    assert(Sink.readSnapshotAt(spark, out, 0).count() == 5)
  }

  test("snapshot_rollback_diff matches the direct two-state computation and is invocation-stable") {
    val dir = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("snapshot_rollback_diff")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val got = run()
    val orders = Tables.load(spark, dir, "orders")
    val cutoff = lit("1995-01-01 00:00:00").cast("timestamp")
    val live = orders.groupBy("o_orderstatus").agg(count(lit(1)).as("n_live"))
    val prev = orders.filter(col("o_orderdate") < cutoff)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n_prev"))
    val want = live.join(prev, Seq("o_orderstatus"), "left")
      .select(col("o_orderstatus"), col("n_live"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        (col("n_live") - coalesce(col("n_prev"), lit(0L))).as("n_added"))
      .orderBy("o_orderstatus")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == want)
    // the scalar memo serves the SAME published table on repeat invocation
    assert(run() == got)
  }

  test("overwriteSnapshot: a concurrent reader never observes a missing or partial table") {
    // the exact drop-then-load window the reference exposes
    // (/root/reference/main.py:44-46): readers hammer the table while the
    // writer replaces it repeatedly; every read must return one COMPLETE
    // committed snapshot — correct count and a sum consistent with that
    // same snapshot, never an empty/partial directory, never an exception
    val out = Files.createTempDirectory("snapconc").toString + "/t"
    // snapshot i = i copies of value i => (count, sum) uniquely identifies
    // a complete snapshot; a torn read breaks the count->sum relation
    def snapshot(i: Int) = Seq.fill(i)(i).toDF("v")
    Sink.overwriteSnapshot(snapshot(1), out)

    @volatile var failure: Option[String] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        try {
          val rows = Sink.readSnapshot(spark, out)
            .agg(count($"v").as("n"), sum($"v").as("s"))
            .as[(Long, Option[Long])].collect()(0)
          val (n, s) = rows
          if (n == 0 || s != Some(n * n))
            failure = Some(s"torn read: count=$n sum=$s")
        } catch {
          case e: Throwable => failure = Some(s"reader threw: $e")
        }
      }
    })
    reader.start()
    try {
      (2 to 8).foreach { i =>
        Sink.overwriteSnapshot(snapshot(i), out)
        if (failure.nonEmpty) fail(failure.get)
      }
    } finally { stop = true; reader.join(30000) }
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(Sink.readSnapshot(spark, out).count() == 8)
  }

  test("recommit: a DataFrame read before it keeps its pinned version; listVersions' head moves") {
    val out = Files.createTempDirectory("pin").toString + "/t"
    Sink.overwriteSnapshot(Seq("gen1").toDF("doc"), out, retain = 2, minAgeMs = 0L)
    val pin = Sink.listVersions(spark, out).head
    // the file listing is fixed when the DataFrame is created
    val pinned = Sink.readSnapshot(spark, out)
    assert(Sink.listVersions(spark, out).head == pin, "no recommit yet")
    Sink.overwriteSnapshot(Seq("gen2").toDF("doc"), out, retain = 2, minAgeMs = 0L)
    val live = Sink.listVersions(spark, out)
    assert(live.head != pin && live.contains(pin),
      "the head moves to the new commit; retain=2 keeps the pinned version")
    assert(pinned.as[String].collect().toSeq == Seq("gen1"))
    assert(Sink.readSnapshot(spark, out).as[String].collect().toSeq == Seq("gen2"))
  }
}
