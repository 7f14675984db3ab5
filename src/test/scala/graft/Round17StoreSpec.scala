package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Sink, SlateStore}
import graft.ops.SlateStore.Evolved

/** Round-17 store layer (VERDICT r16 items 1–3, 5–6 + ADVICE r16):
  * plan-derived segment pruning (manifest data skipping from the query's
  * own filters, all entry points including the snapshot_at SQL TVF),
  * delete-key bounds on delete segments (provably-non-matching
  * anti-joins dropped from the plan), minor compaction at the segment
  * cap (tail fold, bulk segments untouched), the manifest-derived
  * changefeed with its replay contract, `_schema`-sidecar delete-key
  * validation, the post-commit cap accounting, NonFatal staging cleanup,
  * and the configurable commit-lock staleness.
  */
class Round17StoreSpec extends SparkTestBase {
  import spark.implicits._

  private def segDirs(table: String): Array[java.io.File] = {
    val segs = new java.io.File(table, "segs")
    if (!segs.exists()) Array.empty
    else Option(segs.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("__seg="))
  }

  private def manifestLines(table: String): Seq[String] = {
    val live = Sink.listVersions(spark, table).head
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(new java.io.File(table, live), "_manifest").toPath))
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def parquetFiles(dir: java.io.File): Int =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .map(f => if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) 1 else 0).sum

  /** Files the physical scan actually planned — the number plan-derived
    * pruning shrinks. Metrics populate only after executing THE SAME
    * DataFrame, and the plan walk needs AQE off (AdaptiveSparkPlanExec
    * is a collect leaf), so callers run inside withSQLConf. */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.sum
  }

  private def noAqe[T](body: => T): T =
    withSQLConf("spark.sql.adaptive.enabled" -> "false")(body)

  /** The three-segment year table most pruning checks read: ids carry
    * the year in the thousands digit so content checks are exact. */
  private def yearTable(): String = {
    val out = Files.createTempDirectory("prune17").toString + "/t"
    def rows(y: Int) = (1 to 20).map(i => (y * 1000L + i, y.toLong, s"g${i % 3}"))
    Sink.overwriteSegmented(rows(1).toDF("id", "yr", "g"),
      out, retain = 1, minAgeMs = 600000L, statsCols = Seq("id", "yr", "g"))
    Sink.appendSegment(rows(2).toDF("id", "yr", "g"),
      out, retain = 1, minAgeMs = 600000L, statsCols = Seq("id", "yr", "g"))
    Sink.appendSegment(rows(3).toDF("id", "yr", "g"),
      out, retain = 1, minAgeMs = 600000L, statsCols = Seq("id", "yr", "g"))
    out
  }

  // ------------------------------------------- plan-derived segment pruning

  test("pruning: a plain readSnapshot().filter() scans only the segments whose bounds overlap — no hand-passed bounds") {
    val out = yearTable()
    noAqe {
      val perSeg = segDirs(out).map(parquetFiles).sum / 3
      val all = scannedFiles(Sink.readSnapshot(spark, out))
      assert(all == segDirs(out).map(parquetFiles).sum, "unfiltered scan lists everything")
      // equality on the stats column → 1 of 3 segments
      val eq = Sink.readSnapshot(spark, out).filter(col("yr") === 2L)
      assert(scannedFiles(eq) == perSeg, "yr = 2 must plan exactly one segment's files")
      assert(eq.select("id").as[Long].collect().sorted.toSeq ==
        (1 to 20).map(2000L + _))
      // range across two segments → 2 of 3
      val rng = Sink.readSnapshot(spark, out).filter(col("yr") >= 2L)
      assert(scannedFiles(rng) == 2 * perSeg)
      // range on the SECOND stats column (multi-column bounds)
      val onId = Sink.readSnapshot(spark, out)
        .filter(col("id").between(3001L, 3005L))
      assert(scannedFiles(onId) == perSeg)
      assert(onId.count() == 5)
      // IN-list
      val inl = Sink.readSnapshot(spark, out).filter(col("yr").isin(1L))
      assert(scannedFiles(inl) == perSeg)
      // conjunction where each conjunct excludes a different segment
      val conj = Sink.readSnapshot(spark, out)
        .filter(col("yr") >= 2L && col("id") <= 2020L)
      assert(scannedFiles(conj) == perSeg)
      assert(conj.count() == 20)
    }
  }

  test("pruning: conservative keeps — no-stats columns, disjunctions that span, and non-literal shapes never skip wrongly") {
    val out = Files.createTempDirectory("prune17c").toString + "/t"
    // stats recorded on yr only — g carries none
    Sink.overwriteSegmented(Seq((1L, 1L, "a")).toDF("id", "yr", "g"),
      out, retain = 1, minAgeMs = 600000L, statsCols = Seq("yr"))
    Sink.appendSegment(Seq((2L, 2L, "b")).toDF("id", "yr", "g"),
      out, retain = 1, minAgeMs = 600000L, statsCols = Seq("yr"))
    noAqe {
      val total = segDirs(out).map(parquetFiles).sum
      // filter on a column without bounds: nothing skipped
      assert(scannedFiles(Sink.readSnapshot(spark, out)
        .filter(col("g") === "b")) == total)
      // OR spanning both segments: nothing skipped, result exact
      val both = Sink.readSnapshot(spark, out)
        .filter(col("yr") === 1L || col("yr") === 2L)
      assert(scannedFiles(both) == total)
      assert(both.count() == 2)
      // OR where BOTH branches exclude a segment: that segment skipped
      val none = Sink.readSnapshot(spark, out)
        .filter(col("yr") === 5L || col("yr") === 6L)
      assert(scannedFiles(none) == 0L)
      assert(none.count() == 0)
    }
  }

  test("pruning: float bounds compare in the stats' own rendering — >= max-exactly keeps, strictly-above prunes") {
    val out = Files.createTempDirectory("prune17f").toString + "/t"
    Sink.overwriteSegmented(Seq((1L, 0.05f), (2L, 0.1f)).toDF("id", "x"),
      out, retain = 1, minAgeMs = 600000L, statsCols = Seq("x"))
    Sink.appendSegment(Seq((3L, 5.0f)).toDF("id", "x"),
      out, retain = 1, minAgeMs = 600000L, statsCols = Seq("x"))
    noAqe {
      val total = segDirs(out).map(parquetFiles).sum
      // a float→double widening of the comparand (0.1f → 0.100000001…)
      // would read the first segment's max "0.1" as strictly below the
      // predicate and wrongly skip the x == 0.1f row
      val ge = Sink.readSnapshot(spark, out).filter(col("x") >= 0.1f)
      assert(scannedFiles(ge) == total,
        "max == comparand must keep the segment")
      assert(ge.select("id").as[Long].collect().toSet == Set(2L, 3L))
      // strictly above every bound still prunes everything
      assert(scannedFiles(Sink.readSnapshot(spark, out)
        .filter(col("x") > 5.0f)) == 0L)
    }
  }

  test("pruning: timestamp, date, and string bounds prune under their own renderings") {
    val out = Files.createTempDirectory("prune17t").toString + "/t"
    def seg(year: Int, tag: String) =
      (1 to 10).map(i => (year * 100L + i,
        java.sql.Timestamp.valueOf(f"$year-03-0${i % 9 + 1} 10:2$i%01d:00"),
        java.sql.Date.valueOf(f"$year-06-1${i % 9}"), s"$tag$i"))
        .toDF("id", "ts", "d", "name")
    Sink.overwriteSegmented(seg(1995, "a"), out, retain = 1,
      minAgeMs = 600000L, statsCols = Seq("ts", "d", "name"))
    Sink.appendSegment(seg(1997, "m"), out, retain = 1,
      minAgeMs = 600000L, statsCols = Seq("ts", "d", "name"))
    Sink.appendSegment(seg(1999, "z"), out, retain = 1,
      minAgeMs = 600000L, statsCols = Seq("ts", "d", "name"))
    noAqe {
      val total = segDirs(out).map(parquetFiles).sum
      val perSeg = total / 3
      // timestamp range: the literal renders through the same fixed-width
      // UTC form the stats writer used
      val ts = Sink.readSnapshot(spark, out)
        .filter(col("ts") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("ts") < lit("1998-01-01 00:00:00").cast("timestamp"))
      assert(scannedFiles(ts) == perSeg, "one ts-year overlaps")
      assert(ts.count() == 10)
      // date equality-range
      val dt = Sink.readSnapshot(spark, out)
        .filter(col("d") >= lit("1999-01-01").cast("date"))
      assert(scannedFiles(dt) == perSeg)
      assert(dt.count() == 10)
      // string range in UTF-8 byte order ("m..." segment alone)
      val nm = Sink.readSnapshot(spark, out)
        .filter(col("name") >= "m" && col("name") < "n")
      assert(scannedFiles(nm) == perSeg)
      assert(nm.count() == 10)
      // a timestamp below every bound prunes everything
      assert(scannedFiles(Sink.readSnapshot(spark, out)
        .filter(col("ts") < lit("1990-01-01 00:00:00").cast("timestamp"))) == 0L)
    }
  }

  test("pruning: the snapshot_at SQL TVF and time travel prune from raw SQL predicates") {
    val out = yearTable()
    // a fourth commit so steps_back=1 serves the three-segment state
    Sink.appendSegment(Seq((9001L, 9L, "gx")).toDF("id", "yr", "g"),
      out, retain = 2, minAgeMs = 600000L, statsCols = Seq("id", "yr", "g"))
    noAqe {
      // expected = the surviving segment's own file count (segments are
      // not uniform — the fourth holds one row)
      def filesOfEntry(i: Int): Int = {
        val id = manifestLines(out)(i).split('\t')(0).stripPrefix("D\t")
        parquetFiles(new java.io.File(new java.io.File(out, "segs"), s"__seg=$id"))
      }
      val viaSql = spark.sql(
        s"SELECT id FROM snapshot_at('$out', 0) WHERE yr = 3")
      assert(scannedFiles(viaSql) == filesOfEntry(2),
        "the TVF expansion must carry the pruning file index")
      assert(viaSql.as[Long].collect().sorted.toSeq == (1 to 20).map(3000L + _))
      // readSnapshotAt (the DataFrame face of the same entry point)
      val back = Sink.readSnapshotAt(spark, out, 1).filter(col("yr") === 1L)
      assert(scannedFiles(back) == filesOfEntry(0))
      assert(back.count() == 20)
    }
  }

  test("pruning: delete segments still apply inside a pruned read") {
    val out = yearTable()
    Sink.patchSegmented(out, Some(Seq(2003L, 2004L).toDF("id")), None,
      retain = 1, minAgeMs = 600000L)
    noAqe {
      val got = Sink.readSnapshot(spark, out).filter(col("yr") === 2L)
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == (1 to 20).map(2000L + _).filterNot(Set(2003L, 2004L)))
    }
  }

  // ----------------------------------------------------- delete-key bounds

  test("delete bounds: a provably-non-matching delete adds ZERO anti-joins to the plan; overlapping and null-keyed deletes keep theirs") {
    val out = yearTable()
    def antiJoins(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }.size
    // keys 9001-9005 are outside every data segment's id bounds
    Sink.patchSegmented(out, Some((9001L to 9005L).toDF("id")), None,
      retain = 1, minAgeMs = 600000L)
    assert(antiJoins(Sink.readSnapshot(spark, out)) == 0,
      "disjoint key bounds must drop the anti-join entirely")
    assert(Sink.readSnapshot(spark, out).count() == 60)
    // an overlapping delete keeps its join and removes the row
    Sink.patchSegmented(out, Some(Seq(1001L).toDF("id")), None,
      retain = 1, minAgeMs = 600000L)
    assert(antiJoins(Sink.readSnapshot(spark, out)) == 1)
    assert(Sink.readSnapshot(spark, out).count() == 59)
    // a null-keyed delete records no bounds for the column (a null key
    // matches null rows no range describes) — join stays, content right
    val out2 = Files.createTempDirectory("delnull17").toString + "/t"
    Sink.overwriteSegmented(
      Seq((Option(1L), "a"), (Option.empty[Long], "b")).toDF("id", "g"),
      out2, retain = 1, minAgeMs = 600000L, statsCols = Seq("id"))
    Sink.patchSegmented(out2,
      Some(Seq(Option.empty[Long], Option(7L)).toDF("id")), None,
      retain = 1, minAgeMs = 600000L)
    assert(antiJoins(Sink.readSnapshot(spark, out2)) == 1,
      "a delete with null keys must never be range-skipped")
    assert(Sink.readSnapshot(spark, out2).as[(Option[Long], String)]
      .collect().toSet == Set((Option(1L), "a")))
  }

  // ------------------------------------------------------- minor compaction

  test("sink: minorCompact folds the tail under budget — bulk segment untouched, deletes combined, content and history intact") {
    val out = Files.createTempDirectory("minor17").toString + "/t"
    Sink.overwriteSegmented((1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"),
      out, retain = 3, minAgeMs = 0L, statsCols = Seq("id"))
    val bulkId = manifestLines(out).head.split('\t')(0)
    Sink.appendSegment((2001L to 2010L).map(i => (i, s"v$i")).toDF("id", "v"),
      out, retain = 3, minAgeMs = 0L, statsCols = Seq("id"))
    Sink.patchSegmented(out, Some(Seq(5L).toDF("id")), None,
      retain = 3, minAgeMs = 0L)
    Sink.patchSegmented(out, Some(Seq(2005L).toDF("id")), None,
      retain = 3, minAgeMs = 0L)
    val before = Sink.readSnapshot(spark, out).as[(Long, String)].collect().toSet
    assert(manifestLines(out).size == 4)
    // budget below the bulk segment's bytes but above the tail's
    val bulkBytes = {
      def du(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
      du(new java.io.File(new java.io.File(out, "segs"), s"__seg=$bulkId"))
    }
    val v = Sink.minorCompact(spark, out, budgetBytes = bulkBytes - 1,
      retain = 3, minAgeMs = 0L, statsCols = Seq("id"))
    assert(v.isDefined, "a 3-entry tail under budget must fold")
    val after = manifestLines(out)
    assert(after.size == 3, s"manifest after fold: $after")
    assert(after.head.split('\t')(0) == bulkId,
      "the over-budget bulk segment must survive the fold untouched")
    assert(after.count(_.startsWith("D\t")) == 1,
      "the two tail deletes must combine into one delete segment")
    // combined delete carries exactly the union of keys
    val dSeg = after.find(_.startsWith("D\t")).get.split('\t')(1)
    assert(spark.read.parquet(new java.io.File(
        new java.io.File(out, "segs"), s"__seg=$dSeg").toString)
      .as[Long].collect().toSet == Set(5L, 2005L))
    // content is IDENTICAL, the folded data segment carries bounds, and
    // the displaced (pre-fold) version still time-travels
    assert(Sink.readSnapshot(spark, out).as[(Long, String)].collect().toSet == before)
    assert(!after.last.startsWith("D\t") && after.last.contains("\t"),
      s"folded segment must carry recomputed stats: ${after.last}")
    assert(Sink.readSnapshotAt(spark, out, 1).as[(Long, String)]
      .collect().toSet == before)
  }

  test("store: crossing maxSegments now MINOR-compacts (tail fold) instead of rewriting the corpus — and the cap holds post-commit") {
    val storeDir = Files.createTempDirectory("minorstore17").toString
    withSQLConf(
      "spark.graft.store.dir" -> storeDir,
      "spark.graft.store.maxSegments" -> "4",
      "spark.graft.store.minRetainAgeMs" -> "0") {
      val key = s"minor17_${System.nanoTime()}"
      def commit(tag: String)(ev: Option[DataFrame] => Evolved): DataFrame =
        SlateStore.parquetEvolvingSegmented(spark, key, Some(tag),
          statsBy = Seq("id"))(ev)
      commit("g1")(_ => Evolved.Rewrite(
        (1L to 500L).map(i => (i, "base")).toDF("id", "src")))
      commit("g2")(p => Evolved.Append(
        Seq((1001L, "d1")).toDF("id", "src").exceptAll(p.get.limit(0))))
      commit("g3")(p => Evolved.Append(
        Seq((1002L, "d2")).toDF("id", "src").exceptAll(p.get.limit(0))))
      commit("g4")(p => Evolved.Append(
        Seq((1003L, "d3")).toDF("id", "src").exceptAll(p.get.limit(0))))
      val table = new java.io.File(storeDir).listFiles()
        .find(_.getName.startsWith("minor17_")).get.toString
      assert(manifestLines(table).size == 4)
      val bulkId = manifestLines(table).head.split('\t')(0)
      val bulkBytes = {
        def du(f: java.io.File): Long =
          if (f.isFile) f.length()
          else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
        du(new java.io.File(new java.io.File(table, "segs"), s"__seg=$bulkId"))
      }
      withSQLConf(
        "spark.graft.store.minorCompactMaxBytes" -> (bulkBytes - 1).toString) {
        val got = commit("g5")(p => Evolved.Append(
          Seq((1004L, "d4")).toDF("id", "src").exceptAll(p.get.limit(0))))
        val lines = manifestLines(table)
        assert(lines.size <= 4, s"cap must hold post-commit: $lines")
        assert(lines.head.split('\t')(0) == bulkId,
          "minor compaction must leave the bulk segment alone — the r16 " +
            s"behavior rewrote the corpus: $lines")
        assert(got.as[(Long, String)].collect().toSet ==
          ((1L to 500L).map((_, "base")) ++
            (1L to 4L).map(i => (1000L + i, s"d$i"))).toSet)
      }
    }
  }

  test("store: cap accounting is post-commit — a two-entry Patch can no longer overshoot maxSegments by one") {
    val storeDir = Files.createTempDirectory("cap17").toString
    withSQLConf(
      "spark.graft.store.dir" -> storeDir,
      "spark.graft.store.maxSegments" -> "3",
      "spark.graft.store.minRetainAgeMs" -> "0") {
      val key = s"cap17_${System.nanoTime()}"
      def commit(tag: String)(ev: Option[DataFrame] => Evolved): DataFrame =
        SlateStore.parquetEvolvingSegmented(spark, key, Some(tag))(ev)
      commit("g1")(_ => Evolved.Rewrite(
        (1L to 50L).map(i => (i, "base")).toDF("id", "src")))
      // 1 + 2 = 3 <= 3: commits as delete + data, no promotion
      commit("g2")(p => Evolved.Patch(
        p.get.filter(col("id") === 7L).select("id"),
        Some(Seq((1001L, "d")).toDF("id", "src").exceptAll(p.get.limit(0)))))
      val table = new java.io.File(storeDir).listFiles()
        .find(_.getName.startsWith("cap17_")).get.toString
      assert(manifestLines(table).size == 3)
      // 3 + 2 > 3: the r16 check (pre-commit >= cap) would have published
      // FOUR entries; post-commit accounting folds first
      val got = commit("g3")(p => Evolved.Patch(
        p.get.filter(col("id") === 8L).select("id"),
        Some(Seq((1002L, "e")).toDF("id", "src").exceptAll(p.get.limit(0)))))
      assert(manifestLines(table).size <= 3,
        s"cap overshoot: ${manifestLines(table)}")
      assert(got.filter(col("id").isin(7L, 8L)).count() == 0)
      assert(got.count() == 50L)
    }
  }

  // ------------------------------------------------------------- changefeed

  test("sink: readChangesSince replays append/patch commits from the manifests, and replay reproduces the live snapshot") {
    val out = Files.createTempDirectory("cdf17").toString + "/t"
    Sink.overwriteSegmented((1L to 6L).map(i => (i, s"g$i")).toDF("id", "g"),
      out, retain = 3, minAgeMs = 0L)
    Sink.appendSegment(Seq((7L, "g7"), (8L, "g8")).toDF("id", "g"),
      out, retain = 3, minAgeMs = 0L)
    Sink.patchSegmented(out, Some(Seq(2L).toDF("id")),
      Some(Seq((9L, "g9")).toDF("id", "g")), retain = 3, minAgeMs = 0L)
    val feed = Sink.readChangesSince(spark, out, 2)
      .select("id", "g", "_change_type", "_commit_step")
      .as[(Long, Option[String], String, Int)].collect().toSet
    assert(feed == Set(
      (7L, Some("g7"), "insert", 1), (8L, Some("g8"), "insert", 1),
      (2L, None, "delete", 2), (9L, Some("g9"), "insert", 2)))
    // REPLAY CONTRACT: base(2 back) + per-step deletes-then-inserts = live
    var state = Sink.readSnapshotAt(spark, out, 2)
    val cdf = Sink.readChangesSince(spark, out, 2)
    (1 to 2).foreach { step =>
      val inStep = cdf.filter(col("_commit_step") === step)
      state = Sink.antiJoinKeys(state,
        inStep.filter(col("_change_type") === "delete").select("id"))
        .unionByName(inStep.filter(col("_change_type") === "insert")
          .select("id", "g"))
    }
    assert(state.as[(Long, String)].collect().toSet ==
      Sink.readSnapshot(spark, out).as[(Long, String)].collect().toSet)
    // an incremental consumer's derived aggregate: base count + inserts
    // − deletes == live count (the snapshot-diff-free maintenance shape)
    val byType = cdf.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(Sink.readSnapshotAt(spark, out, 2).count() +
      byType.getOrElse("insert", 0L) - byType.getOrElse("delete", 0L) ==
      Sink.readSnapshot(spark, out).count())
  }

  test("sink: changefeed falls back to a row diff across a rewrite; a content-preserving compaction contributes zero changes") {
    val out = Files.createTempDirectory("cdf17r").toString + "/t"
    Sink.overwriteSegmented(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "g"),
      out, retain = 3, minAgeMs = 0L)
    Sink.overwriteSegmented(Seq((2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "g"),
      out, retain = 3, minAgeMs = 0L)
    val feed = Sink.readChangesSince(spark, out, 1)
      .select("id", "g", "_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(feed == Set((4L, "d", "insert"), (1L, "a", "delete")))
    // append + minor compact: the fold changes layout, not content — the
    // fallback diff across it must be empty
    val out2 = Files.createTempDirectory("cdf17c").toString + "/t"
    Sink.overwriteSegmented((1L to 100L).map(i => (i, s"g$i")).toDF("id", "g"),
      out2, retain = 3, minAgeMs = 0L)
    Sink.appendSegment(Seq((201L, "x")).toDF("id", "g"),
      out2, retain = 3, minAgeMs = 0L)
    Sink.appendSegment(Seq((202L, "y")).toDF("id", "g"),
      out2, retain = 3, minAgeMs = 0L)
    assert(Sink.minorCompact(spark, out2, budgetBytes = Long.MaxValue / 2,
      retain = 3, minAgeMs = 0L).isDefined)
    assert(Sink.readChangesSince(spark, out2, 1).count() == 0L,
      "compaction changed no content — the changefeed must agree")
  }

  test("sink: minorCompact racing concurrent appends loses nothing — the fold wins cleanly or fails as a retryable CME") {
    val out = Files.createTempDirectory("minorrace17").toString + "/t"
    Sink.overwriteSegmented(Seq(-1L).toDF("id"), out, retain = 64,
      minAgeMs = 600000L)
    (0 until 6).foreach(i =>
      Sink.appendSegment(Seq(i.toLong).toDF("id"), out, retain = 64,
        minAgeMs = 600000L))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val appenders = (0 until 3).map { t =>
      Future {
        (0 until 3).foreach { i =>
          val id = (100 + t * 3 + i).toLong
          var done = false
          while (!done) {
            try {
              Sink.appendSegment(Seq(id).toDF("id"), out, retain = 64,
                minAgeMs = 600000L)
              done = true
            } catch {
              case _: java.util.ConcurrentModificationException =>
                Thread.sleep(5)
            }
          }
        }
      }
    }
    val folder = Future {
      (0 until 3).foreach { _ =>
        // a fold losing the pointer race is EXPECTED under contention —
        // the contract is it either commits an equivalent layout or
        // changes nothing; it must never surface a commit that drops a
        // concurrent append
        try Sink.minorCompact(spark, out, budgetBytes = Long.MaxValue / 2,
          retain = 64, minAgeMs = 600000L)
        catch { case _: java.util.ConcurrentModificationException => }
        Thread.sleep(10)
      }
    }
    (appenders :+ folder).foreach(Await.result(_, 120.seconds))
    val want = (0 until 6).map(_.toLong).toSet ++
      (100 until 109).map(_.toLong) + -1L
    assert(Sink.readSnapshot(spark, out).as[Long].collect().toSet == want,
      "every delta must survive a fold racing the appenders")
    // a quiet final fold still works and preserves content (two more
    // appends guarantee a >= 3-entry manifest whatever the race left)
    Sink.appendSegment(Seq(200L).toDF("id"), out, retain = 64,
      minAgeMs = 600000L)
    Sink.appendSegment(Seq(201L).toDF("id"), out, retain = 64,
      minAgeMs = 600000L)
    assert(Sink.minorCompact(spark, out, budgetBytes = Long.MaxValue / 2,
      retain = 64, minAgeMs = 600000L).isDefined)
    assert(manifestLines(out).size == 1)
    assert(Sink.readSnapshot(spark, out).as[Long].collect().toSet ==
      (want + 200L + 201L))
  }

  test("sql: changes_since(path, n) serves the changefeed from raw SQL; beyond-history fails fast") {
    val out = Files.createTempDirectory("cdfsql17").toString + "/t"
    Sink.overwriteSegmented((1L to 5L).map(i => (i, s"g$i")).toDF("id", "g"),
      out, retain = 3, minAgeMs = 0L)
    Sink.appendSegment(Seq((6L, "g6")).toDF("id", "g"),
      out, retain = 3, minAgeMs = 0L)
    Sink.patchSegmented(out, Some(Seq(2L).toDF("id")), None,
      retain = 3, minAgeMs = 0L)
    val got = spark.sql(
      s"""SELECT _change_type, _commit_step, count(*) AS n
         |FROM changes_since('$out', 2)
         |GROUP BY 1, 2 ORDER BY _commit_step, _change_type""".stripMargin)
      .as[(String, Int, Long)].collect().toSeq
    assert(got == Seq(("insert", 1, 1L), ("delete", 2, 1L)))
    val e = intercept[java.io.FileNotFoundException] {
      spark.sql(s"SELECT * FROM changes_since('$out', 9)").collect()
    }
    assert(e.getMessage.contains("commits back"))
  }

  test("changefeed: per-group aggregates maintained from the feed equal full recompute (IVM without replaying rows)") {
    val out = Files.createTempDirectory("cdfivm17").toString + "/t"
    def rows(ids: Range, g: String) = ids.map(i => (i.toLong, g))
    Sink.overwriteSegmented((rows(1 to 40, "a") ++ rows(41 to 60, "b"))
      .toDF("id", "g"), out, retain = 3, minAgeMs = 0L)
    Sink.appendSegment(rows(61 to 70, "b").toDF("id", "g"),
      out, retain = 3, minAgeMs = 0L)
    // FULL-ROW delete keys (id, g): the feed's delete rows then carry
    // the group column, so a consumer can maintain per-group aggregates
    // without joining back to the corpus
    Sink.patchSegmented(out,
      Some(rows(1 to 5, "a").toDF("id", "g")),
      Some(rows(71 to 73, "b").toDF("id", "g")), retain = 3, minAgeMs = 0L)
    val base = Sink.readSnapshotAt(spark, out, 2)
      .groupBy("g").agg(count(lit(1)).as("n0"))
    val delta = Sink.readChangesSince(spark, out, 2)
      .groupBy("g").agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("dn"))
    val derived = base.join(delta, Seq("g"), "full")
      .select(col("g"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
      .filter(col("n") > 0)
      .as[(String, Long)].collect().toMap
    val live = Sink.readSnapshot(spark, out).groupBy("g").count()
      .as[(String, Long)].collect().toMap
    assert(derived == live, s"derived $derived vs live $live")
    assert(live == Map("a" -> 35L, "b" -> 33L))
  }

  test("changefeed: partition-column values ride the _schema sidecar — '0012' stays a string in the feed") {
    val out = Files.createTempDirectory("cdfpart17").toString + "/t"
    val df = Seq((1L, "0012"), (2L, "0034")).toDF("id", "part")
    val side = Map("_schema" -> df.schema.json)
    Sink.overwriteSegmented(df, out, retain = 3, minAgeMs = 0L,
      partitionColumns = Seq("part"), sidecars = side)
    Sink.appendSegment(Seq((3L, "0056")).toDF("id", "part"), out,
      retain = 3, minAgeMs = 0L, partitionColumns = Seq("part"),
      sidecars = side)
    // without the sidecar-forced schema the partition VALUE re-parses by
    // directory inference (int) and re-renders as "56"
    val feed = Sink.readChangesSince(spark, out, 1)
      .select("id", "part", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(feed == Set((3L, "0056", "insert")))
  }

  // ------------------------------------- validation, cleanup, lock details

  test("sink: the _schema sidecar validates delete-key types — partition columns included (the footer path could not)") {
    val out = Files.createTempDirectory("schval17").toString + "/t"
    val df = Seq((1L, "0012", "x"), (2L, "0034", "y")).toDF("id", "part", "v")
    Sink.overwriteSegmented(df, out, retain = 1, minAgeMs = 600000L,
      partitionColumns = Seq("part"),
      sidecars = Map("_schema" -> df.schema.json))
    // an int-typed key for the STRING partition column: directory-value
    // inference would have typed it int and passed the old footer check —
    // the sidecar rejects it at commit time
    val e = intercept[IllegalArgumentException] {
      Sink.patchSegmented(out, Some(Seq(12).toDF("part")), None,
        retain = 1, minAgeMs = 600000L, partitionColumns = Seq("part"))
    }
    assert(e.getMessage.contains("part"))
    // the correctly-typed key commits and deletes through the partition
    // column
    Sink.patchSegmented(out, Some(Seq("0012").toDF("part")), None,
      retain = 1, minAgeMs = 600000L, partitionColumns = Seq("part"))
    assert(Sink.readSnapshot(spark, out).select("id").as[Long]
      .collect().toSeq == Seq(2L))
  }

  test("sink: ANY staging failure cleans the staged segments and version dir — not just the commit CAS (ADVICE r16)") {
    val out = Files.createTempDirectory("cleanup17").toString + "/t"
    Sink.overwriteSegmented(Seq((1L, "a")).toDF("id", "g"),
      out, retain = 1, minAgeMs = 0L)
    val segsBefore = segDirs(out).map(_.getName).toSet
    val versionsBefore = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("v-")).toSet
    // fault injection: an invalid sidecar name fails AFTER the delete and
    // data segments staged and the manifest wrote
    intercept[IllegalArgumentException] {
      Sink.patchSegmented(out, Some(Seq(1L).toDF("id")),
        Some(Seq((2L, "b")).toDF("id", "g")), retain = 1, minAgeMs = 0L,
        sidecars = Map("not-underscored" -> "x"))
    }
    assert(segDirs(out).map(_.getName).toSet == segsBefore,
      "staged segments must be reclaimed on a non-CAS failure")
    assert(new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("v-")).toSet == versionsBefore,
      "the unpublished version dir must be reclaimed")
    assert(Sink.readSnapshot(spark, out).as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
  }

  test("sink: commit-lock staleness is configurable — a fresh foreign lock is reaped at the tuned threshold") {
    val out = Files.createTempDirectory("lockconf17").toString + "/t"
    Sink.overwriteSegmented(Seq((1L, "a")).toDF("id", "g"),
      out, retain = 1, minAgeMs = 0L)
    // a foreign claimant that will never release (fresh mtime — the
    // default 60 s staleness would block this test for a minute)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "_commitlock"),
      "alien".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    withSQLConf("spark.graft.store.commitLockStaleMs" -> "200") {
      val t0 = System.nanoTime()
      Sink.appendSegment(Seq((2L, "b")).toDF("id", "g"),
        out, retain = 1, minAgeMs = 0L)
      val sec = (System.nanoTime() - t0) / 1e9
      assert(sec < 30.0, s"reap at 200ms staleness took ${sec}s")
    }
    assert(Sink.readSnapshot(spark, out).count() == 2)
    assert(!new java.io.File(out, "_commitlock").exists())
  }
}
