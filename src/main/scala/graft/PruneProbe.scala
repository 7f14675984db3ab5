package graft

// Dev tool (round 16): the scan win from manifest-level segment
// skipping. Publishes orders ONCE per SF dir as a segmented table with
// one data segment per order-year and per-segment min/max bounds on
// o_year (Sink statsCols), then times a one-year aggregate through
//   (a) the plain manifest read (all segments listed + scanned, the
//       filter left to parquet row-group pruning), vs
//   (b) Sink.readSnapshotPruned (non-overlapping segments skipped
//       BEFORE any file listing).
// Reported per dir: 3 timed rounds of both paths (round 1 cold) plus
// the file-listing counts — the number that matters at 100 TB, where
// (a) lists every file of every segment and (b) lists 1/|years| of
// them. Args: SF dirs (default sf0.1; pass /tmp/sfx10_all and
// /tmp/sfx100 for the growth rows).
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object PruneProbe {
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The one segmented-publish shape every section uses: one data
    * segment per distinct `groupCol` value (overwrite the first group,
    * append each remaining one), bounds recorded on `statsCols`. */
  private def publishSegmentedBy(df: org.apache.spark.sql.DataFrame,
                                 groupCol: String, groups: Seq[Long],
                                 path: String, statsCols: Seq[String]): Unit = {
    graft.ops.Sink.overwriteSegmented(df.filter(col(groupCol) === groups.head),
      path, retain = 1, minAgeMs = 600000L, statsCols = statsCols)
    groups.tail.foreach { g =>
      graft.ops.Sink.appendSegment(df.filter(col(groupCol) === g),
        path, retain = 1, minAgeMs = 600000L, statsCols = statsCols)
    }
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- dirs) {
      val base = Tables.load(spark, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      val years = base.select(min("o_year"), max("o_year")).head()
      val (y0, y1) = (years.getLong(0), years.getLong(1))
      val n = base.count()
      val path = new java.io.File(
        graft.ops.SlateStore.sessionTempRoot(spark),
        s"prune_probe_${System.nanoTime()}").toString
      // one data segment per year, bounds recorded per segment
      publishSegmentedBy(base, "o_year", (y0 to y1), path, Seq("o_year"))
      val probe = (y0 + y1) / 2 // a mid-range year every SF has
      def agg(df: org.apache.spark.sql.DataFrame): (Long, java.math.BigDecimal) = {
        // decimal sum: exact and order-independent, so the equality
        // check below cannot trip on double-summation order differing
        // between the 1-segment and N-segment scan layouts
        val r = df.filter(col("o_year") === probe)
          .agg(count(lit(1)),
            sum(col("o_totalprice").cast("decimal(28,2)"))).head()
        (r.getLong(0), r.getDecimal(1))
      }
      val full = graft.ops.Sink.readSnapshot(spark, path)
      val pruned = graft.ops.Sink.readSnapshotPruned(spark, path, "o_year",
        probe, probe)
      val filesFull = full.inputFiles.length
      val filesPruned = pruned.inputFiles.length
      // order ALTERNATES per round and is LABELED in the output — with a
      // single cold round no ordering is unbiased, so round 1 runs
      // PRUNED first: the pruned side takes the cold-cache hit and the
      // full side rides the partially-warmed cache, biasing the reported
      // ratio AGAINST the pruning win (conservative; review findings x2:
      // pruned-always-second inflated it, and unlabeled alternation hid
      // which side round 1 favored)
      val rounds = (0 until 3).map { i =>
        def full() = time(agg(graft.ops.Sink.readSnapshot(spark, path)))
        def pruned() = time(agg(graft.ops.Sink.readSnapshotPruned(
          spark, path, "o_year", probe, probe)))
        val prunedFirst = i % 2 == 0
        val ((a, tFull), (b, tPruned)) =
          if (prunedFirst) { val p = pruned(); val f = full(); (f, p) }
          else { val f = full(); val p = pruned(); (f, p) }
        require(a == b, s"pruned read changed the answer: $a vs $b")
        (tFull, tPruned, if (prunedFirst) "p-first" else "f-first")
      }
      val fmt = rounds.map { case (f, p, o) => f"$f%.2f/$p%.2f($o)" }.mkString(" ")
      // since round 17 the "full" path is NOT a full scan: the plain
      // readSnapshot().filter() evaluates the manifest bounds against
      // its own pushed predicate at file-listing time (SegmentPruning),
      // so both walls above converge and the remaining difference is
      // the LISTING. Measure the plan-derived skip directly: the files
      // the physical scan planned (AQE off so the plan walk sees the
      // scan node; metrics populate after executing the same frame)
      val planned = {
        val prior = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try {
          // collect() THE SAME frame (a .count() builds a NEW query
          // execution and the walked plan's metrics stay 0); the 1-col
          // projection keeps the driver payload small
          val df = graft.ops.Sink.readSnapshot(spark, path)
            .filter(col("o_year") === probe).select("o_orderkey")
          df.collect()
          df.queryExecution.executedPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.metrics("numFiles").value
          }.sum
        } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
      }
      println(f"[prune_probe] $dir rows=$n years=$y0..$y1 probe=$probe " +
        f"files_listed full=$filesFull pruned=$filesPruned " +
        f"(${filesPruned.toDouble / filesFull * 100}%.0f%%) " +
        f"files_PLANNED by plain readSnapshot().filter = $planned " +
        "(plan-derived skip == the explicit-bounds path) " +
        f"wall full/pruned per round: $fmt s " +
        "(readSnapshotPruned still skips BEFORE listing — at 100 TB the " +
        "file-listing ratio IS its win; the plan-derived path pays the " +
        "listing but scans the same single segment)")

      // ---- section 2: the Z-ORDERED layout (VERDICT r15 item 3's probe
      // ask). Segments = z-buckets over (o_custkey, o_orderkey): z-order's
      // bounded-rectangle property makes BOTH dims' per-segment min/max
      // tight, so a range predicate on EITHER raw dimension skips most
      // segments — the scan-level payoff zorder_layout's clustering
      // promises. prefixBits=2 → 16 buckets; a quarter-domain predicate
      // on either dim overlaps 4 of 16 rectangles (25% listed).
      zorderSection(spark, dir, base.drop("o_year"))

      // ---- section 3: merge-on-read READ-SIDE DEBT. Ten successive
      // key-ranged delete patches stack ten anti-joins on the year table;
      // a compaction rewrite folds them. Measured: the same aggregate
      // over the clean, debt-carrying, and compacted states.
      deleteDebtSection(spark, path, probe)

      // ---- section 4 (round 17): MINOR COMPACTION at the cap. A bulk
      // segment plus a tail of small appends and delete patches; the
      // fold writes only the tail's bytes (vs the r16 full rewrite that
      // paid the corpus) while the read debt returns to the clean mark.
      minorCompactSection(spark, dir, base)
    }
    spark.stop()
  }

  private def minorCompactSection(spark: SparkSession, dir: String,
                                  base: org.apache.spark.sql.DataFrame): Unit = {
    def du(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    val path = new java.io.File(
      graft.ops.SlateStore.sessionTempRoot(spark),
      s"prune_probe_minor_${System.nanoTime()}").toString
    graft.ops.Sink.overwriteSegmented(base, path, retain = 1,
      minAgeMs = 600000L, statsCols = Seq("o_year"))
    val keys = base.select("o_orderkey").orderBy("o_orderkey").limit(8000)
      .collect().map(_.getLong(0))
    import spark.implicits._
    // eight ~0.05% appends (fresh keys) and two small delete patches —
    // the tail an evolving store accretes between compactions
    (0 until 8).foreach { i =>
      graft.ops.Sink.appendSegment(
        base.filter(col("o_orderkey") % 1999 === i).limit(2000),
        path, retain = 1, minAgeMs = 600000L, statsCols = Seq("o_year"))
    }
    (0 until 2).foreach { i =>
      val ks = keys.slice(i * 1000, (i + 1) * 1000).toSeq.toDF("o_orderkey")
      graft.ops.Sink.patchSegmented(path, Some(ks), None,
        retain = 1, minAgeMs = 600000L)
    }
    val tableBytes = du(new java.io.File(path, "segs"))
    def readWall(): Double = {
      val t0 = System.nanoTime()
      graft.ops.Sink.readSnapshot(spark, path).count()
      (System.nanoTime() - t0) / 1e9
    }
    val debtWall = (1 to 3).map(_ => readWall()).min
    val segsBefore = new java.io.File(path, "segs").listFiles().map(_.getName).toSet
    val entriesBefore = graft.ops.Sink.listVersions(spark, path).head
    val bulkId = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(new java.io.File(path, entriesBefore), "_manifest").toPath))
      .split("\n").head.split('\t')(0)
    val bulkBytes = du(new java.io.File(new java.io.File(path, "segs"),
      s"__seg=$bulkId"))
    val (_, foldWall) = time(graft.ops.Sink.minorCompact(spark, path,
      budgetBytes = tableBytes / 2, retain = 1, minAgeMs = 600000L,
      statsCols = Seq("o_year")).get)
    val segsAfter = new java.io.File(path, "segs").listFiles().map(_.getName).toSet
    val written = (segsAfter -- segsBefore).toSeq
      .map(n => du(new java.io.File(new java.io.File(path, "segs"), n))).sum
    val cleanWall = (1 to 3).map(_ => readWall()).min
    println(f"[prune_probe_minor] $dir table=${tableBytes / 1024}%d KiB " +
      f"(bulk seg ~${bulkBytes / 1024}%d KiB) fold wrote ${written / 1024}%d KiB " +
      f"(${written.toDouble / tableBytes * 100}%.1f%% of table) in $foldWall%.2f s; " +
      f"read wall min-of-3: with 10-entry tail $debtWall%.2f s -> " +
      f"after fold $cleanWall%.2f s " +
      s"(pre-fold version $entriesBefore retained for time travel)")
  }

  private def zorderSection(spark: SparkSession, dir: String,
                            orders: org.apache.spark.sql.DataFrame): Unit = {
    import graft.ops.Relational.{zorderBucket, zorderQuantize}
    val (aCol, bCol) = ("o_custkey", "o_orderkey")
    val dimBits = 8
    val prefixBits = 2
    val mm = orders.agg(
      min(col(aCol)).cast("long"), max(col(aCol)).cast("long"),
      min(col(bCol)).cast("long"), max(col(bCol)).cast("long")).head()
    val (aMin, aMax, bMin, bMax) =
      (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
    // the SAME quantizer + bucket expressions zorderLayout groups by —
    // a private re-implementation here would silently measure a
    // different bucketing than the layout op this probe validates
    val bucketed = orders.withColumn("__zb",
      zorderBucket(
        zorderQuantize(col(aCol), lit(aMin), lit(aMax), dimBits),
        zorderQuantize(col(bCol), lit(bMin), lit(bMax), dimBits),
        dimBits, prefixBits))
    val zPath = new java.io.File(
      graft.ops.SlateStore.sessionTempRoot(spark),
      s"prune_probe_z_${System.nanoTime()}").toString
    val buckets = bucketed.select("__zb").distinct()
      .collect().map(_.getLong(0)).sorted
    // __zb rides into the segments (harmless payload) so the shared
    // publish helper can group on it
    publishSegmentedBy(bucketed, "__zb", buckets.toSeq, zPath,
      Seq(aCol, bCol))
    val total = graft.ops.Sink.readSnapshot(spark, zPath).inputFiles.length
    // quarter-domain range predicates on EACH raw dimension
    val aHi = aMin + (aMax - aMin) / 4
    val bHi = bMin + (bMax - bMin) / 4
    val aListed = graft.ops.Sink.readSnapshotPruned(spark, zPath, aCol,
      aMin, aHi).inputFiles.length
    val bListed = graft.ops.Sink.readSnapshotPruned(spark, zPath, bCol,
      bMin, bHi).inputFiles.length
    println(f"[prune_probe_z] $dir z-buckets=${buckets.length} " +
      f"files total=$total quarter-range on $aCol lists $aListed " +
      f"(${aListed.toDouble / total * 100}%.0f%%), on $bCol lists $bListed " +
      f"(${bListed.toDouble / total * 100}%.0f%%) — per-segment bounds " +
      "make the z-order clustering actionable on EITHER dimension at the " +
      "manifest level")
  }

  private def deleteDebtSection(spark: SparkSession, path: String,
                                probe: Long): Unit = {
    def agg(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("o_year") === probe).count()
    def timed3(f: => org.apache.spark.sql.DataFrame): String =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        agg(f)
        f"${(System.nanoTime() - t0) / 1e9}%.2f"
      }.mkString("/")
    val clean = timed3(graft.ops.Sink.readSnapshot(spark, path))
    // ten successive key-ranged delete patches (each ~0.1% of rows)
    val keys = graft.ops.Sink.readSnapshot(spark, path)
      .select("o_orderkey").orderBy("o_orderkey").limit(10000)
      .collect().map(_.getLong(0))
    val slice = math.max(1, keys.length / 10)
    import spark.implicits._
    (0 until 10).foreach { i =>
      val ks = keys.slice(i * slice, (i + 1) * slice).toSeq.toDF("o_orderkey")
      graft.ops.Sink.patchSegmented(path, Some(ks), None,
        retain = 1, minAgeMs = 600000L)
    }
    val withDebt = timed3(graft.ops.Sink.readSnapshot(spark, path))
    // compaction REBUILDS THE SAME per-year layout (one segment per
    // year) so the compacted reading isolates the delete-debt removal —
    // a single-segment rewrite would also collapse 7 data segments into
    // 1 and overstate what folding the deletes recovers (review finding).
    // The resolved content is MATERIALIZED to a scratch parquet before
    // the source table is overwritten: a lazily-cached self-read would
    // depend on cache-block residency once GC reclaims the source
    // segments mid-rebuild (review finding)
    val scratch = path + "_rebuild_src"
    graft.ops.Sink.readSnapshot(spark, path).write.parquet(scratch)
    val resolved = spark.read.parquet(scratch)
    val years = resolved.select("o_year").distinct()
      .collect().map(_.getLong(0)).sorted
    publishSegmentedBy(resolved, "o_year", years.toSeq, path, Seq("o_year"))
    val compacted = timed3(graft.ops.Sink.readSnapshot(spark, path))
    println(s"[prune_probe_debt] $path read wall x3 — clean: $clean s, " +
      s"+10 delete segments: $withDebt s, compacted back to the same " +
      s"per-year layout: $compacted s " +
      "(anti-join debt is real but bounded: maxSegments folds it back)")
  }
}
