package graft

// Dev tool: ANN-vs-brute harness for the two round-10 unbounded-batch
// variants (bitext_mine_ann, mrl_truncation_eval_ivf). Per SF dir it
// reports (a) agreement/recall of the IVF path vs the brute twin — the
// numbers the declared-query contracts bound — and (b) warm wall time of
// each path with the SAME unbounded query batch, the 1×/10× growth
// evidence for REGRESSIONS.md. Args: SF dirs (default the three testdata
// SFs); pass /tmp/sfx10_all for the 10× probe.
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

object AnnProbe {
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    // --no-brute: skip the brute twin (at 10x it is a ~1h quadratic run
    // whose cost is exactly the point — extrapolate it, measure the ANN)
    val noBrute = args.contains("--no-brute")
    val dirArgs = args.filterNot(_ == "--no-brute").toSeq
    val dirs = if (dirArgs.nonEmpty) dirArgs
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- dirs) {
      val emb = Tables.load(spark, dir, "embeddings")
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"))
      val joined = emb.join(docs, col("vec_id") === col("doc_id"))
      // ---- bitext: UNBOUNDED query batch (every en doc) ----
      val q = joined.filter(col("lang") === "en")
        .select(col("vec_id"), col("embedding"))
      val c = joined.filter(col("lang") =!= "en")
        .select(col("vec_id"), col("embedding"))
      val nC = c.count()
      val nCells = math.max(4, math.ceil(math.sqrt(nC.toDouble)).toInt)
      val nProbe = math.max(2, math.ceil(nCells * 0.4).toInt)
      def bruteRun() = VectorOps.marginBestMatch(c, q, "vec_id", "embedding", 4)
      def annRun() = VectorOps.marginBestMatchAnn(c, q, "vec_id", "embedding", 4,
        nCells, nProbe)
      annRun().count() // warm the ANN path (JVM/codegen); the brute run
      // is timed single-shot — at 10x it is the quadratic bomb the probe
      // exists to demonstrate, double-running it buys nothing
      val tb = if (noBrute) -1.0 else time(bruteRun().count())._2
      val (_, ta) = time(annRun().count())
      val agreeStr = if (noBrute) "skipped" else {
        val b = bruteRun().select(col("query_id"), col("best_id").as("__bb"))
        val a = annRun().select(col("query_id"), col("best_id").as("__ba"))
        val agree = b.join(a, Seq("query_id"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("__bb") === col("__ba"), 1L).otherwise(0L)).as("same"))
          .head()
        s"${agree.getLong(1)}/${agree.getLong(0)}"
      }
      println(f"[bitext] $dir |Q|=${q.count()} |C|=$nC cells=$nCells probe=$nProbe " +
        f"best_agree=$agreeStr brute=$tb%.2fs ann=$ta%.2fs")
      // ---- mrl: UNBOUNDED query batch (every 10th vector) ----
      val mq = emb.filter(col("vec_id") % 10 === 0)
      val mc = emb.filter(col("vec_id") % 10 =!= 0)
      val nMc = mc.count()
      val mCells = math.max(4, math.ceil(math.sqrt(nMc.toDouble)).toInt)
      val mProbe = math.max(2, math.ceil(mCells * 0.4).toInt)
      def mBrute() = VectorOps.mrlTruncationEval(mc, mq, "vec_id", "embedding",
        Seq(16, 32), 64, 10)
      def mAnn() = VectorOps.mrlTruncationEvalIvf(mc, mq, "vec_id", "embedding",
        Seq(16, 32), 64, 10, mCells, mProbe)
      mAnn().count() // warm ANN only (see bitext note)
      val mtb = if (noBrute) -1.0 else time(mBrute().count())._2
      val (_, mta) = time(mAnn().count())
      val diffs = if (noBrute) {
        val am = mAnn().collect().map(r => r.getLong(0) ->
          (r.getDouble(2), r.getDouble(3))).toMap
        am.keys.toSeq.sorted.map(d =>
          f"d=$d mean -/${am(d)._1}%.3f min -/${am(d)._2}%.2f")
      } else {
        val bm = mBrute().collect().map(r => r.getLong(0) ->
          (r.getDouble(2), r.getDouble(3))).toMap
        val am = mAnn().collect().map(r => r.getLong(0) ->
          (r.getDouble(2), r.getDouble(3))).toMap
        bm.keys.toSeq.sorted.map(d =>
          f"d=$d mean ${bm(d)._1}%.3f/${am(d)._1}%.3f min ${bm(d)._2}%.2f/${am(d)._2}%.2f")
      }
      println(f"[mrl] $dir |Q|=${mq.count()} |C|=$nMc cells=$mCells probe=$mProbe " +
        f"brute=$mtb%.2fs ann=$mta%.2fs " + diffs.mkString(" | "))
    }
    spark.stop()
  }
}
