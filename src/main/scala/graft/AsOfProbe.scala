package graft

// Dev tool: composed-vs-native as-of join crossover probe (VERDICT r10
// item 5 evidence). Builds a clicks × purchases as-of workload from the
// events table, with the right side widened to a configurable number of
// extra payload columns, and times the composed union+window op against
// the native merge exec warm (3 runs each, report runs 2-3). Each width
// prints the right payload's default-size width and which op was faster
// over the two warm runs, so a crossover shows as the width where
// `faster` flips. Args: [sfDir] [widths...] (defaults sf0.1 and widths
// 1, 4, 16, 48 extra long columns = 8..384 payload bytes).
import org.apache.spark.sql.functions._

import graft.ops.AsOfJoin

object AsOfProbe {
  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val widths = if (args.length > 1) args.tail.map(_.toInt).toSeq
      else Seq(1, 4, 16, 48)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    for (w <- widths) {
      // widen the right payload with w deterministic long columns
      val extras = (0 until w).map(i =>
        (col("event_id") * (i + 1)).as(s"pay_$i"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(Seq(col("event_id").as("p_event_id"),
          col("user_id").as("p_user_id"), col("ts").as("p_ts")) ++ extras: _*)
      val payloadWidth = purchases.schema.fields
        .filterNot(f => f.name == "p_user_id" || f.name == "p_ts")
        .map(_.dataType.defaultSize).sum

      // checksum EVERY output column — count() would let Catalyst prune
      // the wide payload out of both plans and mask the width effect
      def checksum(df: org.apache.spark.sql.DataFrame): Long = df
        .select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("__h"))
        .agg(expr("bit_xor(__h)")).head().getLong(0)
      def composedRun() = checksum(AsOfJoin.asOf(clicks, purchases,
        "user_id", "p_user_id", "ts", "p_ts")
        .select(col("event_id"), col("user_id"), col("ts"), col("asof.*")))
      def nativeRun() = checksum(AsOfJoin.asOfNative(clicks, purchases,
        "user_id", "p_user_id", "ts", "p_ts"))
      // PRUNED consumer (r12): selects only (event_id, p_event_id) — the
      // AsOfJoinPruning rule drops the wide payload from the native
      // path's scans/exchanges/sorts; the composed op cannot prune (its
      // tie hash consumes the full payload struct)
      def composedPruned() = checksum(AsOfJoin.asOf(clicks, purchases,
        "user_id", "p_user_id", "ts", "p_ts")
        .select(col("event_id"), col("asof.p_event_id")))
      def nativePruned() = checksum(AsOfJoin.asOfNative(clicks, purchases,
        "user_id", "p_user_id", "ts", "p_ts")
        .select(col("event_id"), col("p_event_id")))

      val ct = (1 to 3).map(_ => time(composedRun()))
      val nt = (1 to 3).map(_ => time(nativeRun()))
      val cpt = (1 to 3).map(_ => time(composedPruned()))
      val npt = (1 to 3).map(_ => time(nativePruned()))
      val faster = if (nt(1) + nt(2) <= ct(1) + ct(2)) "native" else "composed"
      println(f"[asof_probe] dir=$dir extraCols=$w payloadBytes=$payloadWidth " +
        f"composed=${ct(1)}%.2f/${ct(2)}%.2f s native=${nt(1)}%.2f/${nt(2)}%.2f s " +
        f"composedPruned=${cpt(1)}%.2f/${cpt(2)}%.2f s " +
        f"nativePruned=${npt(1)}%.2f/${npt(2)}%.2f s " +
        s"faster=$faster")
    }
    spark.stop()
  }
}
