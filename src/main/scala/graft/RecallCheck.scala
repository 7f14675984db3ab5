package graft

// Dev tool: ANN/IVF recall harness — prints recall@10 vs brute force per
// (iters, cells, probe) at each SF, for tuning the similarity_ivf contract.
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("8")
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val emb = Tables.load(spark, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("__qv"))
      val brute = VectorOps.bruteForceTopK(emb, "embedding", "vec_id", qv, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      for (iters <- Seq(10); nCells <- Seq(8); nProbe <- Seq(2, 3, 4, 5)) {
        val (assigned, cents) = VectorOps.ivfIndex(emb, "embedding", nCells)
        val ivf = VectorOps.ivfTopK(assigned, cents, "embedding", "vec_id", qv, 10, nProbe)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        println(s"[recall] $dir iters=$iters cells=$nCells probe=$nProbe recall=${ivf.intersect(brute).size}/10")
      }
    }
    spark.stop()
  }
}
