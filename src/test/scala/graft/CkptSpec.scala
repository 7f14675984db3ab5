package graft

import org.apache.spark.sql.execution.LogicalRDD

import graft.ops.Ckpt

/** Ckpt.release frees a checkpoint only when it is the plan's root. */
class CkptSpec extends SparkTestBase {
  import spark.implicits._

  private def rddId(ckpt: org.apache.spark.sql.DataFrame): Int =
    ckpt.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  test("release of a join over two checkpoints frees neither input") {
    val a = (1L to 50L).toDF("k").localCheckpoint(eager = true)
    val b = (1L to 50L).map(i => (i, i * 2)).toDF("k", "v")
      .localCheckpoint(eager = true)
    val joined = a.join(b, "k")
    Ckpt.release(joined)
    val live = spark.sparkContext.getPersistentRDDs
    assert(live.contains(rddId(a)) && live.contains(rddId(b)))
    assert(a.count() == 50)
    assert(b.count() == 50)
    assert(joined.count() == 50)
    Ckpt.release(a)
    Ckpt.release(b)
  }

  test("release of a root checkpoint unpersists its blocks") {
    val a = (1L to 50L).toDF("k").localCheckpoint(eager = true)
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId(a)))
    Ckpt.release(a)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId(a)))
  }
}
