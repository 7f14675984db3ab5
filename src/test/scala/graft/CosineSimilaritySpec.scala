package graft

import org.apache.spark.sql.functions._

/** Native codegen'd cosine_sim: registration via GraftExtensions, bitwise
  * parity with the HOF composition, and a sanity throughput comparison.
  */
class CosineSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("cosine_sim resolves via SQL (SparkSessionExtensions registration)") {
    assert(spark.catalog.functionExists("cosine_sim"))
    val r = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("native expression is bitwise-identical to the HOF fold") {
    val rng = new scala.util.Random(17)
    val df = (0 until 500)
      .map(i => (i.toLong, Seq.fill(64)(rng.nextGaussian().toFloat),
        Seq.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("id", "a", "b")
    val both = df.select(
      $"id",
      call_function("cosine_sim", $"a", $"b").as("native"),
      HofTwins.cosine($"a", $"b").as("hof"))
    val mismatches = both
      .filter($"native" =!= $"hof") // bitwise: any ulp difference fails
      .count()
    assert(mismatches == 0)
  }

  test("zero-norm vectors score 0 (not NaN) in BOTH implementations") {
    // NaN would sort ABOVE every real score in Spark, putting missing
    // embeddings first in every top-k and flagging them as near-dups of
    // everything — the guard defines cosine-to-zero as 0, both paths
    val df = Seq(
      (1L, Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),   // zero left
      (2L, Seq(1.0f, 2.0f), Seq(0.0f, 0.0f)),   // zero right
      (3L, Seq(0.0f, 0.0f), Seq(0.0f, 0.0f)))   // both zero
      .toDF("id", "a", "b")
    val out = df.select($"id",
        call_function("cosine_sim", $"a", $"b").as("native"),
        HofTwins.cosine($"a", $"b").as("hof"))
      .as[(Long, Double, Double)].collect()
    out.foreach { case (id, n, h) =>
      assert(n == 0.0 && h == 0.0, s"row $id: native=$n hof=$h")
    }
  }

  test("ragged lengths and null elements yield null in BOTH implementations") {
    val df = Seq(
      (1L, Seq(Some(1.0f), Some(2.0f)), Seq(Some(1.0f))),             // ragged
      (2L, Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))),       // null element
      (3L, Seq(Some(1.0f), Some(2.0f)), Seq(Some(1.0f), Some(2.0f)))) // clean
      .toDF("id", "a", "b")
    val out = df.select($"id",
        call_function("cosine_sim", $"a", $"b").as("native"),
        HofTwins.cosine($"a", $"b").as("hof"))
      .as[(Long, Option[Double], Option[Double])].collect()
    out.foreach { case (id, native, hof) =>
      assert(native == hof, s"row $id diverged: native=$native hof=$hof")
    }
    assert(out.find(_._1 == 1L).get._2.isEmpty)
    assert(out.find(_._1 == 2L).get._2.isEmpty)
    assert(out.find(_._1 == 3L).get._2.isDefined)
  }

  test("null vector input yields null, not a crash") {
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f, 2.0f))),
      (2L, None, Some(Seq(1.0f, 2.0f)))).toDF("id", "a", "b")
    val out = df.select($"id", call_function("cosine_sim", $"a", $"b"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).isDefined && out(2L).isEmpty)
  }

  test("native path is not slower than HOF on a wide scan (throughput sanity)") {
    val rng = new scala.util.Random(5)
    val q = Seq.fill(64)(rng.nextGaussian().toFloat)
    val df = spark.range(20000)
      .select($"id", transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64($"id", i), lit(1000)) / lit(1000)).cast("float")).as("a"))
      .withColumn("b", typedLit(q))
      .persist()
    df.count()
    def timeIt(c: org.apache.spark.sql.Column): Long = {
      val t0 = System.nanoTime()
      df.select(sum(c)).head()
      System.nanoTime() - t0
    }
    // warm both paths once, then measure
    timeIt(call_function("cosine_sim", $"a", $"b")); timeIt(HofTwins.cosine($"a", $"b"))
    val native = timeIt(call_function("cosine_sim", $"a", $"b"))
    val hof = timeIt(HofTwins.cosine($"a", $"b"))
    info(f"native=${native / 1e6}%.1f ms hof=${hof / 1e6}%.1f ms")
    assert(native <= hof * 2, s"native unexpectedly slow: $native vs $hof")
    df.unpersist()
  }
}
