package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Native one-fold cosine_prefixes (r17): registration, bitwise parity
  * with the per-dim slice+cosine shape it replaced in the MRL evals, and
  * the null contract that keeps exploded row multiplicity identical.
  */
class CosinePrefixesSpec extends SparkTestBase {
  import spark.implicits._

  private val dims = Seq(16, 32, 64)
  private def dimsLit = array(dims.map(lit(_)): _*)

  /** The exact pre-r17 per-dim formulation: slice both sides, cosine. */
  private def slicedCosines(a: org.apache.spark.sql.Column,
                            b: org.apache.spark.sql.Column) =
    array(dims.map(d => call_function("cosine_sim",
      slice(a, lit(1), lit(d)), slice(b, lit(1), lit(d)))): _*)

  test("cosine_prefixes resolves via SQL (SparkSessionExtensions registration)") {
    assert(spark.catalog.functionExists("cosine_prefixes"))
    val r = spark.sql(
      "SELECT cosine_prefixes(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(1, 2))")
      .as[Seq[Double]].head()
    assert(r.size == 2 && math.abs(r(1) - 1.0) < 1e-12)
  }

  test("bitwise parity with per-dim slice+cosine on random 64-dim vectors") {
    val rng = new scala.util.Random(17)
    val df = (0 until 500)
      .map(i => (i.toLong, Seq.fill(64)(rng.nextGaussian().toFloat),
        Seq.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("id", "a", "b")
    val mismatches = df.select($"id",
        VectorOps.cosinePrefixes($"a", $"b", dims).as("one"),
        slicedCosines($"a", $"b").as("old"),
        array(dims.map(d => HofTwins.cosine(
          slice($"a", lit(1), lit(d)), slice($"b", lit(1), lit(d)))): _*).as("hof"))
      .filter($"one" =!= $"old" || $"one" =!= $"hof") // any ulp difference fails
      .count()
    assert(mismatches == 0)
  }

  test("ragged and null-element vectors go null per CUT, like slice+cosine") {
    // ragged beyond the first cut: d=16 sliced sides are equal-length and
    // score; d=32/64 slices differ in length -> null. A null element at
    // position 20 poisons every cut whose slice covers it, not earlier ones.
    val a64 = Seq.fill(64)(Option(1.0f))
    val df = Seq(
      (1L, Seq.fill(20)(Option(1.0f)), Seq.fill(30)(Option(1.0f))),
      (2L, a64.updated(20, None: Option[Float]), a64),
      (3L, a64, a64))
      .toDF("id", "a", "b")
    val out = df.select($"id",
        VectorOps.cosinePrefixes($"a", $"b", dims).as("one"),
        slicedCosines($"a", $"b").as("old"))
      .as[(Long, Seq[Option[Double]], Seq[Option[Double]])].collect()
    out.foreach { case (id, one, old) =>
      assert(one == old, s"row $id diverged: one=$one old=$old")
    }
    val byId = out.map(r => r._1 -> r._2).toMap
    assert(byId(1L).head.isDefined && byId(1L)(1).isEmpty && byId(1L)(2).isEmpty)
    assert(byId(2L).head.isDefined && byId(2L)(1).isEmpty && byId(2L)(2).isEmpty)
    assert(byId(3L).forall(_.isDefined))
  }

  test("zero-norm prefixes score 0.0 (not NaN) at exactly the zero cuts") {
    // first 16 components zero on one side: cut 16 is the zero-norm guard's
    // 0.0, cuts 32/64 are real scores — bitwise against the sliced shape
    val a = Seq.fill(16)(0.0f) ++ Seq.fill(48)(1.0f)
    val b = Seq.fill(64)(1.0f)
    val df = Seq((1L, a, b)).toDF("id", "a", "b")
    val (one, old) = df.select(
        VectorOps.cosinePrefixes($"a", $"b", dims).as("one"),
        slicedCosines($"a", $"b").as("old"))
      .as[(Seq[Double], Seq[Double])].head()
    assert(one == old)
    assert(one.head == 0.0 && one(1) > 0.0)
  }

  test("null INPUT yields a full-length array of null elements, not a null array") {
    // the MRL evals posexplode this array: a null array would DROP the
    // pair's rows where the old per-dim shape kept C null-scored rows
    val df = Seq(
      (1L, Some(Seq.fill(64)(1.0f)), Some(Seq.fill(64)(1.0f))),
      (2L, None: Option[Seq[Float]], Some(Seq.fill(64)(1.0f))))
      .toDF("id", "a", "b")
    val exploded = df.select($"id",
        posexplode(VectorOps.cosinePrefixes($"a", $"b", dims))
          .as(Seq("p", "s")))
    assert(exploded.count() == 2L * dims.size)
    val nullRow = exploded.filter($"id" === 2L).as[(Long, Int, Option[Double])].collect()
    assert(nullRow.length == dims.size && nullRow.forall(_._3.isEmpty))
  }

  test("mrlTruncationEval output unchanged by the one-fold rewrite (fixture)") {
    val rng = new scala.util.Random(42)
    val emb = (0 until 120)
      .map(i => (i.toLong, Seq.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val out = VectorOps.mrlTruncationEval(
        emb.filter($"vec_id" >= 8), emb.filter($"vec_id" < 8),
        "vec_id", "embedding", prefixDims = Seq(16, 32), fullDim = 64, k = 10)
      .orderBy("prefix_dim")
      .as[(Long, Long, Double, Double)].collect()
    assert(out.length == 3)
    assert(out.forall(_._2 == 8L)) // every query covered at every dim
    val full = out.find(_._1 == 64L).get
    assert(full._3 == 1.0 && full._4 == 1.0) // full dim self-overlap exact
    // prefix overlaps are nontrivial (neither empty nor complete) so the
    // fixture actually exercises the rank/overlap path
    val d16 = out.find(_._1 == 16L).get
    assert(d16._3 > 0.0 && d16._3 < 1.0)
  }
}
