package graft

import org.apache.spark.sql.functions._

import graft.ops.{LlmOps, Stats, Temporal}

/** Round-11 fourth wave: Poisson-bootstrap CI, token Hellinger distance,
  * Heaps'-law vocabulary growth, and the Page–Hinkley changepoint —
  * hand-computed fixtures for every output field.
  */
class Round11DriftSpec extends SparkTestBase {
  import spark.implicits._

  // ---- bootstrapCiMean ----

  test("bootstrapCiMean: interval brackets the mean, B replicates, deterministic") {
    val df = (1L to 60L).map(v => (v, v)).toDF("id", "v")
    val r1 = Stats.bootstrapCiMean(df, $"v", $"id", nBoot = 192).collect()(0)
    assert(r1.getAs[Long]("n") == 60L)
    assert(math.abs(r1.getAs[Double]("mean") - 30.5) < 1e-12)
    assert(r1.getAs[Long]("n_boot") == 192L)
    val lo = r1.getAs[Double]("ci_lo"); val hi = r1.getAs[Double]("ci_hi")
    assert(lo < 30.5 && 30.5 < hi, s"CI [$lo, $hi] must bracket the mean")
    // md5-derived weights: a rerun reproduces the interval bit for bit
    val r2 = Stats.bootstrapCiMean(df, $"v", $"id", nBoot = 192).collect()(0)
    assert(lo == r2.getAs[Double]("ci_lo") && hi == r2.getAs[Double]("ci_hi"))
  }

  test("bootstrapCiMean: constant sample collapses the interval to the mean") {
    val df = (1L to 40L).map(i => (i, 7L)).toDF("id", "v")
    val r = Stats.bootstrapCiMean(df, $"v", $"id", nBoot = 48).collect()(0)
    assert(r.getAs[Double]("ci_lo") == 7.0 && r.getAs[Double]("ci_hi") == 7.0)
    assert(r.getAs[Double]("mean") == 7.0)
  }

  // ---- tokenHellinger ----

  test("tokenHellinger: identical sub-corpora → BC exactly 1, H exactly 0") {
    val docs = Seq(("a b c a", "x"), ("a b c a", "y")).toDF("text", "side")
    val r = Stats.tokenHellinger(docs, $"text", $"side" === "x",
      $"side" === "y").collect()(0)
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 4L)
    // sqrt(c*c) = c exactly, so BC = Σc/√(N·N) = 1.0 with no rounding
    assert(r.getAs[Double]("bc") == 1.0)
    assert(r.getAs[Double]("hellinger_sq") == 0.0)
    assert(r.getAs[Double]("hellinger") == 0.0)
  }

  test("tokenHellinger: partial overlap, hand-computed BC") {
    // A = {a:2, b:1}, B = {a:1, c:1}; only 'a' shared (distinct tokens
    // land in distinct md5 slots with overwhelming odds at 8192)
    val docs = Seq(("a a b", "x"), ("a c", "y")).toDF("text", "side")
    val r = Stats.tokenHellinger(docs, $"text", $"side" === "x",
      $"side" === "y").collect()(0)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("slots_shared") == 1L)
    val bc = math.sqrt(2.0) / math.sqrt(6.0)
    assert(math.abs(r.getAs[Double]("bc") - bc) < 1e-15)
    assert(math.abs(r.getAs[Double]("hellinger")
      - math.sqrt(1.0 - bc)) < 1e-15)
  }

  // ---- vocabGrowth ----

  test("vocabGrowth: hand-built curve, new types attribute to first bucket") {
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "b d"), (3L, "d"))
      .toDF("doc_id", "text")
    val rows = LlmOps.vocabGrowth(docs, $"doc_id", $"text", bucketSize = 2L)
      .orderBy("bucket").collect()
    assert(rows.length == 2)
    val b0 = rows(0); val b1 = rows(1)
    assert(b0.getAs[Long]("bucket") == 0L)
    assert(b0.getAs[Long]("n_tokens") == 4L)      // a b a c
    assert(b0.getAs[Long]("n_new_types") == 3L)   // a, b, c first seen
    assert(b0.getAs[Long]("cum_tokens") == 4L && b0.getAs[Long]("cum_types") == 3L)
    assert(math.abs(b0.getAs[Double]("ttr") - 0.75) < 1e-15)
    assert(b1.getAs[Long]("n_tokens") == 3L)      // b d d
    assert(b1.getAs[Long]("n_new_types") == 1L)   // only d is new
    assert(b1.getAs[Long]("cum_tokens") == 7L && b1.getAs[Long]("cum_types") == 4L)
    assert(math.abs(b1.getAs[Double]("ttr") - 4.0 / 7.0) < 1e-15)
  }

  test("vocabGrowth: a saturated (all-repeat) tail adds tokens but no types") {
    val docs = Seq((0L, "a b c"), (10L, "a b"), (20L, "c a"))
      .toDF("doc_id", "text")
    val rows = LlmOps.vocabGrowth(docs, $"doc_id", $"text", bucketSize = 10L)
      .orderBy("bucket").collect()
    assert(rows.map(_.getAs[Long]("n_new_types")).toSeq == Seq(3L, 0L, 0L))
    assert(rows.last.getAs[Long]("cum_tokens") == 7L)
    assert(rows.last.getAs[Long]("cum_types") == 3L)
  }

  // ---- pageHinkley ----

  test("pageHinkley: hand-computed up/down drift at the argmax days") {
    // calib = [10,10,10] (mean 10); test = [10,16,4]
    // scaled devs: 0, +18, −18 → m̃ = 0, 18, 0
    // PH↑ peaks at day5 (18/3 = 6), PH↓ peaks at day6 (18/3 = 6)
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04",
      "2024-01-05", "2024-01-06")
    val vals = Seq(10L, 10L, 10L, 10L, 16L, 4L)
    val df = days.zip(vals).toDF("day", "v")
    val r = Temporal.pageHinkley(df, $"day", $"v").collect()(0)
    assert(r.getAs[Long]("n_calib") == 3L && r.getAs[Long]("n_test") == 3L)
    assert(r.getAs[Double]("ref_mean") == 10.0)
    assert(r.getAs[Double]("ph_up") == 6.0)
    assert(r.getAs[String]("ph_up_at") == "2024-01-05")
    assert(r.getAs[Double]("ph_down") == 6.0)
    assert(r.getAs[String]("ph_down_at") == "2024-01-06")
  }

  test("pageHinkley: flat series → zero drift, earliest-day tie-break") {
    val df = (1 to 8).map(i => (f"2024-01-0$i", 5L)).toDF("day", "v")
    val r = Temporal.pageHinkley(df, $"day", $"v").collect()(0)
    assert(r.getAs[Double]("ph_up") == 0.0 && r.getAs[Double]("ph_down") == 0.0)
    // every test day ties at 0 → both argmaxes report the first test day
    assert(r.getAs[String]("ph_up_at") == "2024-01-05")
    assert(r.getAs[String]("ph_down_at") == "2024-01-05")
  }
}
