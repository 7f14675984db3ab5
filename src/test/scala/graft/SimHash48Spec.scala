package graft

import org.apache.spark.sql.functions._

/** Native simhash48: registration and exact (bitwise) parity with the
  * interpreted HOF fold on whitespace-edge fixtures and a random corpus —
  * the same guarantee that lets the DuckDB oracle replay the sketch.
  */
class SimHash48Spec extends SparkTestBase {
  import spark.implicits._

  private val edgeDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "\tfoo bar"),
    (3L, "foo bar\n"),
    (4L, "\t foo \n bar \r\n"),
    (5L, ""),
    (6L, " "),
    (7L, "\t"),
    (8L, "one"),
    (9L, "a  b   c"),
    (10L, "Ünïcode TEXT hërę"),
    (11L, "xz y"),
    (12L, "repeat repeat repeat repeat distinct")) // multiset votes matter
    .toDF("doc_id", "text")

  test("simhash48 resolves via SQL (SparkSessionExtensions registration)") {
    assert(spark.catalog.functionExists("simhash48"))
    val v = spark.sql("SELECT simhash48('a b c', 48) AS s").as[Long].head()
    assert(v >= 0L && v < (1L << 48))
  }

  test("native == HOF bitwise on whitespace-edge fixtures") {
    val rows = edgeDocs.select($"doc_id",
        call_function("simhash48", $"text", lit(48)).as("native"),
        HofTwins.simhash($"text", 48).as("hof"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (id, nat, hof) =>
      assert(nat == hof, s"doc $id sketch diverged: native=$nat hof=$hof")
    }
  }

  test("native == HOF bitwise on a 500-doc random corpus") {
    val docs = spark.range(500).select($"id",
      concat_ws(" ", transform(sequence(lit(0), pmod(xxhash64($"id"), lit(40)) + 2),
        i => concat(lit("w"), pmod(xxhash64($"id", i), lit(50))))).as("text"))
    val diverged = docs.select(
        call_function("simhash48", $"text", lit(48)).as("native"),
        HofTwins.simhash($"text", 48).as("hof"))
      .filter($"native" =!= $"hof")
      .count()
    assert(diverged == 0)
  }

  test("out-of-range literal bits fails at analysis, not per-row") {
    // simhash48(t, 64) is a type error: the portable md5-48 family carries
    // 48 bits. With a foldable bits argument the failure must surface at
    // ANALYSIS time (AnalysisException naming the range), not as a per-row
    // IllegalArgumentException once execution starts.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash48('a b c', 64)").queryExecution.analyzed
    }
    assert(e.getMessage.contains("1..48"), e.getMessage)
    val e0 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash48('a b c', 0)").queryExecution.analyzed
    }
    assert(e0.getMessage.contains("1..48"), e0.getMessage)
  }

  test("narrower bit widths agree too (band math depends on them)") {
    val diverged = edgeDocs.select(
        call_function("simhash48", $"text", lit(12)).as("native"),
        HofTwins.simhash($"text", 12).as("hof"))
      .filter($"native" =!= $"hof")
      .count()
    assert(diverged == 0)
  }
}
