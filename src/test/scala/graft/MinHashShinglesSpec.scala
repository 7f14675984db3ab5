package graft

import org.apache.spark.sql.functions._

/** Native minhash_plan: registration, exact (bitwise) parity with the HOF
  * composition on whitespace-edge fixtures and a random corpus, the
  * HashedShingles cardinality-parity fix, and a throughput sanity check.
  */
class MinHashShinglesSpec extends SparkTestBase {
  import spark.implicits._

  // the cases ADVICE flagged: \t and \n survive trim (strips 0x20 only)
  // and must produce identical empty-token behavior in every path
  private val edgeDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "\tfoo bar"),
    (3L, "foo bar\n"),
    (4L, "\t foo \n bar \r\n"),
    (5L, ""),
    (6L, " "),
    (7L, "\t"),
    (8L, "one"),
    (9L, "one two"),            // fewer tokens than n=3: one short shingle
    (10L, "a  b   c"),          // multi-space runs collapse
    (11L, "Ünïcode TEXT hërę"), // non-ASCII lowering
    (12L, "x\u000bz y"))        // vertical tab is \s too
    .toDF("doc_id", "text")

  test("minhash_plan resolves via SQL (SparkSessionExtensions registration)") {
    assert(spark.catalog.functionExists("minhash_plan"))
    val r = spark.sql("SELECT minhash_plan('a b c d', 3, 4) AS m")
      .select(size($"m.sh"), size($"m.sig")).as[(Int, Int)].head()
    assert(r == ((2, 4))) // 2 shingles ("a b c","b c d"), 4 sig components
  }

  test("native == HOF bitwise on whitespace-edge fixtures (sh AND sig)") {
    val both = edgeDocs.select($"doc_id",
      call_function("minhash_plan", $"text", lit(3), lit(16)).as("native"),
      HofTwins.minhashPlan($"text", 3, 16).as("hof"))
    val rows = both.select($"doc_id",
        $"native.sh", $"native.sig", $"hof.sh", $"hof.sig")
      .as[(Long, Seq[Long], Seq[Long], Seq[Long], Seq[Long])].collect()
    rows.foreach { case (id, nsh, nsig, hsh, hsig) =>
      assert(nsh == hsh, s"doc $id shingle sets diverged: $nsh vs $hsh")
      assert(nsig == hsig, s"doc $id signatures diverged")
    }
  }

  test("native == HOF bitwise on a 500-doc random corpus") {
    val docs = spark.range(500).select($"id",
      concat_ws(" ", transform(sequence(lit(0), pmod(xxhash64($"id"), lit(40)) + 2),
        i => concat(lit("w"), pmod(xxhash64($"id", i), lit(50))))).as("text"))
    val diverged = docs.select(
        call_function("minhash_plan", $"text", lit(3), lit(16)).as("native"),
        HofTwins.minhashPlan($"text", 3, 16).as("hof"))
      .filter($"native" =!= $"hof")
      .count()
    assert(diverged == 0)
  }

  test("HashedShingles cardinality matches HOF on whitespace edges (ADVICE fix)") {
    val counts = edgeDocs.select($"doc_id",
        size(call_function("hashed_shingles", $"text", lit(3))).as("native_n"),
        size(HofTwins.shingleHashes($"text", 3)).as("hof_n"))
      .as[(Long, Int, Int)].collect()
    counts.foreach { case (id, nat, hof) =>
      assert(nat == hof, s"doc $id shingle count diverged: native=$nat hof=$hof")
    }
  }

  test("near-dup pipeline results are identical with and without the native path") {
    // nearDupPairs picks native vs HOF by function registration; both paths
    // compute the same md5-48 values, so pair sets AND jaccard values must
    // match bitwise. Emulate the fallback by calling the HOF plan directly.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog  "),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "completely different words entirely unrelated text here okay"))
      .toDF("doc_id", "text")
    val native = docs.select($"doc_id",
      call_function("minhash_plan", $"text", lit(3), lit(16)).as("m"))
    val hof = docs.select($"doc_id", HofTwins.minhashPlan($"text", 3, 16).as("m"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("native path beats the HOF fold on a wide scan (throughput sanity)") {
    val docs = spark.range(4000).select($"id",
      concat_ws(" ", transform(sequence(lit(0), lit(80)),
        i => concat(lit("word"), pmod(xxhash64($"id", i), lit(500))))).as("text"))
      .persist()
    docs.count()
    def timeIt(c: org.apache.spark.sql.Column): Long = {
      val t0 = System.nanoTime()
      docs.select(sum(size(c.getField("sig")))).head()
      System.nanoTime() - t0
    }
    timeIt(call_function("minhash_plan", $"text", lit(3), lit(16)))
    timeIt(HofTwins.minhashPlan($"text", 3, 16))
    val native = timeIt(call_function("minhash_plan", $"text", lit(3), lit(16)))
    val hof = timeIt(HofTwins.minhashPlan($"text", 3, 16))
    info(f"native=${native / 1e6}%.1f ms hof=${hof / 1e6}%.1f ms")
    assert(native < hof, s"native not faster: $native vs $hof")
    docs.unpersist()
  }
}
