package graft

import org.apache.spark.sql.functions._

import graft.ops.{Assoc, LlmOps}

/** Native ordered_pairs (r17): registration, exact parity (multiset AND
  * emission order) with the nested-HOF pair emission it replaced in
  * pmiPairs/sourceOverlap, and the null contract.
  */
class OrderedPairsSpec extends SparkTestBase {
  import spark.implicits._

  /** The exact pre-r17 nested-HOF formulation. */
  private def hofPairs(arr: org.apache.spark.sql.Column) =
    flatten(transform(arr, a =>
      filter(transform(arr, b => struct(a.as("a"), b.as("b"))),
        p => p.getField("a") < p.getField("b"))))

  test("ordered_pairs resolves via SQL (SparkSessionExtensions registration)") {
    assert(spark.catalog.functionExists("ordered_pairs"))
    val r = spark.sql("SELECT ordered_pairs(array('b', 'a', 'c'))")
      .as[Seq[(String, String)]].head()
    assert(r == Seq(("b", "c"), ("a", "b"), ("a", "c")))
  }

  test("exact parity with the nested HOF on random string arrays (order included)") {
    val rng = new scala.util.Random(17)
    val df = (0 until 300)
      .map(i => (i.toLong,
        Seq.fill(rng.nextInt(40))(rng.alphanumeric.take(1 + rng.nextInt(6)).mkString)))
      .toDF("id", "ts")
    val mismatches = df.select($"id",
        Assoc.orderedPairs($"ts").as("one"),
        hofPairs($"ts").as("hof"))
      .filter(not($"one" <=> $"hof")) // null-safe: any order/element diff fails
      .count()
    assert(mismatches == 0)
  }

  test("duplicate values pair count(x)*count(y) times, exactly like the HOF") {
    val df = Seq((1L, Seq("a", "b", "a", "b", "c"))).toDF("id", "ts")
    val (one, hof) = df.select(
        Assoc.orderedPairs($"ts").as("one"), hofPairs($"ts").as("hof"))
      .as[(Seq[(String, String)], Seq[(String, String)])].head()
    assert(one == hof)
    assert(one.count(_ == ("a", "b")) == 4) // 2 a-positions x 2 b-positions
  }

  test("null elements drop their pairs; a null array yields null, like the HOF") {
    val df = Seq(
      (1L, Some(Seq(Some("a"), None, Some("c")))),
      (2L, None: Option[Seq[Option[String]]]))
      .toDF("id", "ts")
    val rows = df.select($"id",
        Assoc.orderedPairs($"ts").as("one"), hofPairs($"ts").as("hof"))
      .as[(Long, Option[Seq[(String, String)]], Option[Seq[(String, String)]])]
      .collect().sortBy(_._1)
    assert(rows(0)._2 == rows(0)._3 && rows(0)._2.get == Seq(("a", "c")))
    assert(rows(1)._2.isEmpty && rows(1)._3.isEmpty)
  }

  test("drop-in for Assoc.pairStructs on strictly-ascending arrays (exact order)") {
    val rng = new scala.util.Random(7)
    val df = (0 until 200)
      .map(i => (i.toLong,
        rng.shuffle((0 until 200).toList).take(rng.nextInt(30)).distinct.sorted
          .map(_.toLong)))
      .toDF("id", "ts")
    val mismatches = df.select($"id",
        Assoc.orderedPairs($"ts").as("one"),
        HofTwins.pairStructs($"ts").as("hof"))
      .filter(not($"one" <=> $"hof"))
      .count()
    assert(mismatches == 0)
  }

  test("works on non-string orderable elements (long), parity with HOF") {
    val df = Seq((1L, Seq(3L, 1L, 2L))).toDF("id", "ts")
    val (one, hof) = df.select(
        Assoc.orderedPairs($"ts").as("one"), hofPairs($"ts").as("hof"))
      .as[(Seq[(Long, Long)], Seq[(Long, Long)])].head()
    assert(one == hof && one == Seq((1L, 3L), (1L, 2L), (2L, 3L)))
  }

  test("pmiPairs output unchanged by the native rewrite (fixture)") {
    val docs = Seq(
      (0L, "spark join fast table scan"),
      (1L, "spark join fast window merge"),
      (2L, "spark join table scan dup"),
      (3L, "vector merge dup window fast"),
      (4L, "spark fast table join scan"))
      .toDF("doc_id", "text")
    val out = LlmOps.pmiPairs(docs, "doc_id", "text", minDf = 2, perDocCap = 8, k = 5)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(out.length == 5)
    // top pair deterministic: (fast, spark) co-occur in docs 0,1,4
    assert(out.head._1 == "fast" && out.head._2 == "join" || out.head._3 >= 3L)
    assert(out.forall(r => r._1 < r._2))
    spark.catalog.clearCache()
  }
}
