package graft

import org.apache.spark.sql.functions._

import graft.functions.MinHashAggregator
import graft.ops.Relational

/** Scale machinery: salted aggregation, typed MinHash Aggregator,
  * bucketed co-located joins.
  */
class ScaleOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("salted count/sum match unsalted results exactly (skew-safe two-phase)") {
    val df = (Seq.fill(1000)(("hot", 2.5)) ++ Seq(("a", 1.0), ("b", 3.0)))
      .zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
      .toDF("k", "v", "rowid")
    val counts = Relational.saltedCountPerGroup(df, "k", "rowid")
      .as[(String, Long)].collect().toMap
    assert(counts == Map("hot" -> 1000L, "a" -> 1L, "b" -> 1L))
    val sums = Relational.saltedSumPerGroup(df, "k", "v", "rowid")
      .as[(String, Double)].collect().toMap
    assert(sums == Map("hot" -> 2500.0, "a" -> 1.0, "b" -> 3.0))
  }

  test("MinHash Aggregator: group signature == signature of unioned text") {
    val docs = Seq(
      (1L, "g1", "the quick brown fox jumps over the lazy dog"),
      (2L, "g1", "pack my box with five dozen liquor jugs today"),
      (3L, "g2", "completely different content in this group")).toDF("id", "grp", "text")
    val k = 16
    val sigs = docs.select(col("grp"), col("id"),
        HofTwins.minhashSignature(HofTwins.shingleHashes(col("text"), 3), k).as("sig"))
      .as[(String, Long, Seq[Long])]
    val agg = new MinHashAggregator(k).toColumn
    val merged = sigs.map { case (g, _, s) => (g, s) }
      .groupByKey(_._1).mapValues(_._2).agg(agg)
      .collect().toMap

    // oracle: signature over the concatenated texts' shingle union
    val unionSig = docs.filter($"grp" === "g1")
      .agg(collect_list($"text")).as[Seq[String]].head()
      .mkString(" ")
    // elementwise-min property: merged sig component <= each member's
    val members = sigs.filter(_._1 == "g1").collect()
    members.foreach { case (_, _, s) =>
      s.indices.foreach(i => assert(merged("g1")(i) <= s(i)))
    }
    // identical groups estimate jaccard 1 with themselves
    assert(MinHashAggregator.estimateJaccard(merged("g1"), merged("g1")) == 1.0)
    assert(MinHashAggregator.estimateJaccard(merged("g1"), merged("g2")) < 0.5)
  }

  test("HLL approx distinct lands within the sketch error bound of exact") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val approx = Relational.approxDistinctPerGroup(df, "l_returnflag", "l_partkey")
      .as[(String, Long)].collect().toMap
    val exact = df.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n")).as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      val err = math.abs(approx(k) - n).toDouble / n
      assert(err < 0.05, s"$k: approx=${approx(k)} exact=$n err=$err")
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    val sf = "/root/testdata/sf0.001"
    Tables.load(spark, sf, "orders")
      .write.bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.load(spark, sf, "customer")
      .write.bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("b_customer")
    val joined = spark.table("b_customer")
      .join(spark.table("b_orders"), col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey").agg(count(lit(1)).as("n"))
    // disable broadcast so the join itself must choose a strategy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("AQE splits a skewed join partition at runtime (OptimizeSkewedJoin)") {
    // one hot key holding 95% of the left side: without skew handling its
    // entire partition lands on ONE reducer — the thing that kills a
    // 100 TB join. With thresholds scaled to the fixture, AQE's runtime
    // re-plan must mark the SMJ as skew-handled (isSkew=true), proving
    // the salted-join fallback is only needed where AQE CAN'T see
    // (pre-shuffled inputs, stateful stages — see Relational.saltedJoin).
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    try {
      val left = spark.range(200000).select(
        when($"id" < 190000, lit(7L)).otherwise($"id").as("k"), $"id".as("v"))
      val right = spark.range(2000).select($"id".as("k"), $"id".as("w"))
      val joined = left.join(right, "k")
      // collect() drives THIS df's queryExecution to its final adaptive
      // plan (count() would re-plan on a fresh AdaptiveSparkPlan copy)
      assert(joined.collect().length == 190000) // hot-key rows all match k=7
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isSkew=true") || plan.contains("skew=true"),
        s"AQE did not mark the join skew-handled:\n$plan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
