package graft

import org.apache.spark.sql.functions._

import graft.ops.{DedupEvalStore, LlmOps, Relational}

/** Round-12 shared dedup-eval store (VERDICT r11 item 5): one signature +
  * exact-verify artifact per (session, corpus, m) feeds
  * dedup_threshold_sweep / lsh_recall_estimate / near_dup_eval. Parity is
  * pinned against the former inline derivations.
  */
class Round12DedupStoreSpec extends SparkTestBase {
  import spark.implicits._

  // near-dup fixture: docs 1/2 verbatim-ish duplicates, 3 unrelated, in
  // one lang block; doc 4 a second block. Repeated tokens make shingle
  // sets overlap heavily for (1,2).
  private def docs = Seq(
    (2L, "the quick brown fox jumps over the lazy dog again and again", "en"),
    (4L, "the quick brown fox jumps over the lazy dog again and again!", "en"),
    (6L, "completely different content about spark catalyst optimizers", "en"),
    (8L, "ein ganz anderer text in einer anderen sprache mit worten", "de")
  ).toDF("doc_id", "text", "lang")

  test("nearDupEvalFromStore matches the inline nearDupEval on the same universe") {
    // m=1: whole fixture (every doc_id hashes somewhere; m=1 keeps all)
    val st = DedupEvalStore.get(docs, "doc_id", "text", "lang",
      "fixture_nde", m = 1)
    val viaStore = LlmOps.nearDupEvalFromStore(
      DedupEvalStore.sigs(spark, st), DedupEvalStore.pairs(spark, st),
      "doc_id", threshold = 0.7, bands = 4, rowsPerBand = 4,
      maxBucketSize = 10000).collect()(0)
    val inline = LlmOps.nearDupEval(docs, "doc_id", "text", "lang",
      threshold = 0.7, maxBucketSize = 10000).collect()(0)
    assert(viaStore.getAs[Long]("n_truth") == inline.getAs[Long]("n_truth"))
    assert(viaStore.getAs[Long]("n_candidates") == inline.getAs[Long]("n_candidates"))
    assert(viaStore.getAs[Long]("n_hit") == inline.getAs[Long]("n_hit"))
    assert(viaStore.getAs[Long]("n_truth") >= 1L) // the (2,4) pair is truth
  }

  test("store pairs equal the inline jaccardPairs values over the md5-48 family") {
    val st = DedupEvalStore.get(docs, "doc_id", "text", "lang",
      "fixture_pairs", m = 1)
    val fromStore = DedupEvalStore.pairs(spark, st)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).toSet
    // inline twin: PPJoin over the SAME md5-48 sh sets
    val sets = docs.select(col("lang").as("__blk"), col("doc_id"),
      array_sort(LlmOps.minhashPlan(col("text"), 3, 16)
        .getField("sh")).as("__sh"))
    val inline = LlmOps.jaccardPairsFromSets(sets, "doc_id", 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).toSet
    assert(fromStore == inline)
    assert(fromStore.exists { case (a, b, j) => a == 2L && b == 4L && j >= 0.7 })
  }

  test("sampleM: one count per (session, key); m respects the size cap") {
    val m = DedupEvalStore.sampleM(docs, "fixture_m")
    assert(m == 2L) // 4 docs / 2500 → ceil = 1 → floor at 2
    // a 6000-row frame caps at ceil(6000/2500) = 3
    val big = spark.range(6000).select(col("id").as("doc_id"))
    assert(DedupEvalStore.sampleM(big, "fixture_m_big") == 3L)
  }

  test("empty verified-pair relation reads back as zero rows (explicit schema)") {
    val loner = Seq((1L, "only one document here", "en"))
      .toDF("doc_id", "text", "lang")
    val st = DedupEvalStore.get(loner, "doc_id", "text", "lang",
      "fixture_empty", m = 1)
    assert(DedupEvalStore.pairs(spark, st).count() == 0L)
    val eval = LlmOps.nearDupEvalFromStore(
      DedupEvalStore.sigs(spark, st), DedupEvalStore.pairs(spark, st),
      "doc_id", 0.7, 4, 4, 10000).collect()(0)
    assert(eval.getAs[Long]("n_truth") == 0L)
    assert(eval.isNullAt(eval.fieldIndex("recall"))) // 0/0 guarded to null
  }

  test("the store is built once per (session, key, m) and survives clearCache") {
    val st1 = DedupEvalStore.get(docs, "doc_id", "text", "lang",
      "fixture_once", m = 1)
    spark.catalog.clearCache()
    val st2 = DedupEvalStore.get(docs.filter(lit(false)), "doc_id", "text",
      "lang", "fixture_once", m = 1) // ignored: the store key wins
    // same key → the cached table is served; an actual rebuild from the
    // empty frame would have produced zero signatures
    assert(DedupEvalStore.sigs(spark, st2).count() ==
      DedupEvalStore.sigs(spark, st1).count())
    assert(DedupEvalStore.sigs(spark, st1).count() > 0L)
    // a different m is a different universe → its own store
    val st3 = DedupEvalStore.get(docs, "doc_id", "text", "lang",
      "fixture_once", m = 2)
    assert(DedupEvalStore.sigs(spark, st3).count() <
      DedupEvalStore.sigs(spark, st1).count())
  }

  test("probeWidth: 0.4 fraction until the per-query scan budget binds") {
    import graft.functions.VectorOps.probeWidth
    // sf0.01 regime: 450 candidates, 22 cells → frac 9, cap 200 → 9
    assert(probeWidth(450L, 22) == 9)
    // sf0.1 regime: 4500 candidates, 68 cells → frac 28, cap 61 → 28
    assert(probeWidth(4500L, 68) == 28)
    // 100× regime: 180k candidates, 425 cells → frac 170 would scan 40%
    // of the corpus; the 4096-vector budget caps at ~9 cells
    val capped = probeWidth(180000L, 425)
    assert(capped < 170 && capped * (180000.0 / 425) <= 4096.0 + 425)
    assert(probeWidth(1L, 4) >= 2) // floor
  }

  test("hashSample(m=2) equals the store's m=2 universe predicate") {
    // near_dup_eval formerly sampled via Relational.hashSample; the store
    // must keep the SAME predicate so the declared universe is unchanged
    val viaOp = Relational.hashSample(docs, "doc_id", m = 2)
      .select("doc_id").as[Long].collect().toSet
    val st = DedupEvalStore.get(docs, "doc_id", "text", "lang",
      "fixture_pred", m = 2)
    val viaStore = DedupEvalStore.sigs(spark, st)
      .select("doc_id").as[Long].collect().toSet
    assert(viaStore == viaOp) // every fixture doc has nonempty shingles
  }
}
