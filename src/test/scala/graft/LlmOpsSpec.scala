package graft

import org.apache.spark.sql.functions._

import graft.ops.LlmOps

/** SURVEY.md §2.12 [north-star]: dedup flavors, text stats, language ID. */
class LlmOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The quick brown fox jumps over the lazy dog  "), // exact dup mod norm
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different words entirely unrelated text here okay"),
    (5L, "")).toDF("doc_id", "text")

  test("round-5 operators are total on empty input: zero rows, no crash") {
    val emptyDocs = docs.filter(lit(false))
    assert(LlmOps.ngramDupRate(emptyDocs, "doc_id", "text").count() == 0)
    assert(LlmOps.dupSpanStats(emptyDocs, "doc_id", "text").count() == 0)
    assert(LlmOps.filterFunnel(emptyDocs, "doc_id", "text", 100, 0.2, 0.5).count() == 0)
    assert(LlmOps.fertilityByGroup(emptyDocs, "doc_id", "text").count() == 0)
    val emptyW = Seq.empty[(String, Long)].toDF("g", "n")
    assert(LlmOps.mixturePlan(emptyW, "g", "n").count() == 0)
    assert(LlmOps.mixturePlanTemperature(emptyW, "g", "n").count() == 0)
    assert(LlmOps.tokenLengthHistogram(emptyW, "g", "n").count() == 0)
    assert(LlmOps.contaminationBloom(emptyDocs, "doc_id", "text",
      emptyDocs, "text", shingleN = 3).count() == 0)
    assert(LlmOps.incrementalNearDup(emptyDocs, emptyDocs, "doc_id", "text").count() == 0)
    spark.catalog.clearCache()
  }

  test("round-6 operators are total on empty input: zero rows, no crash") {
    val emptyDocs = docs.filter(lit(false))
    assert(LlmOps.bpePairCounts(emptyDocs, "text").count() == 0)
    assert(LlmOps.heavyHitters(emptyDocs, "text").count() == 0)
    val emptyIdW = Seq.empty[(Long, String, Long)].toDF("id", "g", "n")
    assert(LlmOps.mixtureApply(emptyIdW, "g", "id", "n").count() == 0)
    assert(LlmOps.iqrOutliers(emptyIdW, "g", "id", "n").count() == 0)
    val emptyEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.ops.Graph.pageRank(emptyEdges, "src", "dst").count() == 0)
    val emptyEv = Seq.empty[(Long, Long, java.sql.Timestamp, String)]
      .toDF("event_id", "user_id", "ts", "event_type")
    assert(graft.ops.Temporal.topEventPaths(emptyEv, "user_id", "ts",
      "event_id", "event_type").count() == 0)
    assert(graft.ops.Temporal.gapFillDaily(emptyEv, "user_id", "ts").count() == 0)
    assert(graft.ops.Temporal.scd2Lookup(
      emptyEv.select($"event_id", $"user_id", $"ts"),
      emptyEv.select($"user_id".as("d_user"), $"event_type".as("dim_type"),
        $"ts".as("valid_from"), $"ts".as("valid_to")),
      "user_id", "d_user", "ts").count() == 0)
    assert(graft.ops.Relational.equiWidthHistogram(
      emptyIdW.select($"n".as("v")), "v").count() == 0)
    assert(graft.ops.Relational.groupingSetsAgg(emptyIdW,
      Seq(Seq("g"), Seq()), Seq("g"), sum($"n").as("s")).count() == 0)
    // ^ Spark plans grouping sets as Expand + grouped aggregation, so an
    //   empty input yields zero rows for EVERY set — including (), where
    //   ANSI SQL (and DuckDB) would emit one global row. The declared
    //   grouping_sets_revenue query uses only non-empty sets, so the
    //   oracle twin cannot hit this divergence.
    val emptyVec = Seq.empty[(Long, Int, Seq[Float])].toDF("vec_id", "label", "embedding")
    assert(graft.functions.VectorOps.knnClassify(
      emptyVec, emptyVec, "vec_id", "embedding", "label").count() == 0)
    spark.catalog.clearCache()
  }

  test("perplexity buckets: equal tiles per group, doc mass preserved") {
    val df = Seq(
      (1L, "en", "the the the the the"),   // repeated common bigrams → high score
      (2L, "en", "the the the quick fox"),
      (3L, "en", "quick brown fox jumps"),
      (4L, "en", "alpha beta gamma delta"),
      (5L, "en", "epsilon zeta eta theta"),
      (6L, "en", "unique wording here indeed"))
      .toDF("doc_id", "lang", "text")
    val out = LlmOps.perplexityBuckets(df, "doc_id", "lang", "text")
      .as[(String, Long, Long, Long)].collect()
    assert(out.map(_._3).sum == 6)                  // every doc bucketed once
    assert(out.map(_._2).toSet == Set(1L, 2L, 3L))  // three tiles present
    assert(out.forall(_._3 == 2))                   // 6 docs / 3 tiles = 2 each
    spark.catalog.clearCache()
  }

  test("cms term counts: exact truth, never underestimates, overcount bounded by mass") {
    // a=4, b=3, c=2, d=e=f=1 across both docs; width 4 / depth 2 forces
    // counter collisions so the min-fold and invariant are exercised
    val df = Seq((1L, "a a a b b c"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val out = LlmOps.cmsTermCounts(df, "text", depth = 2, width = 4, topK = 10)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.length == 6)
    assert(out.map(_._2).sorted.reverse.toSeq == Seq(4L, 3L, 2L, 1L, 1L, 1L))
    assert(out.forall(_._4), s"CMS underestimated: ${out.mkString(",")}")
    assert(out.forall(r => r._3 >= r._2))
    // any single cell holds at most the whole stream's mass
    assert(out.forall(r => r._3 <= 12))
    spark.catalog.clearCache()
  }

  test("zero-weight groups yield null (not NaN/Inf) rates — ADVICE totality fix") {
    // a source whose docs all have zero tokens: share/sample_rate/fertility
    // must be null like DuckDB's x/0, never NaN or Infinity
    val w = Seq(("a", 10L), ("a", 20L), ("z", 0L), ("z", 0L)).toDF("g", "n")
    val mp = LlmOps.mixturePlan(w, "g", "n")
      .filter($"g" === "z").select("share", "sample_rate")
      .as[(Option[Double], Option[Double])].head()
    assert(mp._1.contains(0.0) && mp._2.isEmpty) // share 0/30 = 0; rate min/0 = null
    val mpt = LlmOps.mixturePlanTemperature(w, "g", "n")
      .filter($"g" === "z").select("sample_rate", "sampled_tokens")
      .as[(Option[Double], Option[Double])].head()
    assert(mpt._1.isEmpty && mpt._2.isEmpty)
    // all-zero corpus: share itself divides by a zero total
    val allZero = Seq(("z", 0L)).toDF("g", "n")
    val mz = LlmOps.mixturePlan(allZero, "g", "n")
      .select("share", "sample_rate").as[(Option[Double], Option[Double])].head()
    assert(mz._1.isEmpty && mz._2.isEmpty)
    val fert = LlmOps.fertilityByGroup(
        Seq((1L, ""), (2L, "")).toDF("doc_id", "text").withColumn("g", lit("z")),
        "g", "text")
      .select("fertility").as[Option[Double]].head()
    assert(fert.isEmpty)
  }

  test("exact dedup keeps min id per normalized text; idempotent (L1)") {
    val ids = LlmOps.dedupExactIds(docs, "doc_id", "text").as[Long].collect().toSet
    assert(ids == Set(1L, 3L, 4L, 5L)) // 2 collapses into 1
    // idempotence: dedup(dedup(x)) == dedup(x)
    val once = docs.join(LlmOps.dedupExactIds(docs, "doc_id", "text"), "doc_id")
    val twice = LlmOps.dedupExactIds(once, "doc_id", "text").as[Long].collect().toSet
    assert(twice == ids)
  }

  test("near-dup pairs: finds (1,2) and (1,3)-style overlaps, not unrelated docs") {
    // 16 bands of 1 row: candidate-detection probability for jaccard 0.75
    // is 1-(1-0.75)^16 ≈ 1-1e-10, so the assertion isn't at the mercy of
    // which band a borderline pair hashes into (with the default 4 bands
    // of 4, a 0.75-pair is only ~78% likely to surface as a candidate)
    val pairs = LlmOps.nearDupPairs(docs, "doc_id", "text",
        numHashes = 16, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical after normalization
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // one-word change
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }) // unrelated
  }

  test("near-dup pairs accept non-bigint id columns (native census gates on type)") {
    // the native bounded_collect_list aggregate is bigint-only; a string
    // id must transparently ride the collect_list fallback with the same
    // pair results, not fail analysis when GraftExtensions is installed
    val sdocs = docs.select(concat(lit("d"), $"doc_id").as("doc_id"), $"text")
    val pairs = LlmOps.nearDupPairs(sdocs, "doc_id", "text",
        numHashes = 16, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(pairs.contains(("d1", "d2")))
    val sp = LlmOps.simhashPairs(sdocs, "doc_id", "text")
      .select("id_a", "id_b").as[(String, String)].collect()
    assert(sp.forall { case (a, b) => a < b })   // emission still ordered
    spark.catalog.clearCache()
  }

  test("near-dup jaccard is symmetric-deterministic and bounded (0,1]") {
    val out = LlmOps.nearDupPairs(docs, "doc_id", "text", threshold = 0.1)
      .as[(Long, Long, Double)].collect()
    out.foreach { case (a, b, j) =>
      assert(a < b) // canonical pair ordering
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("jaccard contract: distinct-set inputs (ADVICE r4 — |A|+|B|-|A∩B| needs them)") {
    // LlmOps.jaccard computes the union size as |A|+|B|-|A∩B|, which is
    // exact ONLY for distinct arrays (the documented contract; every
    // in-repo caller passes array_distinct/set outputs). This spec pins
    // the contract: on distinct sets it equals the classic
    // intersect/union formula bit for bit, and on a NON-distinct input it
    // visibly diverges — a future caller passing raw token arrays fails
    // here first instead of shipping plausible-but-wrong similarities.
    val df = Seq(
      (Array(1L, 2L, 3L), Array(2L, 3L, 4L)),       // distinct: j = 2/4
      (Array(1L, 1L, 2L), Array(1L, 2L, 2L)))       // NON-distinct
      .toDF("a", "b")
    val classic = size(array_intersect($"a", $"b")).cast("double") /
      size(array_union($"a", $"b")).cast("double")
    val rows = df.select(LlmOps.jaccard($"a", $"b").as("fast"), classic.as("classic"))
      .as[(Double, Double)].collect()
    assert(rows(0)._1 == rows(0)._2 && rows(0)._1 == 0.5)
    assert(rows(1)._1 != rows(1)._2,
      "non-distinct input should diverge from the set formula — contract no longer observable")
  }

  test("minhash estimate: exact dups estimate 1.0; est bounded and dyadic") {
    val out = LlmOps.minhashEstimatePairs(docs, "doc_id", "text",
        numHashes = 16, bands = 16)
      .as[(Long, Long, Double, Double)].collect()
    val m = out.map { case (a, b, j, e) => (a, b) -> (j, e) }.toMap
    // docs 1 and 2 are identical after normalization: identical shingle
    // sets ⇒ identical signatures ⇒ both the exact and estimated jaccard
    // are exactly 1.0
    assert(m((1L, 2L)) == ((1.0, 1.0)))
    out.foreach { case (a, b, _, e) =>
      assert(a < b)
      assert(e >= 0.0 && e <= 1.0)
      // est = matches/16: an exact dyadic double (the oracle replays it bitwise)
      assert(e * 16 == math.rint(e * 16), s"est $e is not n/16")
    }
  }

  test("incremental dedup: base dups, in-batch dups and fresh docs classified") {
    val base = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, " Alpha Beta Gamma "),    // normalizes (lower+trim) into base doc 1 → dup_of_base
      (11L, "eta theta iota"),        // fresh, first occurrence → keep
      (12L, "eta theta iota"),        // same fp as 11, larger id → dup_in_batch
      (13L, "kappa lambda mu"))       // fresh → keep
      .toDF("doc_id", "text")
    val got = LlmOps.incrementalDedup(base, batch, "doc_id", "text")
      .as[(Long, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      10L -> ((true, false, false)),
      11L -> ((false, false, true)),
      12L -> ((false, true, false)),
      13L -> ((false, false, true))))
  }

  test("incremental near-dup: base collisions, in-batch collisions, fresh docs") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "some other base document with distinct content here")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),  // exact dup of base 1
      (11L, "the quick brown fox jumps over the lazy cat"),  // near dup of base 1
      (12L, "completely different words entirely unrelated text here okay"),
      (13L, "the quick brown fox jumps over the lazy dog")   // dup of base AND of 10
    ).toDF("doc_id", "text")
    // 16 bands of 1 row: candidate probability ~1 at jaccard 0.75 (same
    // reasoning as the nearDupPairs spec — 4x4 banding would be ~78%)
    val out = LlmOps.incrementalNearDup(base, batch, "doc_id", "text",
        numHashes = 16, bands = 16, rowsPerBand = 1, threshold = 0.5)
      .select("doc_id", "near_dup_of_base", "near_dup_in_batch", "keep")
      .as[(Long, Boolean, Boolean, Boolean)].collect()
      .map { case (id, a, b, k) => id -> ((a, b, k)) }.toMap
    assert(out(10L) == ((true, false, false)))
    assert(out(11L) == ((true, true, false)))   // near dup of base 1 AND batch-mate 10
    assert(out(12L) == ((false, false, true)))
    assert(out(13L) == ((true, true, false)))   // dup of base and of batch-mate 10
    spark.catalog.clearCache()
  }

  test("simhash: identical texts same sketch; near-dups low hamming distance") {
    val sh = LlmOps.simhash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L)) // same normalized tokens
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("text stats: counts are exact on a known string") {
    val df = Seq((1L, "ab cd3 x!")).toDF("doc_id", "text")
    val row = LlmOps.textStats(df, "doc_id", "text").head()
    assert(row.getAs[Long]("n_chars_calc") == 9L)
    assert(row.getAs[Long]("n_tokens") == 3L)
    // bpe-ish: [ab][cd][3][x][!]
    assert(row.getAs[Long]("n_bpe_tokens") == 5L)
    assert(row.getAs[Long]("n_digits") == 1L)
    assert(row.getAs[String]("fp").length == 32) // md5 hex
  }

  test("empty text: stats are zero, not null/error") {
    val df = Seq((1L, "")).toDF("doc_id", "text")
    val row = LlmOps.textStats(df, "doc_id", "text").head()
    assert(row.getAs[Long]("n_chars_calc") == 0L)
    assert(row.getAs[Long]("n_tokens") == 0L)
  }

  test("language ID picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el perro y la casa de que el gato"),
      (3L, "le chat et les maisons des le chien")).toDF("doc_id", "text")
    val out = LlmOps.langIdHeuristic(df, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "fr"))
  }

  test("winnowing: docs sharing a long run share a fingerprint; short overlap may not") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "PREFIX alpha beta gamma delta epsilon zeta eta theta iota kappa"), // shares long run
      (3L, "totally disjoint vocabulary here with other words entirely now")).toDF("doc_id", "text")
    val fps = df.select($"doc_id", LlmOps.winnowFingerprints($"text", 3, 4).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty) // guaranteed by winnowing
    assert(fps(1L).toSet.intersect(fps(3L).toSet).isEmpty)
    val nShingles = df.filter($"doc_id" === 1)
      .select(size(LlmOps.shingleHashes($"text", 3))).as[Int].head()
    assert(fps(1L).size <= nShingles) // sketch is never larger than the full set
  }

  test("hot LSH buckets are capped: boilerplate flood can't go quadratic") {
    // 100 identical boilerplate docs land in the same band buckets; two
    // legitimately similar docs live in small buckets. With the cap above
    // the flood everything surfaces (quadratic: C(100,2) boilerplate
    // pairs); with the cap below it the flood's buckets are dropped before
    // the self-join while the small-bucket pair is still found.
    val boiler = (1L to 100L).map(i => (i, "all rights reserved contact us terms of service apply"))
    val real = Seq(
      (201L, "the quick brown fox jumps over the lazy dog tonight"),
      (202L, "the quick brown fox jumps over the lazy dog today"))
    val docs = (boiler ++ real).toDF("doc_id", "text")
    val uncapped = LlmOps.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size >= 100 * 99 / 2, s"expected the full boilerplate clique, got ${uncapped.size}")
    assert(uncapped.contains((201L, 202L)))
    val capped = LlmOps.nearDupPairs(docs, "doc_id", "text", threshold = 0.5,
        maxBucketSize = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((201L, 202L)), "small-bucket pair lost to the cap")
    assert(!capped.exists { case (a, b) => a <= 100L && b <= 100L },
      "hot-bucket pairs should be dropped by the cap")
  }

  test("nearDupPairs rejects bands that don't divide numHashes (ADVICE fix)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      LlmOps.nearDupPairs(docs, "doc_id", "text", numHashes = 16, bands = 5)
    }
  }

  test("jaccardPairs matches a brute-force all-pairs oracle incl. edge docs") {
    // richer fixture than the corpus exercises: several true near-dup pairs,
    // sub-n-token docs, and whitespace-edged docs — validates the PPJoin
    // prefix filter + length filter never drop a qualifying pair (ADVICE).
    val docs = Seq(
      (1L, "s", "alpha beta gamma delta epsilon zeta"),
      (2L, "s", "alpha beta gamma delta epsilon eta"),    // near-dup of 1
      (3L, "s", "alpha beta gamma delta epsilon zeta"),   // exact dup of 1
      (4L, "s", "one two"),                               // sub-n tokens
      (5L, "s", "one two"),                               // dup of 4
      (6L, "s", "\talpha beta gamma delta epsilon zeta"), // tab edge
      (7L, "s", "unrelated totally different content here now"),
      (8L, "t", "alpha beta gamma delta epsilon zeta"))   // other block
      .toDF("doc_id", "source", "text")
    val got = LlmOps.jaccardPairs(docs, "doc_id", "text", "source", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force oracle: all same-block pairs with true shingle jaccard >= 0.5
    val sets = docs.select($"doc_id", $"source",
        HofTwins.shingles($"text", 3).as("sh"))
      .as[(Long, String, Seq[String])].collect()
    val expected = (for {
      (a, sa, sha) <- sets; (b, sb, shb) <- sets
      if sa == sb && a < b
      j = sha.toSet.intersect(shb.toSet).size.toDouble / sha.toSet.union(shb.toSet).size
      if j >= 0.5
    } yield (a, b)).toSet
    assert(got == expected, s"got=$got expected=$expected")
    assert(expected.contains((1L, 2L)) && expected.contains((1L, 3L)) &&
      expected.contains((4L, 5L)), "fixture should contain real near-dup pairs")
  }

  test("contamination: full overlap 1.0, disjoint 0.0, partial in between") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),          // exact benchmark doc
      (2L, "totally unrelated words here with nothing shared"),
      (3L, "alpha beta gamma delta unshared tail portion now")) // shares a prefix run
      .toDF("doc_id", "text")
    val got = LlmOps.contamination(corpus, "doc_id", "text", bench, "text", 3)
      .select("doc_id", "containment").as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0)
    assert(got(2L) == 0.0)
    assert(got(3L) > 0.0 && got(3L) < 1.0, s"partial overlap scored ${got(3L)}")
    // a short doc collapses to one catch-all shingle (n_shingles >= 1),
    // so containment is a defined 0.0; the op's zero-denominator guard
    // additionally makes an empty shingle column impossible to ANSI-crash
    val short = LlmOps.contamination(
      Seq((9L, "ab")).toDF("doc_id", "text"), "doc_id", "text", bench, "text", 3)
      .select("doc_id", "containment").as[(Long, Option[Double])].collect()
    assert(short.toSeq == Seq((9L, Some(0.0))))
  }

  test("bloom contamination: no false negatives; exact hits bounded by bloom hits") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),     // full overlap: every shingle exact-hits
      (2L, "alpha beta gamma nine ten"),  // partial: shares "alpha beta gamma"
      (3L, "uu vv ww xx yy zz")           // disjoint: n_exact 0
    ).toDF("doc_id", "text")
    val out = LlmOps.contaminationBloom(corpus, "doc_id", "text",
        bench, "text", shingleN = 3, bits = 1 << 18, k = 3)
      .select("doc_id", "n_shingles", "n_exact", "n_bloom", "bloom_ok")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map { case (id, n, e, b, ok) => id -> ((n, e, b, ok)) }.toMap
    // doc 1: both 3-shingles of the 4-token bench doc
    assert(out(1L)._2 == 2L)
    // doc 2: exactly "alpha beta gamma"
    assert(out(2L)._2 == 1L)
    assert(out(3L)._2 == 0L)
    // structural invariant: a true member's bits are all set
    out.values.foreach { case (n, e, b, ok) =>
      assert(ok && b >= e && b <= n)
    }
    // at 2^18 bits with ~2 benchmark shingles, false positives are
    // essentially impossible: bloom == exact on this fixture
    out.values.foreach { case (_, e, b, _) => assert(b == e) }
    spark.catalog.clearCache()
  }

  test("lang profile aggregates exact counts") {
    val df = Seq(("en", 10L), ("en", 20L), ("fr", 5L)).toDF("lang", "n_chars")
    val out = LlmOps.langProfile(df, "lang", "n_chars")
      .select("lang", "n_docs", "total_chars", "avg_chars")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(out == Set(("en", 2L, 30L, 15.0), ("fr", 1L, 5L, 5.0)))
  }

  test("pii scrub redacts emails before digit runs and counts both") {
    val df = Seq(
      (1L, "reach me at bob42@mail.example.com or call 555 1234"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val out = LlmOps.piiScrub(df, "doc_id", "text")
      .select("doc_id", "n_emails", "n_nums")
      .as[(Long, Long, Long)].collect()
      .map { case (i, e, n) => i -> ((e, n)) }.toMap
    // doc 1: one email; digits 42 are INSIDE the email (scrubbed with it),
    // so only the two phone runs remain as digit runs
    assert(out(1L) == ((1L, 2L)))
    assert(out(2L) == ((0L, 0L)))
    // redacted text carries the placeholders, not the original bytes
    val red = LlmOps.piiScrub(df, "doc_id", "text")
      .filter($"doc_id" === 1L).select("redacted_fp").as[String].head()
    val expected = df.filter($"doc_id" === 1L)
      .select(md5(lit("reach me at <EMAIL> or call <NUM> <NUM>")))
      .as[String].head()
    assert(red == expected)
  }

  test("chunk dedup: ownership goes to min doc id; counts cover partial tail chunks") {
    val df = Seq(
      (1L, "a b c d e f"),   // chunks(3): "a b c", "d e f"
      (2L, "a b c x y z"),   // shares chunk "a b c" with doc 1
      (3L, "a b c d e f"),   // full dup of doc 1
      (4L, "q r s t")).toDF("doc_id", "text") // chunks: "q r s", "t"
    val out = LlmOps.chunkDedup(df, "doc_id", "text", chunkTokens = 3)
      .select("doc_id", "n_chunks", "n_owned")
      .as[(Long, Long, Long)].collect()
      .map { case (i, c, o) => i -> ((c, o)) }.toMap
    assert(out(1L) == ((2L, 2L))) // owns both its chunks
    assert(out(2L) == ((2L, 1L))) // "a b c" owned by doc 1
    assert(out(3L) == ((2L, 0L))) // everything owned by doc 1
    assert(out(4L) == ((2L, 2L))) // partial tail chunk "t" still counted
  }

  test("simhash pairs: near-dups surface through banding; disjoint docs never pair") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "the quick brown fox jumps over the lazy dog tonight today"), // 1-word change
      (3L, "entirely disjoint vocabulary with completely different token content here"))
      .toDF("doc_id", "text")
    // 12 bands of 4 bits → pigeonhole-lossless up to hamming 11
    val got = LlmOps.simhashPairs(df, "doc_id", "text", bands = 12, maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)), s"near-identical docs must pair: $got")
    assert(!got.exists { case (a, b) => a == 3L || b == 3L },
      s"disjoint doc must not pair: $got")
    // pigeonhole guarantee: identical sketches agree on every band
    val sk = LlmOps.simhash(df, "doc_id", "text").as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sk(1L), sk(2L)) <= 10)
  }

  test("simhash pairs rejects maxHamming >= bands (banding no longer lossless)") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      LlmOps.simhashPairs(df, "doc_id", "text", bands = 4, maxHamming = 4)
    }
  }

  test("simhash dropped-bucket census surfaces what the hot-bucket cap loses") {
    // 50 identical boilerplate docs collapse into ONE bucket per band;
    // with the cap below 50 the pair join drops them all — the census
    // must say so (4 bands → 4 dropped buckets of 50), and the capped run
    // must produce zero pairs (the drop is real, not hypothetical).
    val boiler = (1L to 50L).map(i => (i, "identical boilerplate text row"))
      .toDF("doc_id", "text")
    val census = LlmOps.simhashDroppedBuckets(boiler, "doc_id", "text",
        maxBucketSize = 10)
      .as[(Int, Long, Long)].collect()
    assert(census.length == 4 && census.forall(_._3 == 50L),
      s"expected 4 over-cap buckets of 50, got ${census.toSeq}")
    val capped = LlmOps.simhashPairs(boiler, "doc_id", "text", maxBucketSize = 10)
    assert(capped.count() == 0)
    // …and an uncapped census over a heterogeneous corpus is empty
    val mixed = (1L to 20L).map(i => (i, s"document number $i with words w${i % 7} w${i % 11}"))
      .toDF("doc_id", "text")
    assert(LlmOps.simhashDroppedBuckets(mixed, "doc_id", "text").isEmpty)
  }

  test("vocab coverage: in-vocab ratio exact on a tiny corpus") {
    val df = Seq(
      (1L, "aa aa bb"),   // all tokens in top-2 vocab {aa, bb}
      (2L, "aa zz")).toDF("doc_id", "text") // zz out of vocab
    val out = LlmOps.vocabCoverage(df, "doc_id", "text", topK = 2)
      .select("doc_id", "n_tokens", "n_in_vocab", "coverage")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (i, n, v, c) => i -> ((n, v, c)) }.toMap
    assert(out(1L) == ((3L, 3L, 1.0)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    spark.catalog.clearCache()
  }

  test("lm score: common-bigram docs outscore rare-bigram docs; exact on a known corpus") {
    val df = Seq(
      (1L, "a b a b"),  // bigrams: ab, ba, ab
      (2L, "a b c d"),  // bigrams: ab, bc, cd
      (3L, "x y z w")). // bigrams: xy, yz, zw — all unique
      toDF("doc_id", "text")
    val out = LlmOps.lmScore(df, "doc_id", "text")
      .select("doc_id", "n_bigrams", "lm_score")
      .as[(Long, Long, Double)].collect()
      .map { case (i, n, s) => i -> ((n, s)) }.toMap
    // corpus counts: ab=3, ba=1, bc=1, cd=1, xy=1, yz=1, zw=1; N=9
    assert(out(1L) == ((3L, (3.0 + 1.0 + 3.0) / (3 * 9))))
    assert(out(2L) == ((3L, (3.0 + 1.0 + 1.0) / (3 * 9))))
    assert(out(3L) == ((3L, 3.0 / (3 * 9))))
    assert(out(1L)._2 > out(3L)._2) // repeated common bigrams score higher
  }

  test("source overlap: jaccard matrix is exact on known shingle sets") {
    val df = Seq(
      ("s1", "a b c d"),   // 3-shingles: {a b c, b c d}
      ("s2", "a b c d"),   // identical set → jaccard 1
      ("s3", "x y z w")).toDF("source", "text") // disjoint → jaccard 0
    val out = LlmOps.sourceOverlap(df, "source", "text", shingleN = 3)
      .select("source_a", "source_b", "jaccard")
      .as[(String, String, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(out(("s1", "s2")) == 1.0)
    assert(out(("s1", "s3")) == 0.0)
    assert(out(("s2", "s3")) == 0.0)
    spark.catalog.clearCache()
  }

  test("ngram dup rate: shared shingles counted once per doc, unique docs rate 0") {
    val df = Seq(
      (1L, "a b c d"),   // 3-shingles: {abc, bcd}
      (2L, "a b c d"),   // identical → both shingles shared
      (3L, "a b c e"),   // shares {abc} with 1/2, owns {bce}
      (4L, "p q r s")).toDF("doc_id", "text") // fully unique
    val out = LlmOps.ngramDupRate(df, "doc_id", "text", shingleN = 3)
      .select("doc_id", "n_distinct", "n_shared", "dup_rate")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, s, r) => id -> ((n, s, r)) }.toMap
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 2L, 1.0)))
    assert(out(3L) == ((2L, 1L, 0.5)))
    assert(out(4L) == ((2L, 0L, 0.0)))
  }

  test("dup span stats: occurrence-level dups, runs, self-repetition, clean docs") {
    val df = Seq(
      (1L, "a b c d e"),               // shingles [abc, bcd, cde]
      (2L, "a b c d e"),               // identical → run of 3
      (3L, "x y z a b c w"),           // only abc duplicated → run of 1
      (4L, "p q r s"),                 // fully unique → zeros
      (5L, "m n o m n o m n o")        // self-repetition: all 7 shingles dup
    ).toDF("doc_id", "text")
    val out = LlmOps.dupSpanStats(df, "doc_id", "text", shingleN = 3)
      .select("doc_id", "n_dup_shingles", "longest_dup_run")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, r) => id -> ((n, r)) }.toMap
    assert(out(1L) == ((3L, 3L)))
    assert(out(2L) == ((3L, 3L)))
    assert(out(3L) == ((1L, 1L)))
    assert(out(4L) == ((0L, 0L)))
    assert(out(5L) == ((7L, 7L)))
  }

  test("filter funnel: stages are cumulative and counts are exact") {
    val letters = ('a' to 'z').map(_.toString)
    val long = (for (a <- letters; b <- letters) yield a + b)
      .take(60).mkString(" ")              // 60 distinct 2-letter tokens, len 179
    val repetitive = Seq.fill(40)("spam").mkString(" ") // len 199, repetition ~1
    val digity = long + " " + Seq.fill(12)("9876543210").mkString(" ")
    val df = Seq(
      ("s1", long),                        // passes everything
      ("s1", repetitive),                  // len ok, repetition kills it
      ("s1", "short"),                     // length floor kills it
      ("s2", digity)                       // digits push alpha ratio below 0.5
    ).toDF("source", "text")
    val out = LlmOps.filterFunnel(df, "source", "text",
        minChars = 150, maxRepetition = 0.2, minAlphaRatio = 0.5)
      .select("source", "n_total", "n_len_ok", "n_rep_ok", "n_pass")
      .as[(String, Long, Long, Long, Long)].collect()
      .map { case (s, a, b, c, d) => s -> ((a, b, c, d)) }.toMap
    assert(out("s1") == ((3L, 2L, 1L, 1L)))
    assert(out("s2") == ((1L, 1L, 1L, 0L)))
    // cumulative invariant: each stage <= the previous
    out.values.foreach { case (t, l, r, p) =>
      assert(t >= l && l >= r && r >= p)
    }
  }

  test("filter funnel: survivor counts are monotone in every threshold") {
    // seeded random corpus; for each stage, a STRICTER threshold can only
    // shrink (never grow) every group's cumulative survivor counts
    val rng = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docs = (1 to 40).map { i =>
      val len = 5 + rng.nextInt(60)
      ("s" + (i % 3), Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("source", "text")
    def funnel(minChars: Int, maxRep: Double, minAlpha: Double): Map[String, (Long, Long, Long)] =
      LlmOps.filterFunnel(df, "source", "text", minChars, maxRep, minAlpha)
        .select("source", "n_len_ok", "n_rep_ok", "n_pass")
        .as[(String, Long, Long, Long)].collect()
        .map { case (s, a, b, c) => s -> ((a, b, c)) }.toMap
    val base = funnel(minChars = 60, maxRep = 0.5, minAlpha = 0.3)
    val stricterLen = funnel(minChars = 120, maxRep = 0.5, minAlpha = 0.3)
    val stricterRep = funnel(minChars = 60, maxRep = 0.1, minAlpha = 0.3)
    val stricterAlpha = funnel(minChars = 60, maxRep = 0.5, minAlpha = 0.7)
    base.keys.foreach { s =>
      assert(stricterLen(s)._1 <= base(s)._1 && stricterLen(s)._2 <= base(s)._2 &&
        stricterLen(s)._3 <= base(s)._3, s"len tightening grew counts for $s")
      assert(stricterRep(s)._2 <= base(s)._2 && stricterRep(s)._3 <= base(s)._3,
        s"repetition tightening grew counts for $s")
      assert(stricterAlpha(s)._3 <= base(s)._3, s"alpha tightening grew counts for $s")
    }
  }

  test("mixture plan: rates equalize token contributions to the smallest source") {
    val df = Seq(
      ("s1", 100L), ("s1", 100L),  // 200 tokens
      ("s2", 50L),                 // 50 tokens (smallest)
      ("s3", 100L)).toDF("source", "n")
    val out = LlmOps.mixturePlan(df, "source", "n")
      .select("source", "n_docs", "n_tokens", "share", "sample_rate")
      .as[(String, Long, Long, Double, Double)].collect()
      .map { case (s, d, t, sh, r) => s -> ((d, t, sh, r)) }.toMap
    assert(out("s1") == ((2L, 200L, 200.0 / 350.0, 0.25)))
    assert(out("s2") == ((1L, 50L, 50.0 / 350.0, 1.0)))   // limiting source
    assert(out("s3") == ((1L, 100L, 100.0 / 350.0, 0.5)))
    // every source contributes rate * tokens == min tokens
    out.values.foreach { case (_, t, _, r) => assert(r * t == 50.0) }
  }

  test("dup span stats + ngram dup rate match a brute-force driver oracle on random docs") {
    // small vocab → dense shingle collisions, lengths 0..12 → sub-n and
    // empty-text edges; seeded so failures reproduce
    val rng = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (1L to 30L).map { id =>
      val len = rng.nextInt(13)
      (id, Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    def shinglesOf(text: String): Vector[String] = {
      val toks = text.toLowerCase.trim.split("\\s+").toVector
      (0 to math.max(toks.size - 3, 0)).map(i => toks.slice(i, i + 3).mkString(" ")).toVector
    }
    val all = docs.map { case (id, t) => id -> shinglesOf(t) }.toMap
    val occ = all.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val docFreq = all.values.map(_.toSet).toSeq.flatten
      .groupBy(identity).map { case (k, v) => k -> v.size }

    val gotSpan = LlmOps.dupSpanStats(df, "doc_id", "text", shingleN = 3)
      .select("doc_id", "n_dup_shingles", "longest_dup_run")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, r) => id -> ((n, r)) }.toMap
    all.foreach { case (id, sh) =>
      val dupPos = sh.zipWithIndex.collect { case (s, i) if occ(s) >= 2 => i }
      val runLens = dupPos.foldLeft(Vector.empty[(Int, Int)]) { (acc, p) =>
        acc.lastOption match {
          case Some((start, end)) if end == p - 1 => acc.init :+ ((start, p))
          case _ => acc :+ ((p, p))
        }
      }.map { case (s, e) => (e - s + 1).toLong }
      assert(gotSpan(id) == ((dupPos.size.toLong, runLens.maxOption.getOrElse(0L))),
        s"doc $id: got ${gotSpan(id)}, shingles $sh")
    }

    val gotRate = LlmOps.ngramDupRate(df, "doc_id", "text", shingleN = 3)
      .select("doc_id", "n_distinct", "n_shared")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, s) => id -> ((n, s)) }.toMap
    all.foreach { case (id, sh) =>
      val set = sh.toSet
      val shared = set.count(s => docFreq(s) >= 2)
      assert(gotRate(id) == ((set.size.toLong, shared.toLong)),
        s"doc $id: got ${gotRate(id)}, set $set")
    }
  }

  test("fertility by group: exact token sums, ratio = bpe/ws") {
    val df = Seq(
      ("en", "hello world"),       // ws 2, bpe 2
      ("en", "don't stop"),        // ws 2, bpe: don + ' + t + stop = 4
      ("de", "a1b2")               // ws 1, bpe: a,1,b,2 = 4
    ).toDF("lang", "text")
    val out = LlmOps.fertilityByGroup(df, "lang", "text")
      .select("lang", "n_docs", "n_ws_tokens", "n_bpe_tokens", "fertility")
      .as[(String, Long, Long, Long, Double)].collect()
      .map { case (l, d, w, b, f) => l -> ((d, w, b, f)) }.toMap
    assert(out("en") == ((2L, 4L, 6L, 1.5)))
    assert(out("de") == ((1L, 1L, 4L, 4.0)))
  }

  test("mixture temperature: sampled share proportional to sqrt(natural share)") {
    val df = Seq(
      ("s1", 400L),                 // 4x the smallest → rate 1/2
      ("s2", 100L),                 // smallest → rate 1
      ("s3", 900L)).toDF("source", "n") // 9x → rate 1/3
    val out = LlmOps.mixturePlanTemperature(df, "source", "n")
      .select("source", "sample_rate", "sampled_tokens")
      .as[(String, Double, Double)].collect()
      .map { case (s, r, t) => s -> ((r, t)) }.toMap
    assert(out("s1") == ((0.5, 200.0)))
    assert(out("s2") == ((1.0, 100.0)))
    assert(math.abs(out("s3")._1 - 1.0 / 3.0) < 1e-15)
    assert(math.abs(out("s3")._2 - 300.0) < 1e-12)
    // sampled tokens grow with size but sublinearly (the point of alpha<1)
    assert(out("s3")._2 > out("s1")._2 && out("s1")._2 > out("s2")._2)
  }

  test("token length histogram: fixed power-of-two buckets, exact counts") {
    val df = Seq(
      ("en", 10L), ("en", 15L),    // 0000-0015
      ("en", 16L),                 // 0016-0031
      ("de", 100L),                // 0064-0127
      ("de", 300L)).toDF("lang", "n")
    val out = LlmOps.tokenLengthHistogram(df, "lang", "n")
      .select("lang", "len_bucket", "n_docs")
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(
      ("en", "0000-0015", 2L), ("en", "0016-0031", 1L),
      ("de", "0064-0127", 1L), ("de", "0256+", 1L)))
  }

  test("mixtureApply: smallest source keeps everything; rates hold; reruns identical") {
    // source a: 100 docs × 10 tokens = 1000 (smallest → rate 1.0, all kept)
    // source b: 400 docs × 10 tokens = 4000 (rate 0.25)
    val df = ((1L to 100L).map(i => (i, "a", 10L)) ++
      (101L to 500L).map(i => (i, "b", 10L))).toDF("id", "src", "w")
    val kept = LlmOps.mixtureApply(df, "src", "id", "w")
      .as[(Long, String)].collect().toSet
    assert(kept.filter(_._2 == "a").size == 100) // rate 1.0 → every doc
    val bKept = kept.count(_._2 == "b")
    assert(bKept > 60 && bKept < 140, s"rate 0.25 of 400 docs way off: $bKept")
    val again = LlmOps.mixtureApply(df, "src", "id", "w")
      .as[(Long, String)].collect().toSet
    assert(kept == again) // hash-derived: no RNG, rerun-stable
  }

  test("bpePairCounts: adjacent in-token pairs, 1-char tokens ignored") {
    val df = Seq("ab ab x abc").toDF("text")
    val got = LlmOps.bpePairCounts(df, "text", k = 10)
      .as[(String, Long)].collect().toSeq
    // "ab"×2 from the two ab tokens + 1 from abc; "bc"×1 from abc; "x" none
    assert(got == Seq(("ab", 3L), ("bc", 1L)))
  }

  test("bpeLearn: k-step merges with greedy run semantics and count-desc/pair-asc ties") {
    // corpus: "abab" x3, "aaaa" x2 — step 1 counts (a,b)=6 within the
    // three abab tokens (a-b, b-a, a-b each => ab 6? enumerate: abab has
    // pairs ab, ba, ab) => ab 2 per token ×3 = 6, ba 3, aa 3×2=6 from the
    // two aaaa tokens. Tie ab=6 vs aa=6 breaks to 'aa' < 'ab' on left/right
    // asc? left a == a, right a < b => (a,a) wins.
    val df = Seq("abab abab abab aaaa aaaa").toDF("text")
    val got = LlmOps.bpeLearn(df, "text", steps = 2)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got.head == ((1L, "a", "a", 6L)))
    // greedy left-to-right: aaaa -> [aa, aa] (NOT [aa, a, a]), so step 2
    // sees (aa,aa)=2 from the aaaa tokens and ab/ba from abab unchanged:
    // ab 6, ba 3 => (a,b) wins step 2 with 6
    assert(got(1) == ((2L, "a", "b", 6L)))
  }

  test("chunkWindows: overlap boundaries, short tail kept, provenance exact") {
    val doc50 = (1 to 50).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc50), (2L, "a b c"), (3L, "   ")).toDF("doc_id", "text")
    val got = LlmOps.chunkWindows(df, "doc_id", "text", window = 40, stride = 20)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    // doc 1 (50 toks): chunks at 0 (40 toks) and 20 (30-tok tail);
    // doc 2: one short chunk; whitespace doc 3 emits nothing
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSeq == Seq(
      (1L, 0L, 0L, 40L), (1L, 1L, 20L, 30L), (2L, 0L, 0L, 3L)))
    // identical windows fingerprint identically across docs (the chunk
    // dedup/contamination key)
    val twin = Seq((7L, "a b c")).toDF("doc_id", "text")
    val fpTwin = LlmOps.chunkWindows(twin, "doc_id", "text", 40, 20)
      .as[(Long, Long, Long, Long, String)].collect()(0)._5
    assert(fpTwin == got.last._5)
  }

  test("chunkContamination: planted aligned passage flags; clean and shifted docs don't") {
    val passage = (1 to 16).map(i => s"q$i").mkString(" ")
    val bench = Seq((100L, passage)).toDF("doc_id", "text")
    val corpus = Seq(
      // benchmark passage pasted at an ALIGNED stride-8 offset (8 filler
      // tokens), so one 16-token window reproduces it exactly
      (1L, (1 to 8).map(i => s"f$i").mkString(" ") + " " + passage),
      (2L, (1 to 24).map(i => s"c$i").mkString(" ")), // clean
      // same passage but at a NON-aligned offset (3 fillers): alignment
      // matters — chunk-level contamination is a one-sided signal
      (3L, (1 to 3).map(i => s"g$i").mkString(" ") + " " + passage))
      .toDF("doc_id", "text")
    val got = LlmOps.chunkContamination(corpus, bench, "doc_id", "text",
        window = 16, stride = 8)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._4)).toSeq ==
      Seq((1L, true), (2L, false), (3L, false)))
    assert(got(0)._3 >= 1)
  }

  test("bpeApply: post-merge symbol vocabulary with corpus-weighted counts") {
    // merges (see bpeLearn spec): step1 (a,a), step2 (a,b). Final states:
    // abab -> [ab, ab] (freq 3), aaaa -> [aa, aa] (freq 2)
    val df = Seq("abab abab abab aaaa aaaa").toDF("text")
    val got = LlmOps.bpeApply(df, "text", steps = 2, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("ab", 6L), ("aa", 4L)))
  }

  test("property: bpeLearn matches a driver-side classic BPE on random corpora") {
    // reference implementation: word-freq dict, greedy left-to-right
    // merge application, (count desc, pair asc) tie-break — the textbook
    // algorithm, written independently of the Spark formulation
    def refBpe(tokens: Seq[String], steps: Int): Seq[(Long, String, String, Long)] = {
      var vocab: Map[Vector[String], Long] = tokens.groupBy(identity)
        .map { case (t, g) => (t.map(_.toString).toVector, g.size.toLong) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      for (step <- 1 to steps) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
          counts((syms(i), syms(i + 1))) =
            counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.toSeq
            .sortBy { case ((a, b), n) => (-n, a, b) }.head
          out += ((step.toLong, l, r, c))
          vocab = vocab.map { case (syms, f) =>
            val b = Vector.newBuilder[String]; var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                b += (l + r); i += 2
              } else { b += syms(i); i += 1 }
            }
            (b.result(), f)
          }
        }
      }
      out.toSeq
    }
    val rng = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      // 3-letter alphabet, lengths 2-6: dense pair collisions, repeated
      // runs (aaa...), constant tie-breaking pressure
      val words = Seq.fill(30)(
        Seq.fill(2 + rng.nextInt(5))(('a' + rng.nextInt(3)).toChar).mkString)
      val got = LlmOps.bpeLearn(Seq(words.mkString(" ")).toDF("text"),
          "text", steps = 4)
        .as[(Long, String, String, Long)].collect().toSeq
      assert(got == refBpe(words, 4), s"trial $trial diverged: $got")
    }
  }

  test("bpeLearn: stops early when every token is a single symbol") {
    val df = Seq("ab ab").toDF("text")
    val got = LlmOps.bpeLearn(df, "text", steps = 5)
      .as[(Long, String, String, Long)].collect().toSeq
    // step 1 merges (a,b) 2x; after that every token is one symbol "ab"
    // and the loop exhausts at step 2 with only one merge emitted
    assert(got == Seq((1L, "a", "b", 2L)))
  }

  test("datasetSplit: reproducible, exhaustive, fractions hold, folds in range") {
    val df = spark.range(10000).select($"id")
    val s1 = LlmOps.datasetSplit(df, "id").as[(Long, String, Long)].collect()
    val s2 = LlmOps.datasetSplit(df.repartition(7), "id")
      .as[(Long, String, Long)].collect()
    assert(s1.toSet == s2.toSet) // layout-independent
    assert(s1.length == 10000)   // every row assigned exactly once
    val bySplit = s1.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySplit("train") > 7700 && bySplit("train") < 8300, s"$bySplit")
    assert(bySplit("val") > 800 && bySplit("val") < 1200, s"$bySplit")
    assert(bySplit("test") > 800 && bySplit("test") < 1200, s"$bySplit")
    assert(s1.map(_._3).toSet == Set(0L, 1L, 2L, 3L, 4L))
    // fold and split derive from independent hash cuts: every fold
    // appears inside every split (no accidental correlation)
    assert(s1.groupBy(_._2).forall(_._2.map(_._3).toSet.size == 5))
  }

  test("splitLeakage: planted cross-split near-dups surface; dedup-then-split is clean") {
    // ids chosen so the md5 split assignment separates the duplicate pair
    // (found by probing datasetSplit), planting genuine leakage
    val base = (1L to 40L).map(i => (i, s"unique doc number $i with its own words"))
    val dupText = "the same long duplicated passage appears twice here today"
    val ids = LlmOps.datasetSplit(spark.range(1000).toDF("id"), "id")
      .as[(Long, String, Long)].collect()
    val trainId = ids.find(_._2 == "train").get._1
    val testId = ids.find(_._2 == "test").get._1
    val corpus = (base :+ ((trainId + 2000), dupText) :+ ((testId + 3000), dupText))
      .toDF("doc_id", "text")
    // note: +2000/+3000 shift changes the hash — re-derive actual splits
    val leaks = LlmOps.splitLeakage(corpus, "doc_id", "text",
      threshold = 0.9)
    val splitOf = LlmOps.datasetSplit(corpus, "doc_id")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    val expectLeak = splitOf(trainId + 2000) != splitOf(testId + 3000)
    assert(leaks.count() == (if (expectLeak) 1L else 0L))
    // the production invariant: dedup BEFORE split leaves nothing to leak
    val deduped = corpus.join(
      LlmOps.dedupExactIds(corpus, "doc_id", "text"), "doc_id")
    assert(LlmOps.splitLeakage(deduped, "doc_id", "text", threshold = 0.9)
      .isEmpty)
  }

  test("fuzzyPairs: blocked edit-distance pairs over the distinct vocabulary") {
    val df = Seq("red bolt", "ted bolt", "red bolt", "blue bolt", "red ring")
      .toDF("nm") // duplicate "red bolt" must not duplicate pairs
    val got = LlmOps.fuzzyPairs(df, "nm", split(col("nm"), " ").getItem(1), 2)
      .as[(String, String, Int)].collect().toSet
    // same-noun block: red/ted distance 1; blue↔red distance 3 excluded;
    // cross-block (ring vs bolt) never compared
    assert(got == Set(("red bolt", "ted bolt", 1)))
  }

  test("normalizeText: control chars, case, and whitespace runs canonicalize") {
    val df = Seq(
      (1L, "Hello\tWorld twice  "),
      (2L, "already clean"),
      (3L, "")).toDF("doc_id", "text")
    val got = LlmOps.normalizeText(df, "doc_id", "text")
      .as[(Long, String, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "hello world twice", true),
      (2L, "already clean", false),
      (3L, "", false)))
  }

  test("distributionDrift: absent categories count 0; terms sum to 2*TVD") {
    val a = Seq("x", "x", "x", "y").toDF("c")   // p: x=.75 y=.25 z=0
    val b = Seq("x", "y", "y", "z").toDF("c")   // q: x=.25 y=.5  z=.25
    val got = LlmOps.distributionDrift(a, b, "c")
      .select("c", "cnt_a", "cnt_b", "drift_term")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("z")._2 == 0L && got("z")._3 == 1L)
    assert(got("x")._4 == 0.5 && got("y")._4 == 0.25 && got("z")._4 == 0.25)
    assert(got.values.map(_._4).sum == 1.0) // TVD = 0.5
  }

  test("nearDupEval: exact dups are always recalled; counts are consistent") {
    val df = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog today"),
      (2L, "en", "the quick brown fox jumps over the lazy dog today"), // exact dup
      (3L, "en", "completely different content with other words here entirely"),
      (4L, "de", "der schnelle braune fuchs springt heute"))
      .toDF("doc_id", "lang", "text")
    val got = LlmOps.nearDupEval(df, "doc_id", "text", "lang")
      .as[(Long, Long, Long, Option[Double])].collect().head
    // identical docs have identical signatures -> every band collides
    assert(got._1 >= 1L && got._3 == got._1, s"exact dup not recalled: $got")
    assert(got._4.contains(1.0))
    assert(got._3 <= got._2) // hits are a subset of candidates
    spark.catalog.clearCache()
  }

  test("iqrOutliers: Tukey fences flag the far tail, per group") {
    // group en: 1..100 plus 1000 → q1=v[25]=26, q3=v[75]=76 (linear
    // interpolation at integer positions), iqr=50, fences [-49, 151]:
    // only 1000 is outside. group de: tight cluster, no outliers.
    val en = (1L to 100L) :+ 1000L
    val df = (en.map(v => ("en", v)) ++ Seq(("de", 50L), ("de", 51L), ("de", 52L)))
      .zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "grp", "v")
    val got = LlmOps.iqrOutliers(df, "grp", "id", "v")
      .select("v", "grp", "is_outlier").as[(Long, String, Boolean)].collect()
    assert(got.count(_._3) == 1)
    assert(got.filter(_._3).head._1 == 1000L)
    assert(got.filter(_._2 == "de").forall(!_._3))
  }

  test("bm25TopK: bitwise-exact vs a driver reference; empty inputs total") {
    val corpusRows = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana durian"),
      (4L, "cherry durian apple banana"),
      (5L, ""))
    val corpus = corpusRows.toDF("doc_id", "text")
    val queries = Seq(("qa", "apple"), ("qb", "banana"), ("qb", "durian"))
      .toDF("query_id", "term")
    val got = LlmOps.bm25TopK(corpus, "doc_id", "text", queries, k = 3)
      .select("query_id", "rank", "doc_id", "n_terms", "score")
      .as[(String, Long, Long, Long, Double)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    spark.catalog.clearCache()

    // driver reference: identical arithmetic, identical ascending-term fold
    val toks = corpusRows.map { case (id, t) =>
      id -> t.toLowerCase.trim.split("\\s+").toVector.filter(_.nonEmpty)
    }.toMap
    val tf = toks.toSeq.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (w, v) => (id, w, v.size.toLong) } }
    val dl = tf.groupBy(_._1).map { case (id, rs) => id -> rs.map(_._3).sum }
    val n = dl.size.toLong
    val avgdl = dl.values.sum.toDouble / n.toDouble
    val qterms = Set("apple", "banana", "durian")
    val tfq = tf.filter(r => qterms(r._2))
    val dfm = tfq.groupBy(_._2).map { case (w, rs) => w -> rs.size.toLong }
    def contrib(w: String, id: Long, tfv: Long): Double = {
      val idf = (n.toDouble - dfm(w).toDouble + 0.5) / (dfm(w).toDouble + 0.5)
      val den = tfv.toDouble + 1.25 * (0.25 + 0.75 * (dl(id).toDouble / avgdl))
      idf * ((tfv.toDouble * 2.25) / den)
    }
    val qs = Map("qa" -> Set("apple"), "qb" -> Set("banana", "durian"))
    val want = qs.toSeq.flatMap { case (q, ts) =>
      val perDoc = tfq.filter(r => ts(r._2)).groupBy(_._1).map {
        case (id, rs) =>
          val sorted = rs.sortBy(_._2)
          (id, sorted.size.toLong,
            sorted.foldLeft(0.0)((a, r) => a + contrib(r._2, id, r._3)))
      }.toSeq
      perDoc.sortBy { case (id, _, s) => (-s, id) }.take(3).zipWithIndex
        .map { case ((id, nt, s), i) => (q, (i + 1).toLong, id, nt, s) }
    }.sortBy(r => (r._1, r._2))
    assert(got == want, s"got $got\nwant $want")

    assert(LlmOps.bm25TopK(corpus.filter(lit(false)), "doc_id", "text",
      queries).count() == 0)
    assert(LlmOps.bm25TopK(corpus, "doc_id", "text",
      queries.filter(lit(false))).count() == 0)
    spark.catalog.clearCache()
  }

  test("pmiPairs: hand-computed lifts; minDf prune; per-doc cap; totality") {
    val corpus = Seq(
      (1L, "a b c e"), // e has df=1 -> pruned by minDf=2
      (2L, "a b d"),
      (3L, "a c d"),
      (4L, "b c"),
      (5L, "a b")).toDF("doc_id", "text")

    // uncapped: df a=4 b=4 c=3 d=2, N=5; pairs (a,b):3 (a,c):2 (a,d):2
    // (b,c):2 (b,d):1 (c,d):1; lift = n_pair*N / (df_a*df_b)
    val got = LlmOps.pmiPairs(corpus, "doc_id", "text",
        minDf = 2, perDocCap = 32, k = 20)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    spark.catalog.clearCache()
    def lift(np: Long, da: Long, db: Long): Double =
      (np.toDouble * 5.0) / (da.toDouble * db.toDouble)
    val want = Seq(
      ("a", "b", 3L, 4L, 4L, lift(3, 4, 4)),
      ("a", "c", 2L, 4L, 3L, lift(2, 4, 3)),
      ("a", "d", 2L, 4L, 2L, lift(2, 4, 2)),
      ("b", "c", 2L, 4L, 3L, lift(2, 4, 3)),
      ("b", "d", 1L, 4L, 2L, lift(1, 4, 2)),
      ("c", "d", 1L, 3L, 2L, lift(1, 3, 2)))
    assert(got == want, s"got $got\nwant $want")

    // cap=2: each doc contributes only its alphabetically-first 2 vocab
    // terms -> d1/d2/d5 emit (a,b), d3 (a,c), d4 (b,c)
    val capped = LlmOps.pmiPairs(corpus, "doc_id", "text",
        minDf = 2, perDocCap = 2, k = 20)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    spark.catalog.clearCache()
    assert(capped == Seq(
      ("a", "b", 3L, 4L, 4L, lift(3, 4, 4)),
      ("a", "c", 1L, 4L, 3L, lift(1, 4, 3)),
      ("b", "c", 1L, 4L, 3L, lift(1, 4, 3))), s"capped $capped")

    assert(LlmOps.pmiPairs(corpus.filter(lit(false)), "doc_id", "text")
      .count() == 0)
    // single doc: every term df=1 < minDf -> empty, not an error
    assert(LlmOps.pmiPairs(corpus.limit(1), "doc_id", "text").count() == 0)
    spark.catalog.clearCache()
  }

  test("dsirAffinity: target-domain docs outscore off-domain; exact integer masses") {
    // target domain talks about cooking; source corpus mixes cooking and
    // legal text. A cooking doc's bigrams hit the target census heavily.
    val source = Seq(
      (1L, "stir the sauce then season the sauce with fresh herbs"),
      (2L, "the party of the first part hereby waives all claims"),
      (3L, "season the sauce and stir gently")).toDF("doc_id", "text")
    val target = Seq(
      (10L, "stir the sauce season the sauce"),
      (11L, "fresh herbs in the sauce")).toDF("doc_id", "text")
    val out = LlmOps.dsirAffinity(source, target, "doc_id", "text",
        shingleN = 2, buckets = 1024)
      .orderBy("doc_id").collect()
    val aff = out.map(r => r.getLong(0) -> r.getDouble(4)).toMap
    // cooking docs align with the target, the legal doc mostly misses
    assert(aff(1L) > aff(2L) && aff(3L) > aff(2L), aff.toString)
    // n_grams = word count - 1 for multi-word docs (bigram stream)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 9L), (2L, 9L), (3L, 5L)))
    // the denominator counts the doc's own grams at least once each
    assert(out.forall(r => r.getLong(3) >= r.getLong(1)), out.mkString(","))
  }

  test("gopherRules: each rule flags its designed offender; clean prose keeps") {
    val prose = ("the quick brown fox jumps over the lazy dog and " +
      "that sentence should have enough normal words to be kept with " +
      "plain running text continuing on toward the fifty word floor " +
      "which we reach by adding a few more ordinary english words here " +
      "of course the metrics stay comfortably inside every bound").trim
    val docs = Seq(
      (1L, prose),                                      // keeps
      (2L, "too short to pass the word floor"),         // word-count floor
      (3L, ("xx ".repeat(60)).trim),                    // mean word len < 3, no stopwords
      (4L, (1 to 60).map(i => s"- bullet $i of the list to have and that with be").mkString("\n")), // bullets > 0.9
      (5L, ("same line of the and that have with text\n".repeat(40)
        + (1 to 20).map(i => s"unique line $i").mkString("\n"))),  // dup lines > 0.3
      (6L, "")).toDF("doc_id", "text")
    val out = LlmOps.gopherRules(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("keep"), out(0).toString)
    assert(!out(1).getAs[Boolean]("keep") && out(1).getLong(1) < 50)
    assert(!out(2).getAs[Boolean]("keep"), out(2).toString)
    assert(out(2).getAs[Double]("mean_word_len") == 2.0)
    assert(out(2).getAs[Long]("n_stop_hits") == 0L)
    assert(!out(3).getAs[Boolean]("keep"), out(3).toString)
    assert(out(3).getAs[Double]("bullet_line_frac") == 1.0)
    assert(!out(4).getAs[Boolean]("keep"), out(4).toString)
    assert(out(4).getAs[Double]("dup_line_frac") > 0.3)
    // empty doc: all-null ratios, keep = false (not a crash, not null)
    assert(out(5).getLong(1) == 0L && !out(5).getAs[Boolean]("keep"))
    assert(out(5).isNullAt(out(5).fieldIndex("mean_word_len")))
  }

  test("c4Rules: terminal-punct line census, sentence floor, page flags") {
    val docs = Seq(
      (1L, "First sentence is fine.\nSecond one also ends well!\nDoes it work?\n"),
      (2L, "header without punctuation\nAnother good line.\nmenu item"),
      (3L, "Only two sentences here. Second one."),
      (4L, "Fine text. With sentences. Three of them. But lorem ipsum appears."),
      (5L, "Code page { with brace. Sentence two. Sentence three."),
      (6L, "Enable javascript to view this page.\nReal sentence one. Two! Three?")
    ).toDF("doc_id", "text")
    val out = LlmOps.c4Rules(docs, "doc_id", "text").orderBy("doc_id").collect()
    // doc 1: all 3 lines terminal, 3 sentences -> keep
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 3L)
    assert(out(0).getAs[Boolean]("keep"), out(0).toString)
    // doc 2: 1 of 3 lines terminal
    assert(out(1).getLong(2) == 1L && out(1).getAs[Double]("kept_line_frac") == 1.0 / 3.0)
    // doc 3: only 2 sentences -> dropped
    assert(out(2).getLong(5) == 2L && !out(2).getAs[Boolean]("keep"))
    // doc 4: lorem ipsum page flag
    assert(out(3).getAs[Boolean]("has_lorem") && !out(3).getAs[Boolean]("keep"))
    // doc 5: brace page flag
    assert(out(4).getAs[Boolean]("has_brace") && !out(4).getAs[Boolean]("keep"))
    // doc 6: javascript LINE counted but the page itself survives
    assert(out(5).getLong(4) == 1L && out(5).getAs[Boolean]("keep"))
  }
}
