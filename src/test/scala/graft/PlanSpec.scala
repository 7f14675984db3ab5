package graft

/** Physical-plan audits (100 TB posture, SURVEY.md §7.5.7): these assert
  * the plan SHAPE — filters reach the parquet scan, scans are
  * column-pruned, dimension joins broadcast, top-k avoids a global sort,
  * aggregations have map-side partials, window top-k group-limits. A green
  * result here means the same query at 1000 executors moves the minimum
  * possible data.
  */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan string of a declared query. */
  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // drive AQE to its final plan
    df.queryExecution.executedPlan.toString
  }

  test("scan_project: column-pruned parquet read (only the 4 selected columns)") {
    val p = planOf("scan_project")
    assert(p.contains("ReadSchema"))
    val read = p.split("ReadSchema:")(1).split("\n")(0)
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_shipdate") && !read.contains("l_returnflag"),
      s"over-read: $read")
  }

  test("filter_eq: equality predicate pushed to the scan") {
    val p = planOf("filter_eq")
    assert(p.contains("PushedFilters") &&
      p.replaceAll("\\s", "").contains("EqualTo(event_type,click)"), p)
  }

  test("filter_date_range: range predicates pushed to the scan") {
    val p = planOf("filter_date_range").replaceAll("\\s", "")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThan(o_orderdate"), p)
  }

  test("join_enrich: dimension joins are broadcast (fact side never shuffles)") {
    val p = planOf("join_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("anti_join_new_keys: planned as a hash anti join") {
    val p = planOf("anti_join_new_keys")
    assert(p.contains("LeftAnti"), p)
  }

  test("topk_orders: TakeOrderedAndProject, not a global sort") {
    val p = planOf("topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("window_rank: rn<=k pushed into WindowGroupLimit (per-partition top-k)") {
    val p = planOf("window_rank")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("agg_revenue_by_flag: two-phase aggregation (map-side partial)") {
    val p = planOf("agg_revenue_by_flag")
    assert(p.split("HashAggregate").length - 1 >= 2, p)
  }

  test("count_per_group: partial aggregation before the shuffle") {
    val p = planOf("count_per_group")
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0, p)
    assert(p.split("HashAggregate").length - 1 >= 2, p)
  }

  test("similarity_topk: broadcast query vector + TakeOrderedAndProject") {
    val p = planOf("similarity_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sessionize_gap: both windows reuse one shuffle+sort (single Exchange on user_id)") {
    val p = planOf("sessionize_gap")
    val exchanges = p.split("Exchange hashpartitioning").length - 1
    // one shuffle for the window partitioning, one for the final groupBy --
    // the two window functions themselves must share
    assert(exchanges <= 2, s"too many shuffles ($exchanges):\n$p")
  }

  test("quantile_bins: no single-partition window anywhere in the result plan") {
    // VERDICT r7 #3: the old ntile path funneled every raw row through ONE
    // no-partition window. The rewrite extracts boundary order statistics
    // with per-__pid (parallel) windows and assembles the bins-row result
    // driver-side — so the returned frame's plan must contain NO Window
    // node at all, and internal passes only ever window per-partition.
    val p = planOf("quantile_bins")
    assert(!p.contains("Window"), s"global window resurfaced:\n$p")
  }

  test("sample_hash: pure map-side filter — no hash shuffle (only the output sort)") {
    val p = planOf("sample_hash")
    // the declared query's deterministic orderBy adds a rangepartitioning
    // exchange at the verify edge; the SAMPLING must add none of its own
    assert(!p.contains("Exchange hashpartitioning"),
      s"sampling should never hash-shuffle:\n$p")
    assert(p.contains("Filter"), p)
  }

  test("tfidf_top_terms: partial aggregation, broadcast corpus count, top-k merge") {
    val p = planOf("tfidf_top_terms")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"no map-side partial aggregation:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"corpus-count join should broadcast the 1-row side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 should merge per-partition heaps, not globally sort:\n$p")
  }

  test("contamination_check: benchmark side broadcast, corpus text never shuffles") {
    val p = planOf("contamination_check")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark shingle set should broadcast into a semi join:\n$p")
    // the only hash shuffles allowed: benchmark-distinct, per-doc hit
    // count, and the final doc-level join — never (doc, full text) rows
    assert(!p.contains("Exchange hashpartitioning(__s"),
      s"exploded corpus shingles must not shuffle (semi join should be map-side):\n$p")
  }

  test("similarity_ann multi-probe: probe list broadcasts; table never shuffles") {
    val p = planOf("similarity_ann")
    assert(p.contains("BroadcastHashJoin"), s"probes should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), s"embedding table must not shuffle:\n$p")
  }

  test("runtime bloom filter prunes the fact scan behind a selective dim filter") {
    // At cluster scale a shuffle join against a filtered dimension should
    // inject a bloom filter on the fact side (rows that can't match die at
    // the scan, before the shuffle). Local test data is below the default
    // size thresholds, so lower them to observe the injected filter.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val li = Tables.load(spark, sf, "lineitem")
      val o = Tables.load(spark, sf, "orders").filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_orderpriority")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter injected on the fact side:\n$p")
      assert(p.contains("bloom_filter_agg"),
        s"no bloom filter built from the filtered dimension:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("dedup_near: bounded-census candidate generation — one aggregation, no census join") {
    // r12: the declared query reads the shared production-pairs store,
    // so the shape audit targets the DERIVATION the store build runs
    // (same op, same params) — and the declared read must be a plain
    // pruned parquet scan, proving the per-consumer recompute is gone.
    val docs = Tables.load(spark, sf, "documents")
    val df = graft.ops.LlmOps.nearDupPairs(docs, "doc_id", "text",
      maxBucketSize = 10000)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("bounded_collect_list"),
      s"native saturating aggregate not engaged in candidate generation:\n$p")
    // the old shape's census join-back + banding self-join are gone: the
    // only joins left are the two shingle-set verify joins. Count inside
    // the FINAL plan only — AdaptiveSparkPlan's toString appends the
    // initial plan too, which would double-count.
    val finalPlan = p.split("== Initial Plan ==").head
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(finalPlan).size
    assert(joins <= 2, s"expected only the 2 verify joins, found $joins:\n$finalPlan")

    val declared = planOf("dedup_near")
    assert(declared.contains("ReadSchema") && !declared.contains("Join"),
      s"declared dedup_near should be a store scan + sort:\n$declared")
  }

  test("simhash_pairs: zipped bounded census — NO verify join at all") {
    val p = planOf("simhash_pairs")
    assert(p.contains("bounded_collect_list"), s"native aggregate not engaged:\n$p")
    assert(!p.contains("Join"),
      s"sketches ride the bucket lists; there should be zero joins:\n$p")
  }

  test("ngram_dup_rate: native shingles, one window pass, no posting join") {
    val p = planOf("ngram_dup_rate")
    assert(p.contains("minhash_plan"),
      s"native shingle expression not engaged:\n$p")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Join"),
      s"document frequency should come from a window, not a join-back:\n$finalPlan")
    // scan reads only (doc_id, text)
    val read = p.split("ReadSchema:")(1).split("\n")(0)
    assert(!read.contains("source") && !read.contains("n_chars"), s"over-read: $read")
  }

  test("filter_funnel: one text pass — single aggregation, zero joins, pruned scan") {
    val p = planOf("filter_funnel")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Join"), s"funnel must not join:\n$finalPlan")
    // conditional aggregation: partial + final HashAggregate pair only
    assert("HashAggregate".r.findAllIn(finalPlan).size == 2,
      s"expected exactly partial+final aggregation:\n$finalPlan")
    val read = p.split("ReadSchema:")(1).split("\n")(0)
    assert(read.contains("source") && read.contains("text") &&
      !read.contains("doc_id"), s"over-read: $read")
  }

  test("dedup_semantic: bucket-keyed pair join only — no cross join, no broadcast of the table") {
    val p = planOf("dedup_semantic")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"),
      s"within-cluster pairs must come from an equi-join on the bucket:\n$finalPlan")
  }

  test("contamination_bloom: native shingles, no cross join, membership via semi joins") {
    val p = planOf("contamination_bloom")
    assert(p.contains("minhash_plan"),
      s"native shingle expression not engaged:\n$p")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"),
      s"bloom membership must be keyed semi joins:\n$finalPlan")
    assert(finalPlan.contains("LeftSemi"),
      s"expected semi-join membership probes:\n$finalPlan")
  }

  test("incremental_near_dup: native shingles + bounded census; no cross join") {
    val p = planOf("incremental_near_dup")
    assert(p.contains("minhash_plan"), s"native shingle expression not engaged:\n$p")
    assert(p.contains("bounded_collect_list"),
      s"in-batch candidate generation should use the bounded census:\n$p")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"),
      s"band collisions must come from equi-joins:\n$finalPlan")
  }

  test("retention_cohorts: events collapse to distinct pairs BEFORE the window") {
    val p = planOf("retention_cohorts")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Join"), s"cohorts need no join:\n$finalPlan")
    // distinct (user, week) aggregation must appear below the min-over-user
    // window, so the window sorts the small distinct table, not raw events
    val winIdx = finalPlan.indexOf("Window")
    val aggBelow = finalPlan.indexOf("HashAggregate", winIdx)
    assert(winIdx >= 0 && aggBelow > winIdx,
      s"expected the distinct aggregate BELOW the window in the tree:\n$finalPlan")
  }

  test("zorder_layout: pruned scan; only the 4-value global broadcasts") {
    val p = planOf("zorder_layout")
    val read = p.split("ReadSchema:")(1).split("\n")(0)
    assert(read.contains("user_id") && read.contains("ts") &&
      !read.contains("props") && !read.contains("event_type"), s"over-read: $read")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"),
      s"the global min/max must broadcast, never cartesian the fact side:\n$finalPlan")
  }

  test("star_join_revenue: dimension hops broadcast, no cartesian, partial agg") {
    val p = planOf("star_join_revenue")
    val finalPlan = p.split("== Initial Plan ==").head
    // the four dimension joins must broadcast (nation/region are tiny,
    // customer/supplier well under threshold at audit scale); a plan that
    // shuffles a dimension for every fact row is wrong at any scale
    assert(finalPlan.split("BroadcastHashJoin").length - 1 >= 3, finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    // revenue rollup has a map-side partial before the exchange
    assert(finalPlan.split("HashAggregate").length - 1 >= 2, finalPlan)
  }

  test("snapshot_diff: pruned scans — the diff moves fingerprints, not rows") {
    val p = planOf("snapshot_diff")
    // every scan must read only the key + diffed value columns; the wide
    // row (o_comment, dates, priority) stays on disk
    p.split("ReadSchema:").drop(1).map(_.split("\n")(0)).foreach { read =>
      assert(read.contains("o_orderkey"), read)
      assert(!read.contains("o_comment") && !read.contains("o_orderdate") &&
        !read.contains("o_orderpriority"), s"over-read: $read")
    }
    assert(!p.split("== Initial Plan ==").head.contains("CartesianProduct"), p)
  }

  test("cms_term_counts: grid and truth both aggregate with map-side partials") {
    val p = planOf("cms_term_counts")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.split("HashAggregate").length - 1 >= 4, finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
  }

  test("embedding_outliers: grid and group sums broadcast; no cartesian") {
    val p = planOf("embedding_outliers")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
  }

  test("dup_span_stats: both windows partition on high-cardinality keys (skew audit)") {
    // the occurrence census must partition on the shingle-hash column and
    // the run grouping on the doc id — a window that falls into a single
    // partition would serialize the whole corpus through one task at 100×
    val p = planOf("dup_span_stats")
    assert("hashpartitioning\\(__h#\\d+".r.findFirstIn(p).isDefined,
      s"document-frequency window must hash-partition on __h:\n$p")
    assert("hashpartitioning\\(doc_id#\\d+".r.findFirstIn(p).isDefined,
      s"run-grouping window must hash-partition on doc_id:\n$p")
    assert(!p.split("== Initial Plan ==").head.contains("Exchange SinglePartition"),
      s"no window may collapse to a single partition:\n$p")
  }

  test("ngram_dup_rate: document-frequency window partitions on the hash column (skew audit)") {
    val p = planOf("ngram_dup_rate")
    assert("hashpartitioning\\(__h#\\d+".r.findFirstIn(p).isDefined,
      s"document-frequency window must hash-partition on __h:\n$p")
    assert(!p.split("== Initial Plan ==").head.contains("Exchange SinglePartition"),
      s"no window may collapse to a single partition:\n$p")
  }

  test("pagerank_topk: top-k heap, no cartesian, rank side broadcast-or-shuffle only") {
    val p = planOf("pagerank_topk")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
  }

  test("event_paths: window partitions on user_id; trigram count is map-side partial") {
    val p = planOf("event_paths")
    val finalPlan = p.split("== Initial Plan ==").head
    assert("hashpartitioning\\(user_id#\\d+".r.findFirstIn(p).isDefined,
      s"journey window must hash-partition on user_id:\n$p")
    assert(finalPlan.contains("TakeOrderedAndProject"), finalPlan)
    assert(!finalPlan.contains("Exchange SinglePartition"), finalPlan)
  }

  test("grouping_sets_revenue: one Expand feeding one aggregation pass") {
    val p = planOf("grouping_sets_revenue")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.split("\\bExpand\\b").length - 1 == 1,
      s"grouping sets must expand once, not per-set:\n$finalPlan")
    assert(finalPlan.contains("HashAggregate"), finalPlan)
  }

  test("value_histogram: 2-value global broadcasts; bucket agg has partials") {
    val p = planOf("value_histogram")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastNestedLoopJoin") ||
      finalPlan.contains("BroadcastExchange"), finalPlan)
    assert(finalPlan.split("HashAggregate").length - 1 >= 2, finalPlan)
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
  }

  test("iqr_outliers: per-group fences broadcast back onto the corpus scan") {
    val p = planOf("iqr_outliers")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("salted_join_counts: the join really partitions on (key, salt)") {
    val p = planOf("salted_join_counts")
    assert("hashpartitioning\\((user_id|c_custkey)#\\d+[^)]*__salt".r
      .findFirstIn(p).isDefined,
      s"salted join must shuffle on (key, __salt):\n$p")
    assert(!p.split("== Initial Plan ==").head.contains("BroadcastHashJoin"),
      s"a broadcast join would make the salt a no-op:\n$p")
  }

  test("knn_classify: per-query top-k group-limits before the shuffle") {
    val p = planOf("knn_classify")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("WindowGroupLimit"),
      s"rank<=k must plan as WindowGroupLimit (partial top-k per partition):\n$finalPlan")
    assert(finalPlan.contains("BroadcastNestedLoopJoin") ||
      finalPlan.contains("BroadcastExchange"), finalPlan)
  }

  test("hard_negatives: label filter pre-scoring, top-k group-limits before the shuffle") {
    val p = planOf("hard_negatives")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("WindowGroupLimit"),
      s"rank<=k must plan as WindowGroupLimit (partial top-k per partition):\n$finalPlan")
    assert(finalPlan.contains("BroadcastNestedLoopJoin") ||
      finalPlan.contains("BroadcastExchange"),
      s"anchors must broadcast — the corpus never shuffles for scoring:\n$finalPlan")
  }

  test("bm25_topk: query terms broadcast-prune the postings, top-k group-limits") {
    val p = planOf("bm25_topk")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("WindowGroupLimit"),
      s"rank<=k must plan as WindowGroupLimit (partial top-k per partition):\n$finalPlan")
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"query-term prune / df / globals must broadcast onto the postings:\n$finalPlan")
    assert(!finalPlan.contains("CartesianProduct"),
      s"the one-row globals crossJoin must broadcast, never cartesian:\n$finalPlan")
    spark.catalog.clearCache()
  }

  test("pmi_pairs: broadcast vocab prune, in-array pairs, global top-k") {
    val p = planOf("pmi_pairs")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("TakeOrderedAndProject"),
      s"global top-k must plan as TakeOrderedAndProject (k rows per partition):\n$finalPlan")
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"vocab prune / df marginals must broadcast onto the pair counts:\n$finalPlan")
    assert(!finalPlan.contains("CartesianProduct"),
      s"the one-row N crossJoin must broadcast, never cartesian:\n$finalPlan")
    assert(!finalPlan.toLowerCase.contains("sortmergejoin"),
      s"no per-doc self-join — pair emission must be in-array:\n$finalPlan")
    spark.catalog.clearCache()
  }

  test("scd2_lookup: key equi-join with interval residual — no cartesian") {
    val p = planOf("scd2_lookup")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"),
      s"interval predicate must ride the key equi-join as a residual:\n$finalPlan")
  }

  test("fuzzy_pairs: injected rule's length prune reaches the join; vocab distinct first") {
    val p = planOf("fuzzy_pairs")
    assert(p.contains("abs("),
      s"LevenshteinLengthPrune conjunct missing from the physical plan:\n$p")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("HashAggregate"),
      s"pair generation must run over the DISTINCT vocabulary:\n$finalPlan")
  }

  test("zscore_normalize / iqr-style: moment table broadcasts onto the scan") {
    val p = planOf("zscore_normalize")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
  }

  test("gap_fill_daily: spine and fill co-partition — no cartesian, no nested loop") {
    val p = planOf("gap_fill_daily")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan)
  }

  test("heavy_hitters: one-row sketch broadcast; exact side keeps partials") {
    val p = planOf("heavy_hitters")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastNestedLoopJoin") ||
      finalPlan.contains("BroadcastExchange"), finalPlan)
    assert(finalPlan.split("HashAggregate").length - 1 >= 2, finalPlan)
  }

  test("dataset_split: pure map-side assignment — no join, no aggregation exchange") {
    val p = planOf("dataset_split")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Join"), finalPlan)
    assert(!finalPlan.contains("hashpartitioning"),
      s"split assignment must not shuffle (only the output sort may):\n$finalPlan")
  }

  test("mixture_apply: rate table broadcasts; corpus side never shuffles") {
    val p = planOf("mixture_apply")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin") &&
      !finalPlan.contains("CartesianProduct"), finalPlan)
  }

  test("bloom_join: prefilter semi-joins broadcast (map-side) — fact rows drop before any exchange") {
    val p = planOf("bloom_join")
    val finalPlan = p.split("== Initial Plan ==").head
    // both bloom probes must be broadcast left-semi (no shuffle to
    // evaluate the filter), so the only exchanged fact rows are survivors
    val semiBroadcasts = finalPlan.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(semiBroadcasts >= 2,
      s"bloom probes must be broadcast semi-joins ($semiBroadcasts):\n$finalPlan")
  }

  test("hard_negatives_ann: cell join is a shuffle equi-join when nothing may broadcast") {
    // the two-sided-large contract: with the broadcast threshold off,
    // corpus and probes must still meet on an EQUI-join over the cell id
    // (shuffle join), and per-query top-k must group-limit before the
    // rank exchange. The only nested-loop allowed is the centroid-table
    // cross join (8 literal rows by construction).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = planOf("hard_negatives_ann")
      val finalPlan = p.split("== Initial Plan ==").head
      assert(finalPlan.contains("SortMergeJoin") ||
        finalPlan.contains("ShuffledHashJoin"),
        s"cell join must survive without broadcast:\n$finalPlan")
      assert(finalPlan.contains("WindowGroupLimit"), finalPlan)
      // centroid cross joins: broadcast-tiny BuildRight/BuildLeft only
      val bnlj = finalPlan.split("BroadcastNestedLoopJoin").length - 1
      assert(bnlj <= 4, s"unexpected nested-loop volume ($bnlj):\n$finalPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("priority_sample: top-k heap, no global sort of the weighted relation") {
    // the sample must come from TakeOrderedAndProject (per-partition
    // bounded heaps); the only full sort allowed is the 50-row output edge
    val p = planOf("priority_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"weighted sampling must not shuffle:\n$p")
  }

  test("compaction_plan: the packing window runs above the catalog aggregate") {
    // file catalog = one hash-aggregate of events; the quota window must
    // sit above that aggregate (metadata-sized input), never on raw rows
    val p = planOf("compaction_plan")
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0, p)
    // bottom-up plan string: the aggregate prints BELOW the windows —
    // the QUOTA window (running sum of size_rows) must consume aggregated
    // input, not events; the topmost window is the |bins|-sized contiguous
    // renumber and legitimately sees only (__seg, __lb)
    val winLines = p.split("\n").filter(_.contains("Window"))
    assert(winLines.exists(_.contains("size_rows")),
      s"no window consumes the aggregated size_rows input:\n$p")
  }

  test("pq_search: codes join broadcast lookup; per-query top-k group-limited") {
    val p = planOf("pq_search")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"ADC lookup table should broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rake_keywords: word-count shape — partial agg + top-k, no extra shuffle") {
    val p = planOf("rake_keywords")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"word aggregate must map-side combine:\n$p")
  }

  test("kcore_peel: degree aggregates map-side combine; no window anywhere") {
    val p = planOf("kcore_peel")
    assert(!p.contains("Window"), s"peeling must not sort/window:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("target_encode_loo: category aggregate broadcasts; facts never hash-shuffle") {
    val p = planOf("target_encode_loo")
    assert(p.contains("BroadcastHashJoin"), s"LOO join must broadcast:\n$p")
    // the only exchanges allowed: the aggregate's own partial→final and
    // the broadcast + the deterministic output sort — never a
    // hashpartitioning of the fact relation on the category key
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"fact relation must not shuffle for the join:\n$p")
  }

  test("cohort_ltv: cumulative window sits above the (cohort, age) aggregate") {
    val p = planOf("cohort_ltv")
    val winLine = p.split("\n").find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("revenue_cents"),
      s"LTV window must consume the aggregated matrix, not raw orders:\n$p")
  }

  test("feature_hash_load: one bucket-grain aggregate, output nBuckets-bounded") {
    val p = planOf("feature_hash_load")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), s"census must not window:\n$p")
  }

  test("blocking_suppliers: one per-order Window pass, top-k heap, capped shuffles") {
    val p = planOf("blocking_suppliers")
    val finalPlan = p.split("== Initial Plan ==").head
    // the per-order max / supplier count / unique-at-max facts are window
    // aggregates over the order key, all fed by ONE order-key shuffle
    val windows = finalPlan.split("\n").map(_.replaceAll("^[\\s:+-]*", ""))
      .filter(_.startsWith("Window ["))
    assert(windows.nonEmpty, s"expected a Window pass:\n$finalPlan")
    windows.foreach(w => assert(w.split("\\], \\[")(1).startsWith("l_orderkey#"),
      s"every Window must partition by l_orderkey:\n$finalPlan"))
    assert("Exchange hashpartitioning\\(l_orderkey#\\d+L, \\d+\\)".r
      .findAllIn(finalPlan).size == 1, s"one order-key shuffle:\n$finalPlan")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("LeftSemi"), p)
    // measured at 3: the (order, supplier) aggregate, the Window's
    // order-key repartition and the supplier aggregate
    val exchanges = finalPlan.split("\n").count(_.matches(".*[+-] Exchange .*"))
    assert(exchanges <= 3, s"too many shuffles ($exchanges):\n$finalPlan")
  }

  test("supplier_share: global total broadcasts — no per-row shuffle for the threshold") {
    val p = planOf("supplier_share")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row total must broadcast:\n$p")
  }

  test("late_orders_by_priority: EXISTS shape is a left-semi join") {
    val p = planOf("late_orders_by_priority")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as semi join:\n$p")
  }

  test("throttle_events / attribution_last_touch: one window pass, zero joins") {
    for (q <- Seq("throttle_events", "attribution_last_touch")) {
      val p = planOf(q)
      assert(p.contains("Window"), s"$q: $p")
      assert(!p.contains("Join"), s"$q must not self-join:\n$p")
    }
  }

  test("peak_concurrency_daily: day-partitioned stabbing, no cartesian") {
    val p = planOf("peak_concurrency_daily")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
  }

  test("stl_decompose_daily: all windows sit above the daily aggregate") {
    val p = planOf("stl_decompose_daily")
    val winLines = p.split("\n").filter(_.contains("Window"))
    assert(winLines.nonEmpty, p)
    // windows consume cnt (the aggregated series), never raw event rows
    assert(winLines.exists(_.contains("cnt")), s"window input not aggregated:\n$p")
  }

  test("subsample_ci / cuped_adjust: pure aggregate pipelines, no windows over raw rows") {
    for (q <- Seq("subsample_ci", "cuped_adjust")) {
      val p = planOf(q)
      assert(p.contains("HashAggregate"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("trending_terms: broadcast totals + top-k heap") {
    val p = planOf("trending_terms")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("golden_record_merge: no countDistinct Expand; mode windows are group-partitioned") {
    val p = planOf("golden_record_merge")
    assert(!p.contains("Expand"), s"survivorship must not Expand:\n$p")
    assert(p.contains("WindowGroupLimit") || p.contains("Window"), p)
  }

  // ---- round-9 shapes --------------------------------------------------

  test("sentence_stats: in-row HOF folds — no explode, no hash shuffle") {
    val p = planOf("sentence_stats")
    assert(!p.contains("Generate"), s"sentence stats must not explode:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-doc folds must not shuffle (the output sort is the only exchange):\n$p")
  }

  test("bm25_topk: no corpus-wide postings aggregate before the query-term prune") {
    // the round-9 rebuild: the semi join against the broadcast query
    // terms must sit UNDER the first (doc, term) hash aggregate, so the
    // only aggregated relation is query-term-hits-sized
    val p = planOf("bm25_topk")
    val semiIdx = p.indexOf("BroadcastHashJoin")
    assert(semiIdx >= 0, p)
    assert(p.contains("LeftSemi"), s"query-term prune should be a semi join:\n$p")
  }

  test("quantile_normalize: grid broadcast; every window partitions by the group") {
    val p = planOf("quantile_normalize")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the percentile grid must broadcast:\n$p")
    // no single-partition window: every Window line must carry a
    // partition spec (the r7 quantile_bins lesson)
    val winLines = p.split("\n").filter(l =>
      l.contains("windowspecdefinition") && !l.contains("WindowGroupLimit"))
    assert(winLines.nonEmpty && winLines.forall(_.contains("source")),
      s"all windows must partition by the group key:\n${winLines.mkString("\n")}")
  }

  test("bitext_mine / mrl_truncation_eval: queries broadcast, per-query top-k group-limits") {
    for (q <- Seq("bitext_mine", "mrl_truncation_eval")) {
      val p = planOf(q)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: the query batch must broadcast:\n$p")
      assert(p.contains("WindowGroupLimit"),
        s"$q: rank<=k must group-limit before the rank exchange:\n$p")
    }
  }

  test("provenance_lookup: the snippet side broadcasts onto the doc postings") {
    val p = planOf("provenance_lookup")
    assert(p.contains("BroadcastHashJoin"),
      s"query fingerprints must broadcast-join the corpus postings:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus postings must never sort-merge for a workload-sized probe:\n$p")
  }

  test("cohens_kappa / l_diversity: aggregate pipelines, broadcast combine") {
    val pk = planOf("cohens_kappa")
    assert(pk.contains("HashAggregate") || pk.contains("SortAggregate"), pk)
    assert(!pk.contains("CartesianProduct"),
      s"one-row combines must broadcast, never cartesian:\n$pk")
    val pl = planOf("l_diversity")
    assert(pl.contains("HashAggregate") || pl.contains("SortAggregate"), pl)
    assert(!pl.contains("Exchange rangepartitioning") ||
      pl.indexOf("Exchange rangepartitioning") < pl.lastIndexOf("Aggregate"),
      s"the only range exchange is the output sort:\n$pl")
  }

}
