package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps
import graft.ops.{Ingest, LlmOps, Relational, Temporal}
import graft.pipeline.ZoomJobs
import graft.QShared._

/** Vector slice of the declared query slate — split from the former 4.3k-line
  * SparkEntry.scala (VERDICT r7 #7); bodies moved verbatim, composition in
  * [[SparkEntry]] keeps the driver contract identical. */
private[graft] object QVector {

  /** Content tags for the inputs the shared artifacts and memoized
    * sizing counts derive from (VERDICT r13 item 4): embedded in every
    * store/scalar key so a regenerated corpus invalidates instead of
    * silently serving the stale artifact or count. Driver-side metadata
    * listing, no job.
    */
  private def lineitemTag(s: SparkSession, dir: String): Option[String] =
    Some(graft.ops.SlateStore.corpusTag(s, s"$dir/lineitem.parquet"))
  private def embTag(s: SparkSession, dir: String): String =
    graft.ops.SlateStore.corpusTag(s, s"$dir/embeddings.parquet")
  /** One PQ codebook training per (session, corpus snapshot) — shared by
    * `pq_codes` and `pq_search`, which pre-r14 each re-ran the identical
    * seed collect + Lloyd round. Deterministic, so invisible to both
    * oracles. */
  private def pqBook(s: SparkSession, dir: String): Array[Array[Array[Long]]] =
    graft.ops.SlateStore.scalar(s,
      s"pq_codebook|$dir|m=4|k=4|it=1|sc=1024#${embTag(s, dir)}")(
      VectorOps.pqCodebook(t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 4, k = 4, iters = 1))

  /** Tag for stored artifacts derived from embeddings JOINED to documents
    * (the bitext candidate set): either input regenerating invalidates. */
  private def embDocsTag(s: SparkSession, dir: String): String =
    embTag(s, dir) + "+" +
      graft.ops.SlateStore.corpusTag(s, s"$dir/documents.parquet")

  /** The fixed-batch lexical and vector top-20 rankings shared by
    * `rrf_fuse` (which merges them) and `rbo_rankings` (which measures
    * their agreement): lexical = distinct-token overlap with the query
    * doc's first-32 terms; vector = cosine vs the query doc's embedding.
    * Query batch fixed at docs 0/10/20 (the bitext_mine bounded-batch
    * contract); both rankings plan as group-limited top-k windows.
    */
  private def retrievalRankings(s: SparkSession,
                                dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val qIds = Seq(0L, 10L, 20L)
    val toks = docs.select(col("doc_id"),
        explode(array_distinct(LlmOps.tokens(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
    val wq = Window.partitionBy(col("doc_id")).orderBy(col("tok"))
    val qTerms = toks.filter(col("doc_id").isin(qIds: _*))
      .withColumn("__r", row_number().over(wq))
      .filter(col("__r") <= 32)
      .select(col("doc_id").as("query_id"), col("tok"))
    val wl = Window.partitionBy(col("query_id"))
      .orderBy(col("__ov").desc, col("doc_id").asc)
    val lex = toks.join(broadcast(qTerms), Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("__ov"))
      .withColumn("rank", row_number().over(wl))
      .filter(col("rank") <= 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val qe = emb.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("__score").desc, col("doc_id").asc)
    val vec = emb.crossJoin(broadcast(qe))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        VectorOps.cosine(col("embedding"), col("__qv")).as("__score"))
      .withColumn("rank", row_number().over(wv))
      .filter(col("rank") <= 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    (lex, vec)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "similarity_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("__qv"))
      VectorOps.bruteForceTopK(emb, "embedding", "vec_id", qv, k = 10)
    }),

    "bitext_mine" -> ((s, dir) => {
      // parallel-pair mining: a BOUNDED query batch (every 10th en doc
      // among ids < 500 — the workload a miner actually runs with, fixed
      // as the corpus grows) vs all non-en docs, best match normalized
      // by the query's top-4 mean (the hubness-correcting ratio margin)
      // — queries broadcast, scoring map-side candidate-linear, rank
      // exchange group-limited
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val joined = emb.join(docs, col("vec_id") === col("doc_id"))
      val queries = joined
        .filter(col("lang") === "en" && col("vec_id") % 10 === 0
          && col("vec_id") < 500)
        .select(col("vec_id"), col("embedding"))
      val cands = joined.filter(col("lang") =!= "en")
        .select(col("vec_id"), col("embedding"))
      graft.functions.VectorOps.marginBestMatch(cands, queries,
          "vec_id", "embedding", k = 4)
        .orderBy("query_id")
    }),

    "bitext_mine_ann" -> ((s, dir) => {
      // UNBOUNDED-batch bitext mining through the IVF cell join (VERDICT
      // r9 item 2): EVERY en doc mines its best non-en match — the batch
      // grows with the corpus, the exact workload the brute twin's
      // bounded-batch contract forbids. FAISS-style nCells ≈ √|C|,
      // nProbe = 40% of cells (uniform synthetic embeddings need a wide
      // probe; clustered real corpora use far less). Contract: on the
      // fixed bitext_mine audit batch the ANN best_id agrees with the
      // brute twin on >= 60% (measured 75–92% at sf0.001/0.01/0.1).
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val joined = emb.join(docs, col("vec_id") === col("doc_id"))
      val queries = joined.filter(col("lang") === "en")
        .select(col("vec_id"), col("embedding"))
      val cands = joined.filter(col("lang") =!= "en")
        .select(col("vec_id"), col("embedding"))
      // one sizing count job per (session, corpus dir) — the
      // DedupEvalStore.sampleM discipline (VERDICT r12 item 3): repeat
      // invocations in a slate/bench run reuse the memoized corpus size
      // instead of re-running the count inside plan build
      val nCand = graft.ops.SlateStore.scalar(s,
          s"ann_ncand_bitext|$dir#${embTag(s, dir)}")(
        cands.count())
      val nCells = math.max(4, math.ceil(math.sqrt(nCand.toDouble)).toInt)
      // budget-capped probe width (r12): 0.4·nCells until a query would
      // scan > 4096 vectors, then the cap binds — the unbounded batch
      // stays corpus-linear instead of quadratic (cap never binds at the
      // oracled SFs, so the contract band is untouched)
      val nProbe = VectorOps.probeWidth(nCand, nCells)
      // the IVF index (fit + cell postings) is a stored artifact: built
      // once per (corpus snapshot, params) and attached by every repeat
      // invocation in a slate/bench run — at scale this is the
      // build-the-index-once lifecycle, not a per-query refit (r14)
      val idx = VectorOps.ivfIndexStored(cands, "embedding", nCells,
        storeKey = s"ivf|bitext_cands|$dir",
        contentTag = Some(embDocsTag(s, dir)))
      // eager localCheckpoint (r17): the |Q|-row rollup feeds both the
      // audit join and the batch count, whose subtrees launch as
      // CONCURRENT query stages — under the previous lazy persist the
      // whole cell-join DAG ran twice before the cache populated. The
      // checkpoint materializes the |Q| rows exactly once; its blocks are
      // |Q|-sized and released by the context cleaner when the plan is
      // dropped.
      val ann = VectorOps.marginBestMatchAnn(cands, queries, "vec_id",
        "embedding", k = 4, nCells = nCells, nProbe = nProbe,
        prebuilt = Some(idx)).localCheckpoint(true)
      val audit = queries.filter(col("vec_id") % 10 === 0 && col("vec_id") < 500)
      val brute = VectorOps.marginBestMatch(cands, audit, "vec_id", "embedding", k = 4)
      val out = ann.select(col("query_id"), col("best_id").as("__ba"))
        .join(brute.select(col("query_id"), col("best_id").as("__bb")),
          Seq("query_id"))
        .agg(count(lit(1)).as("n_audit"),
          sum(when(col("__ba") === col("__bb"), 1L).otherwise(0L)).as("__same"))
        .crossJoin(ann.agg(count(lit(1)).as("n_queries")))
        .select(col("n_queries"), col("n_audit"),
          (col("__same") * 10 >= col("n_audit") * 6).as("agree_ok"))
      val rows = out.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),

    "rrf_fuse" -> ((s, dir) => {
      // hybrid retrieval: reciprocal-rank fusion of a lexical ranking
      // (distinct-token overlap with the query doc's first-32 terms) and
      // a vector ranking (cosine vs the query doc's embedding) — the
      // calibration-free merge, consuming only ranks. Query batch fixed
      // (docs 0/10/20 — the bitext_mine bounded-batch contract); both
      // rankings are group-limited top-20s, fusion touches <= 40 rows
      // per query.
      val (lex, vec) = retrievalRankings(s, dir)
      VectorOps.rrfFuse(lex, vec, rrfK = 60, kOut = 10)
        .orderBy("query_id", "rank")
    }),

    "rbo_rankings" -> ((s, dir) => {
      // should we even fuse? rank-biased overlap (p=0.9, top-weighted)
      // between the SAME two rankings rrf_fuse merges — RBO ≈ 1 means
      // the vector index adds nothing over lexical; ≈ 0 means the
      // systems are complementary. All arithmetic oracle-portable:
      // repeated-multiplication p-powers, exact overlap counts
      val (lex, vec) = retrievalRankings(s, dir)
      VectorOps.rboRankings(lex, vec, k = 20, pTenths = 9)
        .orderBy("query_id")
    }),

    "jl_project" -> ((s, dir) => {
      // Johnson-Lindenstrauss +/-1 sign projection 64 -> 16 dims over
      // milli-unit quantized embeddings — exact ints, in-row folds, zero
      // shuffle until the per-dim rollup; signs derive from the portable
      // md5-48 family so the oracle rebuilds the same matrix in SQL
      val proj = VectorOps.jlProject(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 16, dim = 64)
      proj.select(posexplode(col("proj")).as(Seq("j", "v")))
        .groupBy(col("j").cast("long").as("j"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy("j")
    }),

    "embedding_gram" -> ((s, dir) =>
      // exact quantized second-moment structure (PCA/whitening prep):
      // upper-triangle sum q_i*q_j over a 1-in-2 md5 doc sample, one
      // map-side-combined aggregate of d(d+1)/2 cells
      VectorOps.embeddingGram(t(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, sampleM = 2)
        .orderBy("i", "j")),

    "mmd_embedding_drift" -> ((s, dir) =>
      // did label-0's embedding DISTRIBUTION drift from label-1's?
      // quadratic-kernel MMD² = ‖M_A − M_B‖²_F over the two mean gram
      // matrices — two gram aggregates + a d(d+1)/2-cell join, never a
      // pairwise pass; exact decimal cells, one divide
      VectorOps.mmdEmbeddingDrift(t(s, dir, "embeddings"),
        "vec_id", "embedding", col("label") === 0, col("label") === 1,
        dim = 64, sampleM = 1)),

    "embedding_effective_rank" -> ((s, dir) =>
      // does the 64-dim space actually use 64 dims? participation ratio
      // tr(G)²/tr(G²) from the exact gram triangle + mean-vector
      // anisotropy ‖Σq‖²/(n·Σ‖q‖²), same 1-in-2 md5 sample, two 1-row
      // aggregates, one IEEE divide each
      VectorOps.effectiveRank(t(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, sampleM = 2)),

    "hubness_audit" -> ((s, dir) => {
      // do a few points dominate everyone's k-NN lists? N_k occurrence
      // skew (Radovanović JMLR'10) over a size-capped 1-in-m md5 sample;
      // per-query top-5 plans as WindowGroupLimit, moments exact
      val emb = t(s, dir, "embeddings")
      val mm = emb.agg(greatest(lit(1L),
        ceil(count(lit(1)).cast("double") / 500.0).cast("long")).as("__m"))
      val sampled = emb.crossJoin(broadcast(mm))
        .filter(pmod(LlmOps.md5Hash48(col("vec_id").cast("string"), 1),
          col("__m")) === 0)
        .select(col("vec_id"), col("embedding"))
      VectorOps.hubnessAudit(sampled, "vec_id", "embedding", k = 5)
        .crossJoin(broadcast(mm))
        .withColumnRenamed("__m", "sample_m")
    }),

    "mrl_truncation_eval" -> ((s, dir) => {
      // Matryoshka serving decision: how much of the full-64-dim top-10
      // do the 16/32-dim prefixes preserve — queries broadcast, one
      // corpus scan scores every prefix, group-limited rank windows
      val emb = t(s, dir, "embeddings")
      graft.functions.VectorOps.mrlTruncationEval(
          emb.filter(col("vec_id") >= 8), emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", prefixDims = Seq(16, 32), fullDim = 64,
          k = 10)
        .orderBy("prefix_dim")
    }),

    "mrl_truncation_eval_ivf" -> ((s, dir) => {
      // IVF-prefiltered Matryoshka eval with an UNBOUNDED query batch
      // (every 10th vector — grows with the corpus; the brute twin's
      // cost is only corpus-linear while its batch stays fixed). Each
      // query scores nProbe of √|C| cells; the overlap eval runs within
      // the retrieved pool. Contract rows per dim: n_queries must cover
      // the whole batch (a dropped query breaks the oracle count), the
      // full-dim row must self-overlap at exactly 1.0, and on a FIXED
      // audit sub-batch the pool-restricted mean_overlap must stay
      // within ±0.25 of the brute twin's (measured |diff| <= 0.11 at
      // all three SFs).
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 10 === 0)
      val c = emb.filter(col("vec_id") % 10 =!= 0)
      // memoized per (session, corpus dir) — see ann_ncand_bitext above
      val nCand = graft.ops.SlateStore.scalar(s,
          s"ann_ncand_mrl|$dir#${embTag(s, dir)}")(
        c.count())
      val nCells = math.max(4, math.ceil(math.sqrt(nCand.toDouble)).toInt)
      // budget-capped probe width (r12): the 0.4-fraction rule made each
      // query scan 40% of the corpus — quadratic total work, 23× wall at
      // the 100× probe; the 4096-vector budget keeps the tail linear and
      // never binds at the oracled SFs
      val nProbe = VectorOps.probeWidth(nCand, nCells)
      // ONE stored index serves both the eval batch and the audit batch
      // (pre-r14 each call refit and re-assigned the identical index)
      val idx = VectorOps.ivfIndexStored(c, "embedding", nCells,
        storeKey = s"ivf|mrl_cands|$dir", contentTag = Some(embTag(s, dir)))
      // ONE IVF scoring pass serves both grains (r17): per-query overlap
      // counts are independent across queries, so the audit sub-batch's
      // rollup is the SAME tiny relation filtered to the audit ids —
      // bitwise what a second mrlTruncationEvalIvf(auditQ) run returned
      // (same exact-int sums, same one divide), minus re-running the
      // cell join + rank window over the retrieved pool. The |Q|·|dims|
      // per-query relation is checkpointed so the two rollups don't
      // re-derive the scoring DAG.
      val perQ = VectorOps.mrlTruncationEvalIvfPerQuery(c, q, "vec_id",
        "embedding", prefixDims = Seq(16, 32), fullDim = 64, k = 10,
        nCells = nCells, nProbe = nProbe, prebuilt = Some(idx))
        .localCheckpoint(eager = true)
      val ivf = VectorOps.mrlOverlapFromPerQuery(perQ, k = 10)
      val auditQ = q.filter(col("vec_id") < 200)
      val bruteAudit = VectorOps.mrlTruncationEval(c, auditQ, "vec_id",
        "embedding", prefixDims = Seq(16, 32), fullDim = 64, k = 10)
      val ivfAudit = VectorOps.mrlOverlapFromPerQuery(
        perQ.filter(col("query_id") < 200), k = 10)
      val band = bruteAudit.select(col("prefix_dim"), col("mean_overlap").as("__mb"))
        .join(ivfAudit.select(col("prefix_dim"), col("mean_overlap").as("__ma")),
          Seq("prefix_dim"))
        .select(col("prefix_dim"),
          (abs(col("__ma") - col("__mb")) <= 0.25).as("audit_band_ok"))
      ivf.join(band, Seq("prefix_dim"))
        .select(col("prefix_dim"), col("n_queries"),
          (col("prefix_dim") =!= 64 ||
            (col("mean_overlap") === 1.0 && col("min_overlap") === 1.0))
            .as("full_dim_ok"),
          col("audit_band_ok"))
        .orderBy("prefix_dim")
    }),

    "knn_classify" -> ((s, dir) => {
      // embedding-space eval pass: queries (vec_id < 10) take the modal
      // label of their 5 cosine-nearest corpus neighbors; per-query top-k
      // plans as WindowGroupLimit (audited), votes are <= Q*k rows
      val emb = t(s, dir, "embeddings")
      VectorOps.knnClassify(emb.filter(col("vec_id") >= 10),
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id")
    }),

    "hard_negatives" -> ((s, dir) => {
      // contrastive-training data prep: for each anchor (vec_id < 8), the
      // 3 cosine-nearest OTHER-label corpus vectors — label filter applied
      // before scoring, per-query top-k plans as WindowGroupLimit (audited)
      val emb = t(s, dir, "embeddings")
      VectorOps.hardNegatives(emb.filter(col("vec_id") >= 8),
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", "label", k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "knn_classify_ann" -> ((s, dir) => {
      // two-sided-large labeling pass: 32 queries classified through the
      // IVF cell join. Agreement contract vs the brute knnClassify twin:
      // with nProbe=6 of 8 cells the modal-label vote must agree on >=70%
      // of queries. nProbe is wide because these synthetic embeddings are
      // near-uniform Gaussians over 10 labels: modal votes are won by 1-2
      // ballots, so vote stability needs most true neighbors present —
      // real clustered embeddings agree at much smaller nProbe
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 32)
      val anchors = emb.filter(col("vec_id") < 32)
      // same stored index as hard_negatives_ann (same corpus derivation,
      // same params): two declared queries, ONE build per slate run
      val idx = VectorOps.ivfIndexStored(corpus, "embedding", nCells = 8,
        storeKey = s"ivf|anchors32_corpus|$dir", contentTag = Some(embTag(s, dir)))
      val ann = VectorOps.knnClassifyAnn(corpus, anchors, "vec_id",
        "embedding", "label", k = 5, nCells = 8, nProbe = 6,
        prebuilt = Some(idx))
      val brute = VectorOps.knnClassify(corpus, anchors, "vec_id",
        "embedding", "label", k = 5)
      val agree = ann.select(col("query_id"), col("pred_label").as("__pa"))
        .join(brute.select(col("query_id"), col("pred_label").as("__pb")),
          Seq("query_id"))
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("__pa") === col("__pb"), 1L).otherwise(0L)).as("__same"))
      // measured __same at sf0.001/0.01/0.1: 28/27/27 of 32 — the 70%
      // bound holds with ~5-query margin at every SF
      agree.select(col("n_queries"), (col("__same") * 10 >= col("n_queries") * 7)
        .as("agreement_ok"))
    }),

    "hard_negatives_ann" -> ((s, dir) => {
      // two-sided-large mining path: 32 anchors x corpus through the IVF
      // cell join (nothing query-side broadcasts except the 8-row centroid
      // table). Contract-oracled like similarity_ivf: k-means centroids
      // aren't SQL-replayable, so the checked contract is recall vs the
      // in-Spark brute-force twin — nProbe=4 of 8 cells must recover a
      // majority of every anchor's true top-10 other-label negatives.
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 32)
      val anchors = emb.filter(col("vec_id") < 32)
      // attaches the index knn_classify_ann committed (or builds it first)
      val idx = VectorOps.ivfIndexStored(corpus, "embedding", nCells = 8,
        storeKey = s"ivf|anchors32_corpus|$dir", contentTag = Some(embTag(s, dir)))
      val ann = VectorOps.hardNegativesAnn(corpus, anchors, "vec_id",
        "embedding", "label", k = 10, nCells = 8, nProbe = 4,
        prebuilt = Some(idx))
      val brute = VectorOps.hardNegatives(corpus, anchors, "vec_id",
        "embedding", "label", k = 10)
      val hits = ann.select("query_id", "neg_id")
        .intersect(brute.select("query_id", "neg_id"))
        .groupBy("query_id").agg(count(lit(1)).as("__h"))
      anchors.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(coalesce(col("__h"), lit(0L)).as("__h"))
        .agg(count(lit(1)).as("n_queries"), sum("__h").as("__total"),
          min("__h").as("__min"))
        // measured at sf0.001/0.01/0.1: total 236/236/223 of 320, min
        // 5/4/2 — the contract bounds (>=60% aggregate recall, every
        // anchor recovers at least one true negative) hold with margin
        .select(col("n_queries"), (col("__total") >= 192).as("recall_ok"),
          (col("__min") >= 1).as("min_recall_ok"))
    }),

    "similarity_ivf" -> ((s, dir) => {
      // Contract-oracled: k-means centroids aren't SQL-replayable, so the
      // checked contract is recall — the IVF top-k (nProbe=4 of 8 cells)
      // must recover >= 6 of the true brute-force top-10. A broken index,
      // quantizer, or probe ranking flips recall_ok and fails the compare.
      // (These synthetic embeddings are near-uniform Gaussians, so true
      // neighbors spread across cells and IVF needs a wide probe; real
      // clustered embeddings concentrate at much smaller nProbe/nCells.)
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("__qv"))
      // stored cell-partitioned index: the probe reads 4 of 8 cell
      // directories (IvfStoreSpec's pruning audit), and repeat
      // invocations attach instead of refitting
      val (assigned, cents) = VectorOps.ivfIndexStored(emb, "embedding",
        nCells = 8, storeKey = s"ivf|emb_full|$dir",
        contentTag = Some(embTag(s, dir)))
      val ivf = VectorOps.ivfTopK(assigned, cents, "embedding", "vec_id", qv, k = 10, nProbe = 4)
      val brute = VectorOps.bruteForceTopK(emb, "embedding", "vec_id", qv, k = 10)
      ivf.select("vec_id").intersect(brute.select("vec_id"))
        .agg(count(lit(1)).as("__hits"))
        .select(lit(10L).as("k"), (col("__hits") >= 6).as("recall_ok"))
    }),

    "similarity_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("__qv"))
      // 4 planes → 16 buckets, multi-probe scans the query bucket + its 4
      // Hamming-1 neighbors (~5/16 of the table) for high recall. The
      // md5-derived hyperplanes make bucketing + scoring fully
      // DuckDB-replayable — this is a HARD oracle, not rows-only.
      VectorOps.annTopK(emb, "embedding", "vec_id", qv, k = 10, nPlanes = 4, dim = 64)
    }),

    "embedding_quantize" -> ((s, dir) => {
      // int8 scalar-quantization calibration (per-dim corpus min/max) +
      // the probe row's quantized codes — exact double arithmetic
      val emb = t(s, dir, "embeddings")
      VectorOps.scalarQuantize(emb, "embedding",
          emb.filter(col("vec_id") === 0))
        .orderBy("pos")
    }),

    "kmeans_assign" -> ((s, dir) =>
      // distributed full-data Lloyd k-means (the complement of the
      // IVF sample-fit path): quantize → k lowest-id seeds → 2 exact
      // integer assign/update rounds → final assignment + exact squared
      // distance; the oracle unrolls both rounds as CTEs and replays
      // every floor-division centroid digit-for-digit
      VectorOps.kmeansAssign(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 4, iters = 2)
        .orderBy("vec_id")),

    "embedding_outliers" -> ((s, dir) =>
      // semantic outliers: squared distance to the label centroid in
      // quantized int space — exact int64 score (order-independent sums),
      // one final int→double divide, so the DuckDB twin replays the hash
      VectorOps.quantizedOutliers(t(s, dir, "embeddings"),
          "embedding", "label", "vec_id")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("score_num"), col("n_group"), col("outlier_score"))
        .orderBy(col("outlier_score").desc, col("vec_id").asc)
        .limit(20)),

    "pagerank_topk" -> ((s, dir) => {
      // node importance over the customer↔supplier trade graph (distinct
      // edges from orders⋈lineitem, suppliers offset into their own id
      // space, symmetrized so no dangling mass): 3 integer-exact PageRank
      // rounds, top-20 hubs via TakeOrderedAndProject. No distinct here:
      // pageRank dedups (src, dst) internally, so a caller-side distinct
      // was a second full shuffle of the edge multiset for identical
      // results (r17; guide §2.4 — warm 5.2 s → 3.1 s with the op's
      // checkpoint fix)
      val trade = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      // symmetrize map-side with ONE explode instead of a union of two
      // projections of the join — Catalyst does no cross-branch CSE, so
      // the union shape ran the orders⋈lineitem join TWICE before
      // pageRank's internal distinct (r18, guide §2.4); same edge
      // multiset, so the deduped edge set is identical
      val edges = trade
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      graft.ops.Graph.pageRank(edges, "src", "dst", iterations = 3)
        .orderBy(col("pr").desc, col("node").asc)
        .limit(20)
    }),

    "fuzzy_pairs" -> ((s, dir) =>
      // record linkage over the part-name vocabulary: same-noun blocks,
      // edit distance <= 3 — quadratic work bounded by the DISTINCT
      // vocabulary, never the row count
      LlmOps.fuzzyPairs(t(s, dir, "part"), "p_name",
          split(col("p_name"), " ").getItem(1), maxDist = 3)
        .orderBy("name_a", "name_b")),

    "basket_brand_pairs" -> ((s, dir) =>
      // market-basket rules over brands co-purchased in one order:
      // within-basket self-join (bounded by basket size), broadcast
      // frequency joins, exact counts → support/lift
      graft.ops.Assoc.basketPairs(
          t(s, dir, "lineitem")
            .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
            .select(col("l_orderkey").as("basket"), col("p_brand").as("item")),
          "basket", "item", minPairCount = 5L)
        .orderBy("item_a", "item_b")),

    "khop_reachability" -> ((s, dir) => {
      // blast-radius probe: from nation-5 customers, how much of the
      // trade graph is reachable in 1/2/3 hops — frontier joins + anti
      // joins, fixed waves, (hop, count) output
      // no caller-side distinct: kHopReachability dedups the edge set
      // internally — the pre-pass distinct was a redundant full shuffle
      // for identical results (r17; guide §2.4)
      val trade = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      val seeds = t(s, dir, "customer")
        .filter(col("c_nationkey") === 5)
        .select(col("c_custkey"))
      graft.ops.Graph.kHopReachability(trade, "src", "dst", seeds,
          "c_custkey", hops = 3)
        .orderBy("hop")
    }),

    "kcore_peel" -> ((s, dir) => {
      // cohesion screen over the customer↔part purchase graph (distinct
      // edges from orders⋈lineitem, parts offset into their own id
      // space): 3 fixed peeling rounds at k=25 — each round one
      // map-side-combined degree aggregate + two endpoint semi-joins,
      // the edge set only shrinks
      // no caller-side distinct: kCorePeel canonicalizes to least/greatest
      // half-edges and distincts those — the pre-canon distinct was a
      // redundant full shuffle for identical results (r17; guide §2.4)
      val e = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_partkey") + lit(1000000L)).as("dst"))
      graft.ops.Graph.kCorePeel(e, "src", "dst", k = 25, rounds = 3)
        .orderBy("node")
    }),

    "pq_codes" -> ((s, dir) =>
      // product quantization (Jégou TPAMI'11): 4 subspaces × 16 dims,
      // k=4 integer-exact centroids each, 1 Lloyd round — codebooks are
      // driver-resident literals, assignment pure map-side; the oracle
      // unrolls the round digit-for-digit like kmeans_assign. The
      // training (seed collect + per-round corpus jobs) is shared with
      // pq_search via the scalar memo — one codebook per slate run
      VectorOps.pqCodes(t(s, dir, "embeddings"), "vec_id", "embedding",
          m = 4, k = 4, iters = 1,
          codebook = Some(pqBook(s, dir)))
        .orderBy("vec_id")),

    "pq_search" -> ((s, dir) => {
      // ADC search over the PQ codes: corpus reduced to 4 longs/doc,
      // per-query distance tables broadcast, top-5 per query via a
      // WindowGroupLimit bounded heap — integer-exact end to end
      val emb = t(s, dir, "embeddings")
      VectorOps.pqSearch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 3)
            .select(col("vec_id").as("qid"), col("embedding")),
          "qid", "embedding", m = 4, k = 4, iters = 1, topK = 5,
          codebook = Some(pqBook(s, dir)))
        .orderBy("qid", "rank")
    }),

    // The four queries below share ONE materialized co-fulfillment edge
    // census per slate run (Graph.coFulfillmentEdges, r12 — the census
    // was paid 10.9–12.6 s per consumer at 10× when built inline).

    "triangle_suppliers" -> ((s, dir) =>
      // supplier co-fulfillment graph (≥4 shared orders): exact triangle
      // census via degree-ordered orientation — wedge work is bounded by
      // out-degree², not hub degree²
      graft.ops.Graph.triangleStats(
        graft.ops.Graph.coFulfillmentEdges(t(s, dir, "lineitem"), dir,
          contentTag = lineitemTag(s, dir)),
        "a", "b")),

    "assortativity_suppliers" -> ((s, dir) =>
      // do hub suppliers co-fulfill with other hubs, or with leaves?
      // Newman's r over the same >=4-shared-orders graph — the number
      // that picks the skew mitigation (salt hubs vs sample cores)
      graft.ops.Graph.degreeAssortativity(
        graft.ops.Graph.coFulfillmentEdges(t(s, dir, "lineitem"), dir,
          contentTag = lineitemTag(s, dir)),
        "a", "b")),

    "modularity_nations" -> ((s, dir) =>
      // does nationality explain the co-fulfillment graph's structure?
      // Newman-Girvan Q of the supplier->nation partition — the check
      // before trusting nation as a graph-sharding key
      graft.ops.Graph.modularity(
        graft.ops.Graph.coFulfillmentEdges(t(s, dir, "lineitem"), dir,
          contentTag = lineitemTag(s, dir)),
        "a", "b", t(s, dir, "supplier"), "s_suppkey", "s_nationkey")),

    "triangle_suppliers_sampled" -> ((s, dir) =>
      // DOULION p=1/2 edge-sampled census on the same co-fulfillment
      // graph: the wedge join (the super-linear stage) runs on half the
      // edges; n_triangles_est scales by 2³ — the deterministic
      // md5-48 edge sample an external twin replays exactly
      graft.ops.Graph.triangleStatsSampled(
        graft.ops.Graph.coFulfillmentEdges(t(s, dir, "lineitem"), dir,
          contentTag = lineitemTag(s, dir)),
        "a", "b", num = 1, den = 2)),

  )

  val oracle: Map[String, String] = Map(

    "similarity_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         s AS (
           SELECT vec_id,
             list_reduce(list_transform(range(1, len(embedding)+1),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), (x, y) -> x + y) AS dot,
             list_reduce(list_transform(range(1, len(embedding)+1),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y) AS na,
             list_reduce(list_transform(range(1, len(qv)+1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), (x, y) -> x + y) AS nb
           FROM embeddings, q)
         SELECT vec_id,
           CASE WHEN na = 0 OR nb = 0 THEN 0.0
                ELSE dot / (sqrt(na) * sqrt(nb)) END AS score
         FROM s ORDER BY score DESC, vec_id LIMIT 10""",

    // same double-fold cosine as similarity_topk; rank + vote windows
    // with the identical (score desc, id) / (votes desc, label) tie-breaks,

    // both rankings replayed: token-overlap lexical (ov desc, doc_id) and
    // double-fold cosine vector (score desc, doc_id); RRF is two IEEE
    // divides + one add, full-outer fuse, per-query rank limit
    "rrf_fuse" ->
      """WITH toks AS (
           SELECT doc_id, tok FROM (
             SELECT doc_id,
               unnest(list_distinct(string_split_regex(lower(trim(text)),
                 '\s+'))) AS tok
             FROM documents) WHERE tok <> ''),
         qt AS (
           SELECT query_id, tok FROM (
             SELECT doc_id AS query_id, tok,
               row_number() OVER (PARTITION BY doc_id ORDER BY tok) AS r
             FROM toks WHERE doc_id IN (0, 10, 20)) WHERE r <= 32),
         lexov AS (
           SELECT qt.query_id, toks.doc_id, CAST(COUNT(*) AS BIGINT) AS ov
           FROM toks JOIN qt ON toks.tok = qt.tok
             AND toks.doc_id <> qt.query_id
           GROUP BY 1, 2),
         lex AS (
           SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY ov DESC, doc_id) AS BIGINT) AS rank_a
           FROM lexov
           QUALIFY rank_a <= 20),
         qe AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id IN (0, 10, 20)),
         sc AS (
           SELECT qe.query_id, e.vec_id AS doc_id,
             list_reduce(list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)),
               (x, y) -> x + y) AS dot,
             list_reduce(list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE)
                 * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y) AS na,
             list_reduce(list_transform(range(1, len(qv) + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)),
               (x, y) -> x + y) AS nb
           FROM embeddings e, qe WHERE e.vec_id <> qe.query_id),
         vec AS (
           SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY
               CASE WHEN na = 0 OR nb = 0 THEN 0.0
                    ELSE dot / (sqrt(na) * sqrt(nb)) END DESC, doc_id)
               AS BIGINT) AS rank_b
           FROM sc
           QUALIFY rank_b <= 20),
         f AS (
           SELECT COALESCE(lex.query_id, vec.query_id) AS query_id,
             COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
             lex.rank_a, vec.rank_b,
             COALESCE(1.0 / (60 + lex.rank_a), 0.0)
               + COALESCE(1.0 / (60 + vec.rank_b), 0.0) AS rrf
           FROM lex FULL JOIN vec
             ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id)
         SELECT query_id, doc_id, rank_a, rank_b, rrf,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
         FROM f QUALIFY rank <= 10 ORDER BY query_id, rank""",

    // same ranking CTEs as rrf_fuse; p-powers by repeated multiplication
    // (no pow()), per-depth terms summed by sorted fold
    "rbo_rankings" ->
      """WITH toks AS (
           SELECT doc_id, tok FROM (
             SELECT doc_id,
               unnest(list_distinct(string_split_regex(lower(trim(text)),
                 '\s+'))) AS tok
             FROM documents) WHERE tok <> ''),
         qt AS (
           SELECT query_id, tok FROM (
             SELECT doc_id AS query_id, tok,
               row_number() OVER (PARTITION BY doc_id ORDER BY tok) AS r
             FROM toks WHERE doc_id IN (0, 10, 20)) WHERE r <= 32),
         lexov AS (
           SELECT qt.query_id, toks.doc_id, CAST(COUNT(*) AS BIGINT) AS ov
           FROM toks JOIN qt ON toks.tok = qt.tok
             AND toks.doc_id <> qt.query_id
           GROUP BY 1, 2),
         lex AS (
           SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY ov DESC, doc_id) AS BIGINT) AS rank_a
           FROM lexov
           QUALIFY rank_a <= 20),
         qe AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id IN (0, 10, 20)),
         sc AS (
           SELECT qe.query_id, e.vec_id AS doc_id,
             list_reduce(list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)),
               (x, y) -> x + y) AS dot,
             list_reduce(list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[i] AS DOUBLE)
                 * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y) AS na,
             list_reduce(list_transform(range(1, len(qv) + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)),
               (x, y) -> x + y) AS nb
           FROM embeddings e, qe WHERE e.vec_id <> qe.query_id),
         vec AS (
           SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY
               CASE WHEN na = 0 OR nb = 0 THEN 0.0
                    ELSE dot / (sqrt(na) * sqrt(nb)) END DESC, doc_id)
               AS BIGINT) AS rank_b
           FROM sc
           QUALIFY rank_b <= 20),
         shared AS (
           SELECT lex.query_id, GREATEST(rank_a, rank_b) AS m
           FROM lex JOIN vec ON lex.query_id = vec.query_id
             AND lex.doc_id = vec.doc_id
           WHERE GREATEST(rank_a, rank_b) <= 20),
         dep AS (
           SELECT query_id, d.d, CAST(COUNT(*) AS BIGINT) AS ov
           FROM shared, generate_series(1, 20) d(d)
           WHERE m <= d.d GROUP BY 1, 2),
         wdep AS (
           SELECT query_id, d, ov,
             CASE WHEN d = 1 THEN CAST(1.0 AS DOUBLE)
               ELSE list_reduce(list_transform(range(1, CAST(d AS INT)),
                 x -> CAST(0.9 AS DOUBLE)), (u, v) -> u * v) END AS w
           FROM dep),
         pq AS (
           SELECT query_id, CAST(MAX(ov) AS BIGINT) AS oak,
             (CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE))
               * list_reduce(list_sort(list(w * ov / d)),
                 (u, v) -> u + v) AS s
           FROM wdep GROUP BY 1),
         uni AS (
           SELECT DISTINCT query_id FROM (
             SELECT query_id FROM lex UNION ALL SELECT query_id FROM vec))
         SELECT uni.query_id,
           CAST(COALESCE(oak, 0) AS BIGINT) AS overlap_at_k,
           COALESCE(s, CAST(0.0 AS DOUBLE)) AS rbo
         FROM uni LEFT JOIN pq ON uni.query_id = pq.query_id
         ORDER BY 1""",

    // two gram triangles in HUGEINT, full-join on (i,j), per-cell
    // (gA·nB − gB·nA)² with off-diagonals doubled, one final divide
    "mmd_embedding_drift" ->
      """WITH qa AS (
           SELECT list_transform(embedding,
             v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM embeddings WHERE COALESCE(label = 0, FALSE)
             AND ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT
               % 1 = 0),
         qb AS (
           SELECT list_transform(embedding,
             v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM embeddings WHERE COALESCE(label = 1, FALSE)
             AND ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT
               % 1 = 0),
         ga AS (
           SELECT i.i AS i, j.j AS j, CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(qv[i.i + 1] * qv[j.j + 1]) AS HUGEINT) AS g
           FROM qa, generate_series(0, 63) i(i), generate_series(0, 63) j(j)
           WHERE i.i <= j.j GROUP BY 1, 2),
         gb AS (
           SELECT i.i AS i, j.j AS j, CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(qv[i.i + 1] * qv[j.j + 1]) AS HUGEINT) AS g
           FROM qb, generate_series(0, 63) i(i), generate_series(0, 63) j(j)
           WHERE i.i <= j.j GROUP BY 1, 2),
         na AS (SELECT CAST(MAX(nn) AS BIGINT) AS na FROM ga),
         nb AS (SELECT CAST(MAX(nn) AS BIGINT) AS nb FROM gb),
         cells AS (
           SELECT COALESCE(ga.i, gb.i) AS i, COALESCE(ga.j, gb.j) AS j,
             COALESCE(ga.g, 0) AS gva, COALESCE(gb.g, 0) AS gvb
           FROM ga FULL JOIN gb ON ga.i = gb.i AND ga.j = gb.j),
         s AS (
           SELECT CAST(SUM(CAST(CASE WHEN i = j THEN 1 ELSE 2 END AS HUGEINT)
             * (gva * nb.nb - gvb * na.na) * (gva * nb.nb - gvb * na.na))
             AS HUGEINT) AS t
           FROM cells, na, nb)
         SELECT na.na AS n_a, nb.nb AS n_b, CAST(1 AS BIGINT) AS sample_m,
           CAST(t AS DOUBLE)
             / NULLIF(CAST(na.na * nb.nb AS DOUBLE)
               * CAST(na.na * nb.nb AS DOUBLE), 0)
             / 1000000000000.0 AS mmd2
         FROM s, na, nb""",

    // same md5-48 sign matrix rebuilt in SQL; milli-unit quantization,
    // exact integer sums per (vec, j), per-dim rollup
    "jl_project" ->
      """WITH s AS (
           SELECT j.j, i.i,
             CASE WHEN ('0x' || substr(md5('jl_' || CAST(j.j AS VARCHAR)
                 || '_' || CAST(i.i AS VARCHAR)), 1, 12))::BIGINT % 2 = 1
               THEN 1 ELSE -1 END AS sg
           FROM generate_series(0, 15) j(j), generate_series(0, 63) i(i)),
         q AS (
           SELECT vec_id, i.i,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000.0)
               AS BIGINT) AS qv
           FROM embeddings, generate_series(0, 63) i(i)),
         p AS (
           SELECT q.vec_id, s.j, CAST(SUM(q.qv * s.sg) AS BIGINT) AS v
           FROM q JOIN s ON q.i = s.i GROUP BY 1, 2)
         SELECT j AS j, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           MIN(v) AS min_v, MAX(v) AS max_v
         FROM p GROUP BY 1 ORDER BY 1""",

    // 1-in-2 md5 doc sample, milli-unit quantization, upper-triangle
    // exact product sums over the 64x64 grid
    "embedding_gram" ->
      """WITH s AS (
           SELECT embedding FROM embeddings
           WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT
             % 2 = 0),
         q AS (
           SELECT list_transform(embedding,
             v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM s)
         SELECT i.i AS i, j.j AS j, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(qv[i.i + 1] * qv[j.j + 1]) AS BIGINT) AS gram,
           CAST(2 AS BIGINT) AS sample_m
         FROM q, generate_series(0, 63) i(i), generate_series(0, 63) j(j)
         WHERE i.i <= j.j
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // tr(G²) in HUGEINT over the same triangle; the sum vector on the
    // same 1-in-2 sample; both ratios one final double divide
    // same double-fold cosine as knn_classify; occurrence counts zero-
    // filled by the left join; skewness from exact HUGEINT moment sums
    // with the fixed m3 / (m2·√m2) expression — sqrt and divides only
    "hubness_audit" ->
      """WITH mm AS (
           SELECT GREATEST(1, CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / 500.0)
             AS BIGINT)) AS m
           FROM embeddings),
         p AS (
           SELECT vec_id, embedding FROM embeddings, mm
           WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT
             % m = 0),
         s AS (
           SELECT q.vec_id AS qid, c.vec_id AS nid,
             list_reduce(list_transform(range(1, len(c.embedding)+1),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS dot,
             list_reduce(list_transform(range(1, len(c.embedding)+1),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS na,
             list_reduce(list_transform(range(1, len(q.embedding)+1),
               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)),
               (x, y) -> x + y) AS nb
           FROM p c, p q WHERE c.vec_id <> q.vec_id),
         sc AS (
           SELECT qid, nid,
             CASE WHEN na = 0 OR nb = 0 THEN 0.0
                  ELSE dot / (sqrt(na) * sqrt(nb)) END AS score
           FROM s),
         r AS (
           SELECT qid, nid, row_number() OVER (PARTITION BY qid
             ORDER BY score DESC, nid) AS rn
           FROM sc),
         occ AS (SELECT nid, CAST(COUNT(*) AS BIGINT) AS occ
                 FROM r WHERE rn <= 5 GROUP BY 1),
         nk AS (SELECT COALESCE(occ.occ, 0) AS o
                FROM p LEFT JOIN occ ON p.vec_id = occ.nid),
         a AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(o) AS BIGINT)
               AS max_nk,
             CAST(SUM(CASE WHEN o >= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hubs,
             CAST(SUM(CASE WHEN o = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_antihubs,
             CAST(SUM(o) AS HUGEINT) AS s1,
             CAST(SUM(o * o) AS HUGEINT) AS s2,
             CAST(SUM(o * o * o) AS HUGEINT) AS s3
           FROM nk),
         b AS (
           SELECT *,
             CAST(n * s2 - s1 * s1 AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m2,
             CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               AS m3
           FROM a)
         SELECT n, CAST(5 AS BIGINT) AS k, max_nk, n_hubs, n_antihubs,
           m3 / NULLIF(m2 * sqrt(m2), 0) AS skewness,
           (SELECT m FROM mm) AS sample_m
         FROM b""",

    "embedding_effective_rank" ->
      """WITH s AS (
           SELECT embedding FROM embeddings
           WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT
             % 2 = 0),
         q AS (
           SELECT list_transform(embedding,
             v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM s),
         g AS (
           SELECT i.i AS i, j.j AS j, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(qv[i.i + 1] * qv[j.j + 1]) AS BIGINT) AS gram
           FROM q, generate_series(0, 63) i(i), generate_series(0, 63) j(j)
           WHERE i.i <= j.j
           GROUP BY 1, 2),
         t AS (
           SELECT CAST(MAX(n_docs) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN i = j THEN gram END) AS BIGINT) AS trace,
             SUM(CAST(gram AS HUGEINT) * gram
               * (CASE WHEN i = j THEN 1 ELSE 2 END)) AS frob2
           FROM g),
         sv AS (
           SELECT d.d AS d, CAST(SUM(qv[d.d + 1]) AS BIGINT) AS sd
           FROM q, generate_series(0, 63) d(d)
           GROUP BY 1),
         ss AS (SELECT SUM(CAST(sd AS HUGEINT) * sd) AS ssq FROM sv)
         SELECT n_docs, CAST(2 AS BIGINT) AS sample_m, trace,
           CAST(trace AS DOUBLE) * CAST(trace AS DOUBLE)
             / NULLIF(CAST(frob2 AS DOUBLE), 0) AS effective_rank,
           CAST(ssq AS DOUBLE)
             / NULLIF(CAST(n_docs AS DOUBLE) * CAST(trace AS DOUBLE), 0)
             AS anisotropy
         FROM t, ss""",

    // same double-fold cosine; rank window (score desc, cid); top-k mean
    // folds over the sorted score list, ratio margin one divide
    "bitext_mine" ->
      """WITH l AS (
           SELECT e.vec_id, e.embedding, d.lang
           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM l WHERE lang = 'en' AND vec_id % 10 = 0
                 AND vec_id < 500),
         c AS (SELECT vec_id AS cid, embedding AS cv
               FROM l WHERE lang <> 'en'),
         s AS (
           SELECT query_id, cid,
             list_reduce(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)),
               (x, y) -> x + y) AS dot,
             list_reduce(list_transform(range(1, len(cv) + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)),
               (x, y) -> x + y) AS na,
             list_reduce(list_transform(range(1, len(qv) + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)),
               (x, y) -> x + y) AS nb
           FROM q, c),
         sc AS (
           SELECT query_id, cid,
             CASE WHEN na = 0 OR nb = 0 THEN 0.0
                  ELSE dot / (sqrt(na) * sqrt(nb)) END AS score
           FROM s),
         r AS (
           SELECT query_id, cid, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, cid) AS rn
           FROM sc),
         tk AS (SELECT * FROM r WHERE rn <= 4),
         a AS (
           SELECT query_id,
             MIN(CASE WHEN rn = 1 THEN cid END) AS best_id,
             MIN(CASE WHEN rn = 1 THEN score END) AS best_score,
             CAST(COUNT(*) AS BIGINT) AS n,
             list_reduce(list_sort(list(score)), (x, y) -> x + y) AS sm
           FROM tk GROUP BY 1)
         SELECT query_id, best_id, best_score,
           sm / CAST(n AS DOUBLE) AS topk_mean,
           CASE WHEN sm = 0 THEN NULL
             ELSE best_score * CAST(n AS DOUBLE) / sm END AS margin_ratio
         FROM a ORDER BY query_id""",

    // prefix cosine via range(1, d+1) folds; same (score desc, id) rank
    // tie-break; overlap vs the d=64 ranking, exact-integer mean
    "mrl_truncation_eval" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS cid, embedding AS cv
               FROM embeddings WHERE vec_id >= 8),
         dd AS (SELECT unnest([16, 32, 64]) AS d),
         s AS (
           SELECT query_id, d, cid,
             list_reduce(list_transform(range(1, d + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)),
               (x, y) -> x + y) AS dot,
             list_reduce(list_transform(range(1, d + 1),
               i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)),
               (x, y) -> x + y) AS na,
             list_reduce(list_transform(range(1, d + 1),
               i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)),
               (x, y) -> x + y) AS nb
           FROM q, c, dd),
         r AS (
           SELECT query_id, d, cid,
             row_number() OVER (PARTITION BY query_id, d ORDER BY
               CASE WHEN na = 0 OR nb = 0 THEN 0.0
                    ELSE dot / (sqrt(na) * sqrt(nb)) END DESC, cid) AS rn
           FROM s),
         tk AS (SELECT query_id, d, cid FROM r WHERE rn <= 10),
         f AS (SELECT query_id, cid FROM tk WHERE d = 64),
         pq AS (
           SELECT tk.query_id, tk.d,
             CAST(SUM(CASE WHEN f.cid IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS common
           FROM tk LEFT JOIN f
             ON tk.query_id = f.query_id AND tk.cid = f.cid
           GROUP BY 1, 2)
         SELECT CAST(d AS BIGINT) AS prefix_dim,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(common) AS DOUBLE)
             / CAST(COUNT(*) * 10 AS DOUBLE) AS mean_overlap,
           CAST(MIN(common) AS DOUBLE) / 10.0 AS min_overlap
         FROM pq GROUP BY 1 ORDER BY prefix_dim""",

    // contract oracle (k-means centroids aren't SQL-replayable): the
    // batch/audit counts replay from the tables, the booleans are the
    // contract — a recall/rollup break flips them and fails the compare
    "bitext_mine_ann" ->
      """SELECT
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings e
              JOIN documents d ON e.vec_id = d.doc_id
              WHERE d.lang = 'en') AS n_queries,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings e
              JOIN documents d ON e.vec_id = d.doc_id
              WHERE d.lang = 'en' AND e.vec_id % 10 = 0
                AND e.vec_id < 500) AS n_audit,
           TRUE AS agree_ok""",

    // contract oracle: n_queries per dim replays the unbounded batch
    // count (a query dropped by the cell join breaks it), booleans are
    // the full-dim self-overlap + audit-band contracts
    "mrl_truncation_eval_ivf" ->
      """SELECT CAST(t.d AS BIGINT) AS prefix_dim,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
              WHERE vec_id % 10 = 0) AS n_queries,
           TRUE AS full_dim_ok, TRUE AS audit_band_ok
         FROM (SELECT unnest([16, 32, 64]) AS d) t ORDER BY prefix_dim""",

    // same double-fold cosine as similarity_topk; rank + vote windows
    // with the identical (score desc, id) / (votes desc, label) tie-breaks
    "knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id < 10),
         c AS (SELECT * FROM embeddings WHERE vec_id >= 10),
         s AS (
           SELECT q.query_id, c.label, c.vec_id,
             list_reduce(list_transform(range(1, len(c.embedding)+1),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x, y) -> x + y) AS dot,
             list_reduce(list_transform(range(1, len(c.embedding)+1),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (x, y) -> x + y) AS na,
             list_reduce(list_transform(range(1, len(q.qv)+1),
               i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x, y) -> x + y) AS nb
           FROM c, q),
         sc AS (
           SELECT query_id, label, vec_id,
             CASE WHEN na = 0 OR nb = 0 THEN 0.0
                  ELSE dot / (sqrt(na) * sqrt(nb)) END AS score
           FROM s),
         r AS (
           SELECT query_id, label,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, vec_id) AS rn
           FROM sc),
         v AS (
           SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS votes
           FROM r WHERE rn <= 5 GROUP BY query_id, label)
         SELECT query_id, label AS pred_label, votes FROM (
           SELECT query_id, label, votes,
             row_number() OVER (PARTITION BY query_id
               ORDER BY votes DESC, label) AS r2
           FROM v)
         WHERE r2 = 1 ORDER BY query_id""",

    "hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS qlab, embedding AS qv
                    FROM embeddings WHERE vec_id < 8),
         c AS (SELECT * FROM embeddings WHERE vec_id >= 8),
         s AS (
           SELECT q.query_id, c.vec_id AS neg_id, c.label AS neg_label,
             list_reduce(list_transform(range(1, len(c.embedding)+1),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x, y) -> x + y) AS dot,
             list_reduce(list_transform(range(1, len(c.embedding)+1),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (x, y) -> x + y) AS na,
             list_reduce(list_transform(range(1, len(q.qv)+1),
               i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x, y) -> x + y) AS nb
           FROM c, q WHERE c.label <> q.qlab),
         sc AS (
           SELECT query_id, neg_id, neg_label,
             CASE WHEN na = 0 OR nb = 0 THEN 0.0
                  ELSE dot / (sqrt(na) * sqrt(nb)) END AS score
           FROM s),
         r AS (
           SELECT query_id, neg_id, neg_label, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, neg_id) AS rn
           FROM sc)
         SELECT query_id, CAST(rn AS BIGINT) AS rank, neg_id, neg_label, score
         FROM r WHERE rn <= 3 ORDER BY query_id, rank""",

    // BM25 replay: postings -> doc length / corpus globals -> query-term
    // prune -> df -> per-term contribution -> ascending-term sequential
    // fold (list_reduce over list(.. ORDER BY term) = Spark's sort_array
    // + aggregate fold; 0.0 + x == x bitwise for the positive contribs).
    // Constants 1.25/0.75/0.25/2.25/0.5 are exact binary fractions and the
    // surrogate idf is log-free, so scores hash bitwise.,

    "knn_classify_ann" ->
      "SELECT CAST(32 AS BIGINT) AS n_queries, TRUE AS agreement_ok",

    "hard_negatives_ann" ->
      "SELECT CAST(32 AS BIGINT) AS n_queries, TRUE AS recall_ok, TRUE AS min_recall_ok",

    "similarity_ivf" ->
      "SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok",

    "similarity_ann" ->
      """WITH planes AS (
           SELECT t.j, list_transform(range(0, 64), i ->
             CAST(('0x' || substr(md5('plane:' || t.j || ':' || i), 1, 12))::BIGINT AS DOUBLE)
               / 140737488355328.0 - 1.0) AS p
           FROM range(0, 4) t(j)),
         b AS (
           SELECT e.vec_id, e.embedding,
             (SELECT CAST(SUM(CASE WHEN list_reduce(
                 list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * p.p[i]),
                 (x, y) -> x + y) >= 0
               THEN (1::BIGINT << p.j) ELSE 0 END) AS BIGINT) FROM planes p) AS bucket
           FROM embeddings e),
         q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0),
         probes AS (
           SELECT qb AS pb FROM q
           UNION
           SELECT xor(qb, 1::BIGINT << r.m) FROM q, range(0, 4) r(m)),
         s AS (
           SELECT b.vec_id,
             list_reduce(list_transform(range(1, len(b.embedding) + 1),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x, y) -> x + y) AS dot,
             list_reduce(list_transform(range(1, len(b.embedding) + 1),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y) AS na,
             list_reduce(list_transform(range(1, len(q.qv) + 1),
               i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x, y) -> x + y) AS nb
           FROM b JOIN q ON b.bucket IN (SELECT pb FROM probes))
         SELECT vec_id,
           CASE WHEN na = 0 OR nb = 0 THEN 0.0
                ELSE dot / (sqrt(na) * sqrt(nb)) END AS score
         FROM s ORDER BY score DESC, vec_id LIMIT 10""",

    "embedding_quantize" ->
      """WITH e AS (
           SELECT vec_id, unnest(embedding) AS v,
             unnest(range(len(embedding))) AS pos
           FROM embeddings),
         d AS (
           SELECT pos, MIN(CAST(v AS DOUBLE)) AS dmin, MAX(CAST(v AS DOUBLE)) AS dmax
           FROM e GROUP BY pos),
         q AS (SELECT pos, CAST(v AS DOUBLE) AS pv FROM e WHERE vec_id = 0)
         SELECT CAST(d.pos AS BIGINT) AS pos, d.dmin, d.dmax,
           CAST(CASE WHEN d.dmax = d.dmin THEN 0
                ELSE least(255, greatest(0,
                  CAST(floor((q.pv - d.dmin) / (d.dmax - d.dmin) * 255) AS BIGINT)))
           END AS BIGINT) AS code
         FROM d JOIN q USING (pos) ORDER BY pos""",

    // full integer replay of the quantized-centroid outlier score,

    // full integer replay of the quantized-centroid outlier score
    "kmeans_assign" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
           FROM embeddings),
         dims AS (
           SELECT vec_id, r.i AS d, qv[r.i] AS v
           FROM q CROSS JOIN range(1, 65) r(i)),
         c0 AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS c, qv
           FROM q ORDER BY vec_id LIMIT 4),
         cd0 AS (SELECT c, r.i AS d, qv[r.i] AS v
                 FROM c0 CROSS JOIN range(1, 65) r(i)),
         a0 AS (
           SELECT t.vec_id, g.c, SUM((t.v - g.v) * (t.v - g.v)) AS dist2
           FROM dims t JOIN cd0 g USING (d) GROUP BY t.vec_id, g.c),
         b0 AS (
           SELECT vec_id, c FROM (
             SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c) AS rn
             FROM a0) WHERE rn = 1),
         cd1 AS (
           SELECT g.c, g.d, COALESCE(u.m, g.v) AS v
           FROM cd0 g LEFT JOIN (
             SELECT b0.c, t.d,
               CAST(floor(CAST(SUM(t.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
             FROM dims t JOIN b0 USING (vec_id) GROUP BY b0.c, t.d) u
           ON g.c = u.c AND g.d = u.d),
         a1 AS (
           SELECT t.vec_id, g.c, SUM((t.v - g.v) * (t.v - g.v)) AS dist2
           FROM dims t JOIN cd1 g USING (d) GROUP BY t.vec_id, g.c),
         b1 AS (
           SELECT vec_id, c FROM (
             SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c) AS rn
             FROM a1) WHERE rn = 1),
         cd2 AS (
           SELECT g.c, g.d, COALESCE(u.m, g.v) AS v
           FROM cd1 g LEFT JOIN (
             SELECT b1.c, t.d,
               CAST(floor(CAST(SUM(t.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
             FROM dims t JOIN b1 USING (vec_id) GROUP BY b1.c, t.d) u
           ON g.c = u.c AND g.d = u.d),
         a2 AS (
           SELECT t.vec_id, g.c, SUM((t.v - g.v) * (t.v - g.v)) AS dist2
           FROM dims t JOIN cd2 g USING (d) GROUP BY t.vec_id, g.c)
         SELECT vec_id, CAST(c AS BIGINT) AS cluster, CAST(dist2 AS BIGINT) AS dist2
         FROM (
           SELECT vec_id, c, dist2,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c) AS rn
           FROM a2) WHERE rn = 1
         ORDER BY vec_id""",

    "embedding_outliers" ->
      """WITH e AS (
           SELECT vec_id, label, unnest(embedding) AS v,
             unnest(range(len(embedding))) AS pos
           FROM embeddings),
         d AS (
           SELECT pos, MIN(CAST(v AS DOUBLE)) AS dmin, MAX(CAST(v AS DOUBLE)) AS dmax
           FROM e GROUP BY pos),
         c AS (
           SELECT vec_id, label, e.pos,
             CASE WHEN d.dmax = d.dmin THEN 0
                  ELSE least(255, greatest(0,
                    CAST(floor((CAST(v AS DOUBLE) - d.dmin) / (d.dmax - d.dmin) * 255) AS BIGINT)))
             END AS q
           FROM e JOIN d USING (pos)),
         g AS (
           SELECT label, pos, CAST(SUM(q) AS BIGINT) AS s, COUNT(*) AS n
           FROM c GROUP BY 1, 2),
         sc AS (
           SELECT c.vec_id, c.label, g.n,
             CAST(SUM((g.n * c.q - g.s) * (g.n * c.q - g.s)) AS BIGINT) AS score_num
           FROM c JOIN g ON c.label = g.label AND c.pos = g.pos
           GROUP BY 1, 2, 3)
         SELECT vec_id, CAST(label AS BIGINT) AS label, score_num,
           CAST(n AS BIGINT) AS n_group,
           CAST(score_num AS DOUBLE) / CAST(n * n AS DOUBLE) AS outlier_score
         FROM sc ORDER BY outlier_score DESC, vec_id LIMIT 20""",

    // integer-exact PageRank unrolled: p0 → p1 → p2 → p3 chained CTEs
    // replay Graph.pageRank's div/floor arithmetic digit-for-digit
    "pagerank_topk" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
                 FROM e GROUP BY 1),
         n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         p0 AS (SELECT n.node, COALESCE(d.outdeg, 0) AS outdeg,
                  CAST(1000000000 AS BIGINT) AS pr
                FROM n LEFT JOIN deg d USING (node)),
         p1 AS (SELECT p.node, p.outdeg,
                  CAST(150000000 + (85 * COALESCE(m.mass, 0)) // 100 AS BIGINT) AS pr
                FROM p0 p LEFT JOIN (
                  SELECT e.dst AS node, CAST(SUM(q.pr // q.outdeg) AS BIGINT) AS mass
                  FROM p0 q JOIN e ON q.node = e.src
                  WHERE q.outdeg > 0 GROUP BY e.dst) m USING (node)),
         p2 AS (SELECT p.node, p.outdeg,
                  CAST(150000000 + (85 * COALESCE(m.mass, 0)) // 100 AS BIGINT) AS pr
                FROM p1 p LEFT JOIN (
                  SELECT e.dst AS node, CAST(SUM(q.pr // q.outdeg) AS BIGINT) AS mass
                  FROM p1 q JOIN e ON q.node = e.src
                  WHERE q.outdeg > 0 GROUP BY e.dst) m USING (node)),
         p3 AS (SELECT p.node, p.outdeg,
                  CAST(150000000 + (85 * COALESCE(m.mass, 0)) // 100 AS BIGINT) AS pr
                FROM p2 p LEFT JOIN (
                  SELECT e.dst AS node, CAST(SUM(q.pr // q.outdeg) AS BIGINT) AS mass
                  FROM p2 q JOIN e ON q.node = e.src
                  WHERE q.outdeg > 0 GROUP BY e.dst) m USING (node))
         SELECT node, pr FROM p3 ORDER BY pr DESC, node LIMIT 20""",

    // three unrolled BFS waves: frontier neighbors minus visited
    "khop_reachability" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_suppkey + 1000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         s AS (SELECT a AS v, b AS w FROM e0
               UNION SELECT b, a FROM e0),
         v0 AS (
           SELECT DISTINCT c_custkey AS node FROM customer
           WHERE c_nationkey = 5),
         f1 AS (
           SELECT DISTINCT s.w AS node FROM s JOIN v0 ON s.v = v0.node
           WHERE s.w NOT IN (SELECT node FROM v0)),
         f2 AS (
           SELECT DISTINCT s.w AS node FROM s JOIN f1 ON s.v = f1.node
           WHERE s.w NOT IN (SELECT node FROM v0)
             AND s.w NOT IN (SELECT node FROM f1)),
         f3 AS (
           SELECT DISTINCT s.w AS node FROM s JOIN f2 ON s.v = f2.node
           WHERE s.w NOT IN (SELECT node FROM v0)
             AND s.w NOT IN (SELECT node FROM f1)
             AND s.w NOT IN (SELECT node FROM f2))
         SELECT CAST(0 AS BIGINT) AS hop,
           CAST((SELECT COUNT(*) FROM v0) AS BIGINT) AS n_reached
         UNION ALL SELECT 1, (SELECT COUNT(*) FROM f1)
         UNION ALL SELECT 2, (SELECT COUNT(*) FROM f2)
         UNION ALL SELECT 3, (SELECT COUNT(*) FROM f3)
         ORDER BY hop""",

    // three unrolled peel waves: degrees → survivors → surviving edges,
    // then the post-peel degree report
    "kcore_peel" ->
      """WITH e0 AS (
           SELECT DISTINCT o_custkey AS a, l_partkey + 1000000 AS b
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         s0 AS (SELECT a AS v, b AS w FROM e0
                UNION ALL SELECT b, a FROM e0),
         d1 AS (SELECT v, COUNT(*) AS c FROM s0 GROUP BY 1),
         a1 AS (SELECT v FROM d1 WHERE c >= 25),
         s1 AS (SELECT s.v, s.w FROM s0 s
                JOIN a1 x ON s.v = x.v JOIN a1 y ON s.w = y.v),
         d2 AS (SELECT v, COUNT(*) AS c FROM s1 GROUP BY 1),
         a2 AS (SELECT v FROM d2 WHERE c >= 25),
         s2 AS (SELECT s.v, s.w FROM s1 s
                JOIN a2 x ON s.v = x.v JOIN a2 y ON s.w = y.v),
         d3 AS (SELECT v, COUNT(*) AS c FROM s2 GROUP BY 1),
         a3 AS (SELECT v FROM d3 WHERE c >= 25),
         s3 AS (SELECT s.v, s.w FROM s2 s
                JOIN a3 x ON s.v = x.v JOIN a3 y ON s.w = y.v)
         SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS degree
         FROM s3 GROUP BY 1 ORDER BY node""",

    // product-quantization replay: per-(vec, subspace) nearest seed,
    // floor-division centroid update, final per-subspace code + summed
    // exact error — kmeans_assign's CTE structure with a subspace column
    "pq_codes" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
           FROM embeddings),
         dims AS (
           SELECT vec_id, CAST((r.i - 1) // 16 AS INTEGER) AS s,
             r.i AS d, qv[r.i] AS v
           FROM q CROSS JOIN range(1, 65) r(i)),
         c0 AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS c, qv
           FROM q ORDER BY vec_id LIMIT 4),
         cd0 AS (
           SELECT c, CAST((r.i - 1) // 16 AS INTEGER) AS s, r.i AS d, qv[r.i] AS v
           FROM c0 CROSS JOIN range(1, 65) r(i)),
         a0 AS (
           SELECT t.vec_id, t.s, g.c, SUM((t.v - g.v) * (t.v - g.v)) AS dist2
           FROM dims t JOIN cd0 g ON t.s = g.s AND t.d = g.d
           GROUP BY 1, 2, 3),
         b0 AS (
           SELECT vec_id, s, c FROM (
             SELECT vec_id, s, c,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY dist2, c) AS rn
             FROM a0) WHERE rn = 1),
         cd1 AS (
           SELECT g.c, g.s, g.d, COALESCE(u.m, g.v) AS v
           FROM cd0 g LEFT JOIN (
             SELECT b0.s, b0.c, t.d,
               CAST(floor(CAST(SUM(t.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
             FROM dims t JOIN b0 ON t.vec_id = b0.vec_id AND t.s = b0.s
             GROUP BY 1, 2, 3) u
           ON g.c = u.c AND g.s = u.s AND g.d = u.d),
         a1 AS (
           SELECT t.vec_id, t.s, g.c, SUM((t.v - g.v) * (t.v - g.v)) AS dist2
           FROM dims t JOIN cd1 g ON t.s = g.s AND t.d = g.d
           GROUP BY 1, 2, 3),
         b1 AS (
           SELECT vec_id, s, c, dist2 FROM (
             SELECT vec_id, s, c, dist2,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY dist2, c) AS rn
             FROM a1) WHERE rn = 1)
         SELECT vec_id,
           CAST(MAX(CASE WHEN s = 0 THEN c END) AS BIGINT) AS code_0,
           CAST(MAX(CASE WHEN s = 1 THEN c END) AS BIGINT) AS code_1,
           CAST(MAX(CASE WHEN s = 2 THEN c END) AS BIGINT) AS code_2,
           CAST(MAX(CASE WHEN s = 3 THEN c END) AS BIGINT) AS code_3,
           CAST(SUM(dist2) AS BIGINT) AS dist2
         FROM b1 GROUP BY vec_id ORDER BY vec_id""",

    // full ADC replay: pq_codes' training CTEs + per-query lookup tables
    // + summed table hits + per-query rank
    "pq_search" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
           FROM embeddings),
         dims AS (
           SELECT vec_id, CAST((r.i - 1) // 16 AS INTEGER) AS s,
             r.i AS d, qv[r.i] AS v
           FROM q CROSS JOIN range(1, 65) r(i)),
         c0 AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS c, qv
           FROM q ORDER BY vec_id LIMIT 4),
         cd0 AS (
           SELECT c, CAST((r.i - 1) // 16 AS INTEGER) AS s, r.i AS d, qv[r.i] AS v
           FROM c0 CROSS JOIN range(1, 65) r(i)),
         a0 AS (
           SELECT t.vec_id, t.s, g.c, SUM((t.v - g.v) * (t.v - g.v)) AS dist2
           FROM dims t JOIN cd0 g ON t.s = g.s AND t.d = g.d
           GROUP BY 1, 2, 3),
         b0 AS (
           SELECT vec_id, s, c FROM (
             SELECT vec_id, s, c,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY dist2, c) AS rn
             FROM a0) WHERE rn = 1),
         cd1 AS (
           SELECT g.c, g.s, g.d, COALESCE(u.m, g.v) AS v
           FROM cd0 g LEFT JOIN (
             SELECT b0.s, b0.c, t.d,
               CAST(floor(CAST(SUM(t.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
             FROM dims t JOIN b0 ON t.vec_id = b0.vec_id AND t.s = b0.s
             GROUP BY 1, 2, 3) u
           ON g.c = u.c AND g.s = u.s AND g.d = u.d),
         a1 AS (
           SELECT t.vec_id, t.s, g.c, SUM((t.v - g.v) * (t.v - g.v)) AS dist2
           FROM dims t JOIN cd1 g ON t.s = g.s AND t.d = g.d
           GROUP BY 1, 2, 3),
         codes AS (
           SELECT vec_id, s, c FROM (
             SELECT vec_id, s, c,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY dist2, c) AS rn
             FROM a1) WHERE rn = 1),
         lut AS (
           SELECT t.vec_id AS qid, t.s, g.c,
             SUM((t.v - g.v) * (t.v - g.v)) AS d
           FROM dims t JOIN cd1 g ON t.s = g.s AND t.d = g.d
           WHERE t.vec_id < 3 GROUP BY 1, 2, 3),
         adc AS (
           SELECT l.qid, codes.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist2
           FROM codes JOIN lut l ON codes.s = l.s AND codes.c = l.c
           GROUP BY 1, 2)
         SELECT qid, vec_id, adc_dist2,
           CAST(rn AS BIGINT) AS rank
         FROM (
           SELECT qid, vec_id, adc_dist2,
             row_number() OVER (PARTITION BY qid
               ORDER BY adc_dist2, vec_id) AS rn
           FROM adc) WHERE rn <= 5
         ORDER BY qid, rank""",

    "fuzzy_pairs" ->
      """WITH names AS (
           SELECT DISTINCT p_name AS nm, split_part(p_name, ' ', 2) AS blk
           FROM part)
         SELECT a.nm AS name_a, b.nm AS name_b,
           CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
         FROM names a JOIN names b ON a.blk = b.blk AND a.nm < b.nm
         WHERE levenshtein(a.nm, b.nm) <= 3
         ORDER BY name_a, name_b""",

    "basket_brand_pairs" ->
      """WITH pres AS (
           SELECT DISTINCT l_orderkey AS b, p_brand AS i
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         sized AS (
           SELECT b, i FROM (
             SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS sz FROM pres)
           WHERE sz <= 1000),
         n AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM sized),
         ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS ci FROM sized GROUP BY 1),
         p AS (
           SELECT l.i AS item_a, r.i AS item_b, CAST(COUNT(*) AS BIGINT) AS n_pair
           FROM sized l JOIN sized r ON l.b = r.b AND l.i < r.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         SELECT item_a, item_b, n_pair, ca.ci AS n_a, cb.ci AS n_b,
           CAST(n_pair AS DOUBLE) / CAST(nb AS DOUBLE) AS support,
           (CAST(nb AS DOUBLE) * CAST(n_pair AS DOUBLE))
             / (CAST(ca.ci AS DOUBLE) * CAST(cb.ci AS DOUBLE)) AS lift
         FROM p JOIN ic ca ON p.item_a = ca.i
                JOIN ic cb ON p.item_b = cb.i, n
         ORDER BY item_a, item_b""",

    "triangle_suppliers" ->
      """WITH pres AS (
           SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem),
         e AS (
           SELECT l.sk AS a, r.sk AS b
           FROM pres l JOIN pres r ON l.o = r.o AND l.sk < r.sk
           GROUP BY 1, 2 HAVING COUNT(*) >= 4),
         deg AS (
           SELECT v, CAST(COUNT(*) AS BIGINT) AS d
           FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
           GROUP BY 1),
         tri AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
           FROM e e1
           JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
           JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         ds AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) / 2 AS BIGINT) AS n_edges,
             CAST(SUM(d * (d - 1)) AS BIGINT) AS p2x2
           FROM deg)
         SELECT n_nodes, n_edges, n_triangles,
           6.0 * CAST(n_triangles AS DOUBLE)
             / NULLIF(CAST(p2x2 AS DOUBLE), 0.0) AS transitivity
         FROM ds, tri""",

    // symmetrized endpoint-degree pairs; Pearson with equal marginals,
    // exact HUGEINT sums, one divide
    "assortativity_suppliers" ->
      """WITH pres AS (
           SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem),
         e AS (
           SELECT l.sk AS a, r.sk AS b
           FROM pres l JOIN pres r ON l.o = r.o AND l.sk < r.sk
           GROUP BY 1, 2 HAVING COUNT(*) >= 4),
         deg AS (
           SELECT v, CAST(COUNT(*) AS BIGINT) AS d
           FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
           GROUP BY 1),
         pairs AS (
           SELECT da.d AS x, db.d AS y
           FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
         sym AS (SELECT x, y FROM pairs UNION ALL SELECT y, x FROM pairs),
         s AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx
           FROM sym)
         SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           CAST(n * sxy - sx * sx AS DOUBLE)
             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0) AS assortativity
         FROM s""",

    // per-nation 4*m*m_c - d_c^2 in HUGEINT; Q = sum / 4m^2, one divide
    "modularity_nations" ->
      """WITH pres AS (
           SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem),
         e AS (
           SELECT l.sk AS a, r.sk AS b
           FROM pres l JOIN pres r ON l.o = r.o AND l.sk < r.sk
           GROUP BY 1, 2 HAVING COUNT(*) >= 4),
         com AS (SELECT s_suppkey AS v, CAST(s_nationkey AS VARCHAR) AS c
                 FROM supplier),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
         mc AS (
           SELECT ca.c AS cc, CAST(COUNT(*) AS BIGINT) AS mc
           FROM e JOIN com ca ON e.a = ca.v JOIN com cb ON e.b = cb.v
           WHERE ca.c = cb.c GROUP BY 1),
         deg AS (
           SELECT v, CAST(COUNT(*) AS BIGINT) AS d
           FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
           GROUP BY 1),
         dcs AS (
           SELECT com.c, CAST(SUM(deg.d) AS BIGINT) AS dc
           FROM deg JOIN com ON deg.v = com.v GROUP BY 1),
         terms AS (
           SELECT CAST(4 AS HUGEINT) * m.m * COALESCE(mc.mc, 0)
             - CAST(dcs.dc AS HUGEINT) * dcs.dc AS t
           FROM dcs LEFT JOIN mc ON dcs.c = mc.cc, m),
         q AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(t) AS HUGEINT) AS num
           FROM terms)
         SELECT m.m AS n_edges, k AS n_communities,
           CAST(num AS DOUBLE)
             / NULLIF(4.0 * CAST(m.m AS DOUBLE) * CAST(m.m AS DOUBLE), 0)
             AS modularity
         FROM q, m""",

    // the exact census replayed on the md5-48 half-edge sample; the
    // estimate scales by (1/p)^3 = 8
    "triangle_suppliers_sampled" ->
      """WITH pres AS (
           SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem),
         e0 AS (
           SELECT l.sk AS a, r.sk AS b
           FROM pres l JOIN pres r ON l.o = r.o AND l.sk < r.sk
           GROUP BY 1, 2 HAVING COUNT(*) >= 4),
         e AS (
           SELECT a, b FROM e0
           WHERE ('0x' || substr(md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)), 1, 12))::BIGINT % 2 < 1),
         deg AS (
           SELECT v, CAST(COUNT(*) AS BIGINT) AS d
           FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
           GROUP BY 1),
         tri AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
           FROM e e1
           JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
           JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         ds AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) / 2 AS BIGINT) AS n_edges
           FROM deg)
         SELECT n_nodes AS n_nodes_sampled, n_edges AS n_edges_sampled,
           n_triangles AS n_triangles_sampled,
           CAST(n_triangles AS DOUBLE) * 8.0 AS n_triangles_est
         FROM ds, tri""",

  )
}
