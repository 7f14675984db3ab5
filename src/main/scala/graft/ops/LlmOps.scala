package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (SURVEY.md §2.12, [north-star]):
  * exact + near deduplication (MinHash/LSH, SimHash, n-gram Jaccard), text
  * quality/statistics, language-ID heuristic, document fingerprinting.
  *
  * All are shuffle-lean by construction: dedup keys are fixed-width hashes
  * (not full documents), LSH candidate generation shuffles (band, bandHash)
  * pairs only, and every aggregation has a map-side partial. No driver-side
  * collect anywhere.
  */
object LlmOps {

  /** Canonical text normalization shared by every dedup flavor. */
  def normText(c: Column): Column = lower(trim(c))

  /** Content fingerprint (md5 of normalized text) — cheap exact-dup key and
    * a stable doc identity for lineage. 128-bit, collision-safe at 100 TB
    * row counts for dedup purposes.
    */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Exact dedup: one surviving doc id per normalized text (deterministic:
    * the minimum id wins). Shuffles (hash(text), partialMinId) only.
    */
  def dedupExactIds(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** Incremental ingestion dedup: classify a NEW batch of documents
    * against an already-ingested base corpus plus itself — the shape every
    * continuously-fed training corpus runs nightly, where re-deduping the
    * full corpus (O(corpus)) per batch is exactly what must NOT happen.
    * Returns one row per batch doc:
    *
    *  - `dup_of_base`  — the normalized-text fingerprint already exists in
    *    the base corpus;
    *  - `dup_in_batch` — another batch doc with the same fingerprint has a
    *    smaller id (first occurrence wins, mirroring [[dedupExactIds]]);
    *  - `keep` — neither.
    *
    * Scale shape: the base collapses to DISTINCT 16-byte fingerprints
    * before the join — base text never moves, and the work is
    * O(batch + distinct base fingerprints), not O(corpus). The base-side
    * probe is a left semi join marker (fingerprint equality), the
    * batch-side check one window min over the batch's own (tiny) shuffle.
    * In production the distinct-fingerprint table would be the persisted
    * incremental state (it is exactly what [[dedupExactIds]] emits keyed
    * by fingerprint).
    */
  def incrementalDedup(base: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    incrementalDedupFromState(
      fingerprintStore(base, textCol), batch, idCol, textCol)

  /** The persisted incremental state for [[incrementalDedup]]: the base
    * corpus's DISTINCT normalized-text fingerprints (`fp`, 16 bytes each).
    * Write it with [[Sink]], re-read it next run, and probe with
    * [[incrementalDedupFromState]] — the nightly flow that never rescans
    * base text. Parity with the in-query derivation is spec-checked
    * (IncrementalStateSpec).
    */
  def fingerprintStore(base: DataFrame, textCol: String): DataFrame =
    base.select(fingerprint(col(textCol)).as("fp")).distinct()

  /** [[incrementalDedup]] against a PRE-COMPUTED fingerprint store
    * (`fp` column, as [[fingerprintStore]] emits — e.g. re-read from the
    * previous run's Sink output) instead of deriving it from base text.
    */
  def incrementalDedupFromState(baseFps: DataFrame, batch: DataFrame,
                                idCol: String, textCol: String): DataFrame = {
    val marked = baseFps.select(col("fp").as("__fp")).distinct()
      .withColumn("__in_base", lit(true))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__fp")
    batch.select(col(idCol), fingerprint(col(textCol)).as("__fp"))
      .join(marked, Seq("__fp"), "left")
      .withColumn("__min_id", min(col(idCol)).over(w))
      .select(col(idCol),
        coalesce(col("__in_base"), lit(false)).as("dup_of_base"),
        (col(idCol) =!= col("__min_id")).as("dup_in_batch"))
      .withColumn("keep", !col("dup_of_base") && !col("dup_in_batch"))
  }

  /** Incremental NEAR-dup: dedup one new batch against the already-
    * ingested corpus and itself — the nightly-ingest shape of MinHash-LSH
    * dedup, as [[incrementalDedup]] is for exact dedup. A batch doc is
    * flagged `near_dup_of_base` when an LSH band collision with a base
    * doc verifies at `threshold` Jaccard, `near_dup_in_batch` when a
    * LOWER-id batch doc does.
    *
    * Scale shape: at corpus scale the base side of the band join is the
    * PRE-COMPUTED signature store (here derived in-query — same values,
    * the native one-pass minhash_plan expression); base TEXT never moves,
    * only its (band, band-hash, id) rows and the shingle-hash sets of the
    * few band-colliding candidates. The batch side is a nightly
    * increment — small enough that AQE broadcasts it through the band
    * join, making the whole pass O(batch + collisions), not
    * O(corpus).
    */
  def incrementalNearDup(base: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 3, numHashes: Int = 16,
                         bands: Int = 4, rowsPerBand: Int = 4,
                         threshold: Double = 0.7,
                         maxBucketSize: Int = 10000): DataFrame =
    incrementalNearDupFromState(
      signatureStore(base, idCol, textCol, shingleN, numHashes),
      batch, idCol, textCol, shingleN, numHashes, bands, rowsPerBand,
      threshold, maxBucketSize)

  /** The persisted incremental state for [[incrementalNearDup]]: one row
    * per base doc with its distinct shingle-hash set (`sh`) and
    * `numHashes`-component MinHash signature (`sig`) — the signature
    * store a nightly ingest writes via [[Sink]] and probes on every
    * subsequent batch without touching base text. Parity between probing
    * this stored state and the in-query derivation is spec-checked
    * (IncrementalStateSpec).
    */
  def signatureStore(base: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, numHashes: Int = 16): DataFrame =
    base.select(col(idCol), minhashPlan(col(textCol), shingleN, numHashes).as("__mh"))
      .select(col(idCol), col("__mh.sh").as("sh"), col("__mh.sig").as("sig"))

  /** [[incrementalNearDup]] against a PRE-COMPUTED signature store
    * (`idCol`, `sh`, `sig` — as [[signatureStore]] emits, e.g. re-read
    * from the previous run's Sink output). `sig` must carry exactly
    * `numHashes` components (it does when the store was built with the
    * same `shingleN`/`numHashes`); the bands × rowsPerBand contract is
    * unchanged.
    */
  def incrementalNearDupFromState(baseState: DataFrame, batch: DataFrame,
                                  idCol: String, textCol: String,
                                  shingleN: Int = 3, numHashes: Int = 16,
                                  bands: Int = 4, rowsPerBand: Int = 4,
                                  threshold: Double = 0.7,
                                  maxBucketSize: Int = 10000): DataFrame = {
    require(bands * rowsPerBand == numHashes,
      s"bands ($bands) x rowsPerBand ($rowsPerBand) must equal numHashes ($numHashes)")
    val basePlan = baseState
      .select(col(idCol), col("sh").as("__sh"), col("sig").as("__sig"))
      .persist()
    val batchPlan = batch
      .select(col(idCol), minhashPlan(col(textCol), shingleN, numHashes).as("__mh"))
      .select(col(idCol), col("__mh.sh").as("__sh"), col("__mh.sig").as("__sig"))
      .persist()
    // Hot-band guard on the base side: a band key shared by > cap base
    // docs (boilerplate templates, empty docs — every one has the same
    // single-shingle signature) would multiply EVERY colliding batch doc
    // by that bucket's size before verification. Same silent-cap contract
    // as nearDupPairsFromSets' census; the per-(band, key) count is an
    // 8-byte-keyed aggregate with map-side partials.
    val baseBands = lshBands(basePlan, idCol, "__sig", bands, rowsPerBand)
      .select(col(idCol).as("__base_id"), col("band"), col("band_hash"))
    val okBands = baseBands.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .select("band", "band_hash")
    val batchBands = lshBands(batchPlan, idCol, "__sig", bands, rowsPerBand)
    val cand = batchBands
      .join(baseBands.join(okBands, Seq("band", "band_hash"), "left_semi"),
        Seq("band", "band_hash"))
      .select(col(idCol), col("__base_id")).distinct()
    val dupOfBase = cand
      .join(batchPlan.select(col(idCol), col("__sh").as("__sha")), idCol)
      .join(basePlan.select(col(idCol).as("__base_id"), col("__sh").as("__shb")), "__base_id")
      .filter(jaccard(col("__sha"), col("__shb")) >= threshold)
      .select(col(idCol)).distinct()
      .withColumn("__dupbase", lit(true))
    val dupInBatch = nearDupPairsFromSets(batchPlan, idCol,
        bands, rowsPerBand, threshold, maxBucketSize)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("__dupbatch", lit(true))
    batchPlan.select(col(idCol))
      .join(dupOfBase, Seq(idCol), "left")
      .join(dupInBatch, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__dupbase"), lit(false)).as("near_dup_of_base"),
        coalesce(col("__dupbatch"), lit(false)).as("near_dup_in_batch"))
      .withColumn("keep", !col("near_dup_of_base") && !col("near_dup_in_batch"))
  }

  /** Whitespace tokens of normalized text. */
  def tokens(c: Column): Column = split(normText(c), "\\s+")

  /** 64-bit hashed word n-gram shingles (distinct) via the native
    * HashedShingles expression: one tight Java pass per doc, no
    * per-shingle string allocation, and all downstream set ops (min-hash,
    * intersect/union) run on longs instead of strings. This is the
    * representation a 100 TB dedup run must use: shingle payload per doc
    * is 8 bytes × |shingles|, not the text itself. One hash family for
    * every session, so results never depend on how the session was built.
    */
  def shingleHashes(c: Column, n: Int): Column =
    call_function("hashed_shingles", c, lit(n))

  /** 48-bit integer from 12 hex chars of `md5(c)` at 1-based hex offset
    * `off` — the PORTABLE hash family: any ANSI-SQL engine reproduces it
    * exactly (`('0x' || substr(md5(x), off, 12))::BIGINT`), unlike
    * xxhash64's internal seeding. 48 bits keep every derived value
    * (h1 + j·h2 for j < 32) below 2^53: no int64 overflow under ANSI mode
    * and exactly representable in doubles.
    */
  def md5Hash48(c: Column, off: Int): Column =
    conv(substring(md5(c), off, 12), 16, 10).cast("long")

  /** The full portable per-doc MinHash projection as one struct, via the
    * native MinHashShingles expression (one tight Java pass over the text,
    * one MessageDigest per shingle, no per-element boxing):
    *  - `sh`: the distinct 48-bit shingle hashes (the Jaccard set);
    *  - `sig`: the k-component signature, sig[j] = min over shingles of
    *    h1 + j·h2, where (h1, h2) are two 48-bit values cut from ONE md5
    *    per shingle (Carter–Wegman style) — k hashes for the price of one
    *    digest, and a family any SQL oracle can replay digit for digit.
    */
  def minhashPlan(c: Column, n: Int, k: Int): Column =
    call_function("minhash_plan", c, lit(n), lit(k))

  /** LSH banding: explode the signature into `bands` rows keyed by
    * (bandIdx, md5 of that band's comma-joined slice). Docs sharing any
    * band key are near-dup candidates. The band key is an md5 HEX STRING —
    * equality-joinable, portable (both engines render int64s and md5
    * identically), and as well-mixed as any 64-bit hash.
    */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int): DataFrame =
    df.select(
        col(idCol),
        posexplode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => md5(array_join(
              transform(slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)),
                x => x.cast("string")),
              ","))))
          .as(Seq("band", "band_hash")))

  /** Exact Jaccard similarity of two shingle-set columns. Inputs are
    * distinct sets, so |A∪B| = |A|+|B|−|A∩B| exactly — one intersection
    * instead of intersect + union (the union built a second hash table and
    * output array per pair for a number already known from sizes).
    * Bitwise-identical result: same integer overlap, same division.
    */
  def jaccard(a: Column, b: Column): Column = {
    val ov = size(array_intersect(a, b)).cast("double")
    ov / (size(a).cast("double") + size(b).cast("double") - ov)
  }

  /** Near-duplicate pairs: MinHash → LSH banding → candidate join → exact
    * Jaccard verification. Returns (id_a, id_b, jaccard) with id_a < id_b,
    * jaccard >= threshold.
    *
    * Caching note: the signature table is eagerly localCheckpoint()ed —
    * it feeds three plan branches whose query stages launch CONCURRENTLY,
    * so a lazy persist re-ran the signature pass once per branch before
    * the cache populated (r17). Checkpoint blocks are released by the
    * context cleaner when the plan is dropped.
    *
    * Scale shape: the candidate join shuffles only (band, band_hash, id,
    * shingles-of-candidates); non-candidate docs never meet. Skewed buckets
    * (boilerplate that hashes thousands of docs into one band key) are the
    * classic hazard: `maxBucketSize` drops any band bucket larger than the
    * cap BEFORE pair generation, bounding candidate generation at
    * O(buckets · cap²) instead of a quadratic blowup on one hot key —
    * standard practice (exact duplicates should be removed by
    * [[dedupExactIds]] first, so a capped bucket loses only
    * boilerplate-vs-boilerplate pairs). Singleton buckets are dropped in
    * the same pass (they can't produce pairs), which eliminates most of the
    * banding table before the join.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 16,
                   bands: Int = 4, threshold: Double = 0.7,
                   maxBucketSize: Int = 1 << 20): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes): trailing signature components would be silently ignored")
    val rowsPerBand = numHashes / bands
    // Checkpointed downstream (nearDupPairsFromSets): this table feeds the
    // banding scan AND both sides of the verification join — without the
    // eager materialization the shingle+signature computation (the most
    // expensive projection in the pipeline) runs three times. At
    // cluster scale this materialization is the "signature store" stage of
    // a standard MinHash dedup pipeline. The repartition spreads the
    // CPU-heavy hashing across all cores even when the source is a handful
    // of small parquet files (one file = one task otherwise).
    val sets = df
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
      .select(col(idCol), minhashPlan(col(textCol), shingleN, numHashes).as("__mh"))
      .select(col(idCol), col("__mh.sh").as("__sh"), col("__mh.sig").as("__sig"))
    nearDupPairsFromSets(sets, idCol, bands, rowsPerBand, threshold, maxBucketSize)
  }

  /** [[nearDupPairs]] over PRECOMPUTED (id, __sh, __sig) rows — the entry
    * point for pipelines that materialize ONE shingle/signature pass and
    * feed several stages from it (see the curation pipeline). Same caching
    * contract as [[nearDupPairs]].
    */
  def nearDupPairsFromSets(sets: DataFrame, idCol: String,
                           bands: Int, rowsPerBand: Int,
                           threshold: Double, maxBucketSize: Int): DataFrame = {
    val withSets = sets
      .filter(size(col("__sh")) > 0)
      .localCheckpoint(true)

    val candidates = lshCandidatePairs(withSets, idCol, bands, rowsPerBand, maxBucketSize)

    val setsA = withSets.select(col(idCol).as("id_a"), col("__sh").as("__sh_a"))
    val setsB = withSets.select(col(idCol).as("id_b"), col("__sh").as("__sh_b"))
    candidates
      .join(setsA, "id_a").join(setsB, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("__sh_a"), col("__sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** LSH candidate pairs (id_a < id_b) from a (id, __sig) table.
    *
    * Hot-bucket census + candidate generation in ONE aggregation pass:
    * collect each band bucket's member ids, saturating at maxBucketSize+1
    * via the native bounded aggregate (every agg buffer — map-side partial
    * or merged — holds at most cap+1 longs, so a pathological million-doc
    * bucket costs the same as a capped one), then keep 2..maxBucketSize
    * buckets. This replaces the earlier count-census + join-back +
    * self-join shape: same survivorship, same bounded-memory guarantee,
    * two fewer shuffles over the banding table. Non-bigint ids take plain
    * collect_list, value-identical but materializing full hot-bucket
    * lists before the filter — fine for tests, not the 100 TB path.
    *
    * Pair emission is STREAMED: posexplode anchors id_a, the inner explode
    * emits its successors in the sorted list (id_a < id_b by
    * construction). Resident memory per in-flight row is one bucket's id
    * list (≤ cap longs), never the cap² pair set — the quadratic output
    * streams through the Generate operators exactly as it streamed
    * through the old self-join.
    */
  private[graft] def lshCandidatePairs(withSets: DataFrame, idCol: String,
                                       bands: Int, rowsPerBand: Int,
                                       maxBucketSize: Int): DataFrame = {
    val banded = lshBands(withSets, idCol, "__sig", bands, rowsPerBand)
    // The native saturating aggregate is bigint-only; non-long id columns
    // use plain collect_list (unbounded buffers, same SURVIVORSHIP: the
    // size <= cap filter below drops the same buckets the saturating path
    // drops) rather than failing analysis.
    val idIsLong = withSets.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    val collectIds =
      if (idIsLong)
        call_function("bounded_collect_list", col(idCol), lit(maxBucketSize))
      else collect_list(col(idCol))
    val buckets = banded.groupBy("band", "band_hash")
      .agg(collectIds.as("__ids"))
      .filter(size(col("__ids")) >= 2 && size(col("__ids")) <= maxBucketSize)
      .select(sort_array(col("__ids")).as("__ids"))
    buckets
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__i") + lit(2), size(col("__ids")))).as("id_b"))
      .distinct()
  }

  /** Signature-space similarity estimation over LSH candidates: for each
    * candidate pair, the MinHash ESTIMATE of Jaccard — the fraction of
    * equal signature components, E[est] = J(a,b) by the MinHash property —
    * next to the exact set Jaccard for calibration. At corpus scale this
    * estimator is what lets a pipeline SKIP the exact verify join (the
    * shingle sets, the widest payload in the pipeline, never shuffle for
    * pairs the estimate already rules out); this operator is the
    * calibration query that justifies that cut: est is k·16 bytes per doc
    * regardless of document length, and |est − jaccard| concentrates at
    * O(1/√k). est = n/k is an exact dyadic double, so an external SQL
    * oracle reproduces it bitwise.
    */
  def minhashEstimatePairs(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, numHashes: Int = 16,
                           bands: Int = 4,
                           maxBucketSize: Int = 1 << 20): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / bands
    val withSets = df
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
      .select(col(idCol), minhashPlan(col(textCol), shingleN, numHashes).as("__mh"))
      .select(col(idCol), col("__mh.sh").as("__sh"), col("__mh.sig").as("__sig"))
      .filter(size(col("__sh")) > 0)
      .localCheckpoint(true)
    val candidates = lshCandidatePairs(withSets, idCol, bands, rowsPerBand, maxBucketSize)
    val a = withSets.select(col(idCol).as("id_a"),
      col("__sh").as("__sh_a"), col("__sig").as("__sig_a"))
    val b = withSets.select(col(idCol).as("id_b"),
      col("__sh").as("__sh_b"), col("__sig").as("__sig_b"))
    candidates
      // merge-hinted: a corpus-sized sets side must never broadcast (see
      // jaccardPairsFromSets — AQE's compressed stats under-size verbatim
      // duplicates)
      .join(a.hint("merge"), "id_a").join(b.hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("__sh_a"), col("__sh_b")).as("jaccard"),
        (size(filter(zip_with(col("__sig_a"), col("__sig_b"), (x, y) => x === y),
          m => m)).cast("double") / numHashes).as("est"))
  }

  /** Exact n-gram Jaccard near-dup pairs within a blocking key (source,
    * domain, length bucket, …). Unlike [[nearDupPairs]] (probabilistic
    * candidate generation) this is exhaustive inside each block — the right
    * tool when blocks are small and an exact answer is required. Uses
    * STRING shingles so an external SQL oracle can reproduce it exactly.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, shingleN: Int, threshold: Double): DataFrame = {
    // Prefix-filtered set-similarity join (PPJoin-lite):
    //  1. sort each shingle set under one global order (lexicographic) and
    //     index only its PREFIX of length sz - ceil(t*sz) + 1 — two sets
    //     with jaccard >= t must collide inside their prefixes;
    //  2. candidate pairs additionally satisfy the length filter
    //     (t*|A| <= |B| and vice versa, since j <= min/max);
    //  3. exact-verify candidates with a full array intersection.
    // At t=0.5 this visits a tiny fraction of the postings a plain
    // inverted-index join would (which itself beats the naive blocked
    // all-pairs array-intersect join ~3x); the blocked all-pairs variant
    // evaluates every O(block²) pair and dies first at scale.
    //
    // Shingles are 64-bit HASHES, not strings: set cardinalities (and
    // therefore every jaccard value) are unchanged modulo negligible
    // collisions, while postings/verification payloads shrink ~8x and all
    // compares become integer ops. The numeric sort is the global prefix
    // order.
    jaccardPairsFromSets(
      df.select(col(blockCol).as("__blk"), col(idCol),
        array_sort(shingleHashes(col(textCol), shingleN)).as("__sh")),
      idCol, threshold)
  }

  /** The [[jaccardPairs]] PPJoin verify pass over PRECOMPUTED shingle
    * sets — input is (`__blk`, id, `__sh` SORTED array<long>). This is the
    * entry the shared dedup-eval store ([[DedupEvalStore]]) feeds, so one
    * exact-verify pass serves every eval query in a slate run;
    * [[jaccardPairs]] derives the sets from text and delegates here.
    */
  def jaccardPairsFromSets(setsIn: DataFrame, idCol: String,
                           threshold: Double): DataFrame = {
    val sets = setsIn
      .withColumn("__sz", size(col("__sh")))
      .filter(col("__sz") > 0)
      .localCheckpoint(true)

    val prefLen = (col("__sz") - ceil(col("__sz") * lit(threshold)) + 1).cast("int")
    val prefixes = sets.select(col("__blk"), col(idCol), col("__sz"),
      explode(slice(col("__sh"), lit(1), prefLen)).as("__shingle"))

    // Candidate generation from posting lists in ONE aggregation (the
    // aligned-collect shape shared with the LSH paths): per (block,
    // prefix-shingle) posting, ids and set sizes ride as two index-aligned
    // lists, zipped and sorted by id so the streamed pair emission gets
    // id_a < id_b for free and the PPJoin length filter
    // (t·|A| ≤ |B| ∧ t·|B| ≤ |A|) applies inline — replacing the
    // posting-table self-join (a second full shuffle of the exploded
    // prefixes plus the join) with a groupBy over the same rows. No cap
    // here: PPJoin is exact, so a posting must emit ALL its pairs; a hot
    // posting buffers its (id, sz) list in the aggregation — the same
    // order of resident state the sort-merge join buffered for an equal
    // key, with the quadratic pair OUTPUT streaming in both shapes.
    val postings = prefixes.groupBy("__blk", "__shingle")
      .agg(collect_list(col(idCol)).as("__ids"), collect_list(col("__sz")).as("__szs"))
      .filter(size(col("__ids")) >= 2)
      .select(sort_array(arrays_zip(col("__ids"), col("__szs"))).as("__z"))
    val candidates = postings
      .select(col("__z"), posexplode(col("__z")).as(Seq("__i", "__a")))
      .select(col("__a.__ids").as("id_a"), col("__a.__szs").as("__sz_a"),
        explode(slice(col("__z"), col("__i") + lit(2), size(col("__z")))).as("__b"))
      .filter(col("__sz_a") * threshold <= col("__b.__szs") &&
        col("__b.__szs") * threshold <= col("__sz_a"))
      .select(col("id_a"), col("__b.__ids").as("id_b"))
      .distinct()

    // merge-hinted verify joins (r12, the 100× probe failure): the sets
    // relation is corpus-sized BY DEFINITION, but verbatim-duplicate
    // shingle arrays compress so well in shuffle that AQE's compressed
    // stats can mis-route it to a broadcast — which collects the
    // DESERIALIZED relation (~1.8 GB at the 100× probe) through the
    // driver and dies on maxResultSize. A corpus-sized side must never
    // broadcast; the hint pins the shuffled sort-merge plan.
    val sa = sets.select(col(idCol).as("id_a"), col("__sh").as("__sh_a"))
    val sb = sets.select(col(idCol).as("id_b"), col("__sh").as("__sh_b"))
    candidates
      .join(sa.hint("merge"), "id_a").join(sb.hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("__sh_a"), col("__sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash of the token multiset: bit i of the sketch is the sign of
    * Σ_tokens (±1 by bit i of the portable md5-48 token hash). Near-dups
    * have small Hamming distance between sketches. 48 bits (not 64) so the
    * per-token hash comes from the portable family an external SQL oracle
    * replays exactly; sketch quality scales with bit count and 48 is ample
    * for near-dup bucketing.
    *
    * Computed per-row with two compact folds (token hashes → bit-vote
    * counters → packed long) — a pure projection with NO shuffle, and a
    * constant-size expression tree. The naive alternative (explode + 64
    * separate conditional sums) shuffles |tokens| rows per doc and takes
    * Catalyst ~20s just to analyze/codegen the 64-agg plan.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 48): DataFrame = {
    require(bits >= 1 && bits <= 48, "portable md5-48 family carries 48 bits")
    df.select(col(idCol),
      call_function("simhash48", col(textCol), lit(bits)).as("simhash"))
  }

  /** SimHash near-duplicate pairs via pigeonhole banding: split the
    * `bits`-bit sketch into `bands` equal slices; two sketches within
    * Hamming distance `maxHamming < bands` MUST agree on at least one
    * whole band (pigeonhole), so banding loses no candidate pair **whose
    * buckets all stay under `maxBucketSize`**. Buckets above the cap are
    * dropped whole (the hot-bucket guard below), so true near-duplicates
    * that collide ONLY inside an over-full bucket are lost — the price of
    * bounding candidate generation on boilerplate-heavy corpora. Audit
    * the trade with [[simhashDroppedBuckets]], which reports every dropped
    * bucket and its size; a run where it returns no rows was lossless.
    * Candidates equi-join on (band, band value), then verify with
    * `bit_count(a XOR b)` — a single-instruction popcount both Spark and
    * any modern SQL engine evaluate identically.
    *
    * Scale shape: identical to MinHash-LSH banding — only (band, 12-bit
    * slice, id, sketch) rows shuffle, candidates are per-bucket, and no
    * all-pairs path exists. This is the sketch-side completion of
    * [[simhash]]: sketches alone find nothing; banded pairing is the
    * actual dedup step.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   bits: Int = 48, bands: Int = 4,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = 1 << 20): DataFrame = {
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    require(maxHamming < bands,
      s"pigeonhole banding is lossless only for maxHamming < bands ($maxHamming >= $bands)")
    val width = bits / bands
    // No persist needed: the banding table now has exactly ONE consumer
    // (the bucket aggregation below), so the sketch computes once by
    // construction.
    val banded = simhash(df, idCol, textCol, bits)
      .select(col(idCol), col("simhash"),
        posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => call_function("shiftright", col("simhash"), b * width)
              .bitwiseAND(lit((1L << width) - 1))))
          .as(Seq("band", "band_val")))
    // Hot-bucket census + candidate generation in ONE aggregation pass
    // (same shape as nearDupPairsFromSets): collect each bucket's ids AND
    // sketches as two saturating lists. The two lists are index-ALIGNED —
    // both aggregates consume the same rows in the same order, partial
    // buffers merge in the same sequence — so zipping them reunites each
    // id with its sketch without the join-backs the old self-join shape
    // paid. Buckets above the cap saturate at cap+1 (bounded memory, see
    // BoundedCollectList) and drop with the singletons; the cap bounds
    // candidate generation at O(buckets · cap²) when homogeneous corpora
    // (boilerplate, templated text) collapse many sketches onto one band
    // value.
    // The native aggregate is bigint-only AND the two lists must saturate
    // identically to stay index-aligned — so a non-long id column forces
    // BOTH collects onto plain collect_list (same survivorship via the
    // size filter below; unbounded buffers are the price of exotic ids).
    val idIsLong = banded.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    def collectLongs(c: Column) =
      if (idIsLong)
        call_function("bounded_collect_list", c, lit(maxBucketSize))
      else collect_list(c)
    val buckets = banded.groupBy("band", "band_val")
      .agg(collectLongs(col(idCol)).as("__ids"),
        collectLongs(col("simhash")).as("__sks"))
      .filter(size(col("__ids")) >= 2 && size(col("__ids")) <= maxBucketSize)
      // struct sort is lexicographic on field order: (id, sketch) sorts by
      // id, which gives id_a < id_b for free in the pair emission below
      .select(sort_array(arrays_zip(col("__ids"), col("__sks"))).as("__z"))
    // Streamed in-bucket pair emission, resident memory ≤ one bucket's
    // zipped list — the pair set streams through the Generate operators.
    buckets
      .select(col("__z"), posexplode(col("__z")).as(Seq("__i", "__a")))
      .select(col("__a.__ids").as("id_a"), col("__a.__sks").as("__sa"),
        explode(slice(col("__z"), col("__i") + lit(2), size(col("__z")))).as("__b"))
      .select(col("id_a"), col("__b.__ids").as("id_b"),
        bit_count(col("__sa").bitwiseXOR(col("__b.__sks"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Audit twin of [[simhashPairs]]'s hot-bucket guard: every (band,
    * band_val) bucket whose size exceeds `maxBucketSize` — i.e. every
    * bucket the pair join silently dropped — with its row count. Empty
    * result ⇒ the banding run was a lossless candidate filter for the
    * pigeonhole radius; non-empty ⇒ `n_docs` per row quantifies the
    * exposure. Same banding computation, so the census matches the run
    * it audits exactly.
    */
  def simhashDroppedBuckets(df: DataFrame, idCol: String, textCol: String,
                            bits: Int = 48, bands: Int = 4,
                            maxBucketSize: Int = 1 << 20): DataFrame = {
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    val width = bits / bands
    simhash(df, idCol, textCol, bits)
      .select(col(idCol),
        posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => call_function("shiftright", col("simhash"), b * width)
              .bitwiseAND(lit((1L << width) - 1))))
          .as(Seq("band", "band_val")))
      .groupBy("band", "band_val")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucketSize)
  }

  /** Count-min-sketch term counts — the third sketch in the family next
    * to HLL (`approx_distinct_parts`) and bloom (`contamination_bloom`):
    * a fixed (depth × width) counter grid answering "how often does term
    * X occur" in O(depth·width) memory regardless of vocabulary size, the
    * structure a 100 TB pass uses for heavy-hitter screening when the
    * exact per-term groupBy's key space is unbounded (URLs, n-grams).
    *
    * Fully RELATIONAL sketch, same design as the bloom variant: row j's
    * counter for hash h sits at ((2j+3)·h + j) mod width — the affine
    * position family keeps every product < 2^53 and replays digit for
    * digit in an external SQL engine, so the whole sketch (grid, probes,
    * min-fold, overcounts) is HARD-oracled rather than contract-checked.
    * Emits, for the top-k exact terms, the true count next to the sketch
    * estimate and the structural invariant `no_underestimate`
    * (CMS never undercounts: every probed cell contains the term's own
    * count plus nonnegative collision mass). Run with a deliberately
    * small width at test scale so collisions actually occur and the
    * min-fold is exercised; production widths are 2^20+.
    *
    * Scale shape: the grid build is ONE groupBy of (row, position) pairs
    * — at most depth·width cells survive, with map-side partials doing
    * almost all the folding; the probe side is topK·depth rows joined
    * against the (broadcastable) grid. Document text never shuffles.
    */
  def cmsTermCounts(df: DataFrame, textCol: String,
                    depth: Int = 4, width: Int = 64,
                    topK: Int = 20): DataFrame = {
    require(depth >= 1 && width > 0)
    // Eager checkpoint: the token-hash stream feeds the grid AND the
    // exact top-k truth, whose stages launch concurrently (r17 — a lazy
    // persist hashed the stream once per consumer).
    val toks = df
      .select(explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .select(md5Hash48(col("__t"), 1).as("__h"))
      .localCheckpoint(true)
    def positions(h: Column): Column =
      transform(sequence(lit(0), lit(depth - 1)),
        j => pmod((j * 2 + lit(3)) * h + j, lit(width.toLong)))
    val sketch = toks
      .select(posexplode(positions(col("__h"))).as(Seq("__j", "__p")))
      .groupBy("__j", "__p").agg(count(lit(1)).as("__c"))
    val truth = toks.groupBy("__h").agg(count(lit(1)).as("n_true"))
      .orderBy(col("n_true").desc, col("__h").asc)
      .limit(topK)
    truth
      .select(col("__h"), col("n_true"),
        posexplode(positions(col("__h"))).as(Seq("__j", "__p")))
      .join(sketch, Seq("__j", "__p"))
      .groupBy("__h", "n_true")
      .agg(min(col("__c")).as("n_est"))
      .select(col("__h").as("term_hash"), col("n_true"), col("n_est"),
        (col("n_est") >= col("n_true")).as("no_underestimate"))
  }

  /** Vocabulary coverage: the fraction of each document's token instances
    * that fall inside the corpus's top-`k` token vocabulary — the
    * out-of-vocabulary-rate quality signal (high OOV → garbled text,
    * wrong language, or markup). The vocabulary is an aggregation of the
    * same token stream, so the whole operator is two aggregations and a
    * broadcast-able semi-join on 8-byte token hashes; document text never
    * shuffles.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    topK: Int): DataFrame = {
    // Eager checkpoint: the token stream feeds vocabulary construction
    // AND the per-doc coverage count concurrently (r17).
    val toks = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
      .select(col(idCol), md5Hash48(col("__t"), 1).as("__h"))
      .localCheckpoint(true)
    // deterministic top-k: frequency desc, hash asc tiebreak
    val vocab = toks.groupBy("__h").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__h").asc)
      .limit(topK)
      .select("__h")
    val perDoc = toks.groupBy(idCol).agg(count(lit(1)).as("n_tokens"))
    val inVocab = toks.join(broadcast(vocab), "__h")
      .groupBy(idCol).agg(count(lit(1)).as("__iv"))
    perDoc.join(inVocab, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__iv"), lit(0L)).as("n_in_vocab"))
      .withColumn("coverage",
        col("n_in_vocab").cast("double") / col("n_tokens").cast("double"))
  }

  /** BM25 top-k retrieval: score every document against a small query
    * workload `queries(query_id, term)` and keep the k best per query —
    * the lexical-retrieval half of a RAG / hard-negative-mining stack
    * (the dense half is [[graft.functions.VectorOps.hardNegatives]]).
    *
    * Scoring is Robertson/Okapi BM25 with a log-free surrogate idf
    * `(N - df + 0.5) / (df + 0.5)` — the same monotone ranking as
    * `ln(1 + …)` without libm's last-ulp variance (the repo's tf-idf
    * precedent), so scores hash bitwise against an external SQL twin.
    * Default `k1 = 1.25`, `b = 0.75` are exact binary fractions for the
    * same reason. Per-(query, doc) scores sum term contributions in
    * ascending-term order via a sequential fold — associativity is
    * pinned, so IEEE addition reproduces exactly.
    *
    * Scale shape (probe-side index build — no corpus-wide postings):
    *  - Doc length needs NO shuffle at all: dl = size(tokens) computed
    *    row-local in the scan projection; N and avgdl are one map-side
    *    combined aggregate over it.
    *  - The query term list broadcasts into the explode BEFORE the
    *    (doc, term) aggregate, so the only rows that ever shuffle are
    *    postings FOR QUERY TERMS — the corpus-wide (doc, term, tf)
    *    relation (the dominant cost: |corpus tokens| rows through an
    *    exchange) is never materialized. The r8 bench attributed ~80%
    *    of this operator's time to exactly that pre-prune shuffle.
    *  - df comes from the pruned postings (distinct by construction);
    *    it and the one-row corpus globals broadcast onto the scoring.
    *  - Per-query top-k is row_number ≤ k over (score desc, id asc) —
    *    plans as WindowGroupLimit, so each partition forwards at most k
    *    candidates per query to the final rank exchange.
    *
    * N and avgdl are over token-bearing documents (an empty doc can
    * never match, and this keeps both derivable from the postings
    * without a second corpus pass).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, k: Int = 5,
               k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    // dl is row-local (no explode, no shuffle): the count of non-empty
    // tokens per doc; only token-BEARING docs define N/avgdl (an empty
    // doc can never match), matching the postings-derived definition.
    val dl = docs
      .select(col(idCol),
        regexp_count(normText(col(textCol)), lit("\\S+")).cast("long")
          .as("dl"))
      .filter(col("dl") > 0)
    val globals = dl.agg(count(lit(1)).as("__n"),
      sum(col("dl")).cast("long").as("__tot"))
    val qt = queries.select(col("term")).distinct()
    // prune to query terms BEFORE the (doc, term) aggregate: the
    // broadcast-hash semi filter runs inside the scan stage, so only
    // query-term hits reach the exchange.
    val tfq = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .join(broadcast(qt), Seq("term"), "left_semi")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfq = tfq.groupBy(col("term")).agg(count(lit(1)).as("df"))

    val nD = col("__n").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val avgdl = col("__tot").cast("double") / nD
    val idf = (nD - dfD + lit(0.5)) / (dfD + lit(0.5))
    val den = tfD + lit(k1) * (lit(1 - b) + lit(b) * (col("dl").cast("double") / avgdl))
    val contrib = idf * ((tfD * lit(k1 + 1)) / den)

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    tfq
      .join(dl, Seq(idCol))
      .join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(globals))
      .select(col("term"), col(idCol), contrib.as("__contrib"))
      .join(broadcast(queries), Seq("term"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sort_array(collect_list(struct(col("term"), col("__contrib"))))
        .as("__cs"))
      .select(col("query_id"), col(idCol),
        size(col("__cs")).cast("long").as("n_terms"),
        aggregate(col("__cs"), lit(0.0),
          (acc, x) => acc + x.getField("__contrib")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("n_terms"),
        col("score"))
  }

  /** Top-k co-occurring term pairs with a PMI-style lift score —
    * collocation mining for vocabulary / tokenizer construction (which
    * word pairs travel together far more often than chance predicts).
    *
    * Semantics: presence-based co-occurrence over DISTINCT terms per
    * document. The universe is bounded twice, and both bounds are part
    * of the operator's contract (the oracle twin replicates them):
    *  - vocabulary prune: only terms with document frequency ≥ `minDf`
    *    participate (rare-term pairs are noise AND the O(v²) pair space
    *    must not grow with the corpus tail);
    *  - per-doc cap: each document contributes ordered pairs from its
    *    alphabetically-first `perDocCap` vocab terms — a deterministic
    *    O(cap²) per-row bound, so a pathological million-term document
    *    cannot explode the pair stage.
    * `lift = (n_pair · N) / (df_a · df_b)` (> 1 ⇔ positive PMI) uses
    * one multiply each side of a single division over exact BIGINT
    * casts — IEEE-deterministic, so it hashes bitwise against the SQL
    * twin; df marginals are the UNCAPPED document frequencies. Ranking
    * is by pair count (stable against rare-pair lift noise) with the
    * lexicographic pair as tiebreak.
    *
    * Scale shape: the (doc, term) presence rows come from one
    * tokenize/array_distinct/explode pass (no shuffle until the df agg,
    * which moves only term+count with map-side partials); the vocab
    * prune broadcasts; pair emission is in-array on the capped sorted
    * term array (sourceOverlap's pattern — never a per-doc self-join);
    * the final top-k is a global orderBy+limit → TakeOrderedAndProject,
    * so each partition forwards k rows. The presence table is persisted
    * (feeds df, N, and the pair stage — callers `clearCache()` after,
    * the [[nearDupPairs]] contract).
    */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
               minDf: Int = 3, perDocCap: Int = 32, k: Int = 20): DataFrame = {
    // eager localCheckpoint, not lazy persist (r17, guide §2.4/§5): the
    // presence table has THREE consumers (df, N, the pair stage) whose
    // broadcast sides launch as concurrent query stages — under a lazy
    // persist each re-ran the full tokenize+explode scan before the cache
    // populated (the kCorePeel finding; observed 4-5 identical scans per
    // run). The eager checkpoint tokenizes the corpus exactly once.
    val dt = docs
      .select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
      .localCheckpoint(true)
    val df = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val vocab = df.filter(col("df") >= minDf)
    val nDocs = dt.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("__n"))
    val arrs = dt
      .join(broadcast(vocab.select(col("term"))), Seq("term"))
      .groupBy(col(idCol))
      .agg(slice(sort_array(collect_list(col("term"))), 1, perDocCap).as("__ts"))
      .filter(size(col("__ts")) >= 2)
    val pairCounts = arrs
      .select(explode(Assoc.orderedPairs(col("__ts"))).as("__p"))
      .groupBy(col("__p.a").as("term_a"), col("__p.b").as("term_b"))
      .agg(count(lit(1)).as("n_pair"))
    pairCounts
      .join(broadcast(vocab.select(col("term").as("term_a"), col("df").as("df_a"))),
        Seq("term_a"))
      .join(broadcast(vocab.select(col("term").as("term_b"), col("df").as("df_b"))),
        Seq("term_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("term_a"), col("term_b"), col("n_pair"),
        col("df_a"), col("df_b"),
        ((col("n_pair").cast("double") * col("__n").cast("double"))
          / (col("df_a").cast("double") * col("df_b").cast("double"))).as("lift"))
      .orderBy(col("n_pair").desc, col("term_a").asc, col("term_b").asc)
      .limit(k)
  }

  /** Portable shingle-hash SEQUENCE in document order, duplicates kept —
    * winnowing must slide over the original shingle stream, not the
    * deduplicated set. `tokenCol` should be a materialized token-array
    * column (see [[winnowCounts]]) so the split isn't re-evaluated per
    * window.
    */
  def shingleHashSeq(tokenCol: Column, n: Int): Column =
    transform(
      sequence(lit(0), greatest(size(tokenCol) - n, lit(0))),
      i => md5Hash48(concat_ws(" ", slice(tokenCol, i + 1, lit(n))), 1))

  /** [[shingleHashSeq]] over raw TEXT via the native ShingleSeq
    * expression: one MessageDigest pass per doc, bitwise the values of
    * `shingleHashSeq(tokens(c), n)` (same md5-48 family, same positional
    * non-distinct stream — asserted by ShingleSeqSpec) without re-running
    * an interpreted concat/md5/conv tree per window.
    */
  def shingleSeq(c: Column, n: Int): Column =
    call_function("shingle_seq", c, lit(n))

  /** Winnowing fingerprints (MOSS-style): the minimum shingle hash in each
    * sliding window of `w` consecutive shingles, deduplicated. Guarantees
    * any shared run of >= w+shingleN-1 tokens between two documents yields
    * at least one shared fingerprint — robust partial-overlap detection
    * (quotes, boilerplate) at a fraction of the full shingle set's size.
    * Pure per-row projection; output is the compact key set to index.
    */
  def winnowFingerprints(c: Column, shingleN: Int, w: Int): Column = {
    val sh = shingleHashSeq(tokens(c), shingleN)
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(sh) - w, lit(0))),
        i => array_min(slice(sh, i + 1, lit(w)))))
  }

  /** Per-doc winnowing fingerprint COUNT with each stage materialized as a
    * projection (tokens → shingle seq → window minima → distinct count) so
    * the token split and hash sequence are computed once per row, not once
    * per sliding window. This is the form to use over a corpus.
    */
  def winnowCounts(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, w: Int): DataFrame =
    df.select(col(idCol), shingleSeq(col(textCol), shingleN).as("__shseq"))
      .select(col(idCol),
        transform(
          sequence(lit(0), greatest(size(col("__shseq")) - w, lit(0))),
          i => array_min(slice(col("__shseq"), i + 1, lit(w)))).as("__mins"))
      .select(col(idCol),
        size(array_distinct(col("__mins"))).cast("long").as("n_fingerprints"))

  /** Provenance / quoted-span lookup over winnowing fingerprints: which
    * corpus documents contain (parts of) each query snippet — the
    * contamination-PROVENANCE question ("the eval answer leaked; from
    * which training docs?") that bloom-membership checks can't answer
    * because they return a bit, not the source. Both sides fingerprint
    * with the SAME (shingleN, w) winnowing ([[winnowFingerprints]];
    * Schleimer et al., SIGMOD'03), whose guarantee carries over: any
    * shared token run of length ≥ w + shingleN − 1 shares at least one
    * fingerprint, so a quoted span of that length cannot evade the
    * lookup. The query side is workload-sized and BROADCASTS onto the
    * doc-fingerprint postings — the corpus shuffles nothing; coverage is
    * matched/|query fps|, one divide.
    */
  def provenanceLookup(docs: DataFrame, idCol: String, textCol: String,
                       queries: DataFrame, queryIdCol: String,
                       snippetCol: String, shingleN: Int, w: Int): DataFrame = {
    // The shingle SEQUENCE is materialized as its own projection before
    // the sliding-window minima reference it (the winnowCounts staging
    // discipline). r17: the seq expression was inlined straight into the
    // window transform, where it is referenced once per window position —
    // CollapseProject cannot hoist an expensive expression used w+ times,
    // so each doc re-ran shingle_seq per window (docPost alone measured
    // 4.2 s vs 0.3 s staged at sf0.1/32 cores — the whole gap between
    // provenance_lookup and its neighbors). Values unchanged: same seq,
    // same minima, same distinct.
    def winnowed(c: Column): Column =
      array_distinct(transform(
        sequence(lit(0), greatest(size(c) - w, lit(0))),
        i => array_min(slice(c, i + 1, lit(w)))))
    val docPost = docs
      .select(col(idCol),
        shingleSeq(col(textCol), shingleN).as("__seq"))
      .select(col(idCol), explode(winnowed(col("__seq"))).as("__fp"))
      .filter(col("__fp").isNotNull)
    val qPost = queries
      .select(col(queryIdCol).as("query_id"),
        shingleSeq(col(snippetCol), shingleN).as("__seq"))
      .select(col("query_id"), explode(winnowed(col("__seq"))).as("__fp"))
      .filter(col("__fp").isNotNull)
    val qSizes = qPost.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_query_fps"))
    docPost.join(broadcast(qPost), Seq("__fp"))
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).cast("long").as("n_matched"))
      .join(broadcast(qSizes), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        col("n_matched"), col("n_query_fps").cast("long").as("n_query_fps"),
        (col("n_matched").cast("double") / col("n_query_fps").cast("double"))
          .as("coverage"))
  }

  /** Within-document repetition: 1 - distinct/total over the n-gram shingle
    * STREAM (duplicates kept) — the standard "repetition ratio" quality
    * signal for LLM training data (boilerplate, keyword stuffing, decoding
    * loops all show up as repeated n-grams). Pure per-row projection on the
    * portable hash family; `repetition` is 0 for fully novel text.
    */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3): DataFrame =
    df.select(col(idCol), shingleSeq(col(textCol), shingleN).as("__s"))
      .select(col(idCol),
        size(col("__s")).cast("long").as("n_shingles"),
        size(array_distinct(col("__s"))).cast("long").as("n_distinct"))
      // a doc too short to shingle has UNDEFINED repetition: emit null
      // explicitly so ANSI mode can't crash the scan with DIVIDE_BY_ZERO
      .withColumn("repetition",
        when(col("n_shingles") === 0, lit(null).cast("double"))
          .otherwise(lit(1.0) -
            col("n_distinct").cast("double") / col("n_shingles").cast("double")))

  /** Contiguous sequence packing for training-batch export: docs are
    * packed in key order into fixed token budgets — a doc starts in the
    * pack its running token offset falls into. Deterministic (pure window
    * arithmetic, no bin-packing heuristics with order-dependent state) and
    * scale-safe: the window partitions by `shardCol` (language, source,
    * date bucket …), so no global single-partition sort exists; each shard
    * packs independently, which is how training shards are laid out
    * anyway.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    shardCol: String, budget: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol))
      .orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn("pack_id",
        floor((col("__cum") - col(tokenCol)) / lit(budget)).cast("long"))
      .drop("__cum")
  }

  /** Benchmark contamination check (decontamination): for every corpus
    * document, the fraction of its distinct n-gram shingles that appear
    * anywhere in a benchmark set — the standard train/eval-overlap signal
    * (docs above a containment threshold get dropped before training).
    *
    * Scale shape: the benchmark side collapses to a DISTINCT shingle-hash
    * set (8 bytes per unique n-gram — a benchmark suite is tiny next to a
    * 100 TB corpus), and the corpus side explodes to (doc, shingle) rows
    * that hit it with a broadcast-able semi-join keyed on the hash; the
    * corpus text itself never shuffles. Portable hash family throughout,
    * so an external SQL oracle replays the exact counts.
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    shingleN: Int): DataFrame = {
    // Both shingle sides ride the native one-pass minhash_plan expression
    // (k=1, signature unused) — bitwise the same md5-48 values the HOF
    // shingleHashSeq path produced, one MessageDigest pass per doc instead
    // of four nested interpreted HOFs; `sh` is already distinct, so no
    // array_distinct stage.
    val benchSet = benchmark
      .select(explode(minhashPlan(col(benchTextCol), shingleN, 1)
        .getField("sh")).as("__bsh"))
      .distinct()
    val docSets = docs
      .select(col(idCol),
        minhashPlan(col(textCol), shingleN, 1).getField("sh").as("__sh"))
    contaminationFromSets(docSets, idCol, benchSet)
  }

  /** [[contamination]] over PRECOMPUTED per-doc distinct shingle-hash sets
    * (`idCol`, `__sh`) and a distinct benchmark hash set (`__bsh`) — for
    * pipelines that already materialized one shingle pass (see the
    * curation pipeline).
    */
  def contaminationFromSets(sets: DataFrame, idCol: String,
                            benchSet: DataFrame): DataFrame = {
    // Eager checkpoint: the per-doc shingle sets feed BOTH the hit count
    // and the final ratio join concurrently — under a lazy persist the
    // shingle projection (the dominant cost) ran twice (r17).
    val docSets = sets.localCheckpoint(true)
    val hits = docSets
      .select(col(idCol), explode(col("__sh")).as("__s"))
      .join(benchSet, col("__s") === col("__bsh"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("__hit"))
    docSets
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        size(col("__sh")).cast("long").as("n_shingles"),
        coalesce(col("__hit"), lit(0L)).as("n_contaminated"))
      // zero-shingle docs have undefined containment: null, not a crash
      .withColumn("containment",
        when(col("n_shingles") === 0, lit(null).cast("double"))
          .otherwise(col("n_contaminated").cast("double") / col("n_shingles")))
  }

  /** Bloom-filter decontamination — the sketch-side variant of
    * [[contamination]] a 100 TB pass actually ships: the benchmark
    * collapses to a SET OF BIT POSITIONS (k affine positions per distinct
    * md5-48 shingle hash, ((2j+3)·h + j) mod `bits`), a few MB broadcast
    * everywhere, and each corpus shingle is "contaminated" iff ALL k of
    * its positions are set. No UDF and no driver-side filter object:
    * membership is a broadcast semi-join on the bit position plus a
    * count-equals-k fold, so the whole sketch — hashes, bits, verdicts —
    * replays bitwise in an external SQL engine (a HARD oracle where real
    * bloom libraries would force a weaker contract check).
    *
    * Emits exact and bloom hit counts side by side with the structural
    * no-false-negative invariant (`bloom_ok`): a true member's bits are
    * all set by construction, so n_bloom >= n_exact always — while the
    * overcount measures the actual false-positive rate at this
    * (bits, k, |benchmark|) operating point instead of assuming the
    * textbook bound.
    */
  def contaminationBloom(docs: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         shingleN: Int, bits: Int = 1 << 18, k: Int = 3): DataFrame = {
    require(k >= 1 && bits > 0)
    // k affine positions from the single 48-bit shingle hash:
    // pos_j = ((2j+3)·h + j) mod bits. Coefficients stay tiny so the
    // products are < 2^63 on both engines (Spark wraps silently on long
    // overflow, external engines raise — staying in range sidesteps the
    // divergence entirely), and deriving from h alone lets the native
    // one-pass minhash_plan expression supply the shingle sets (the
    // two-hash Carter-Wegman variant would force the ~5x slower HOF
    // md5-pair path).
    def positions(h: Column): Column =
      transform(sequence(lit(0), lit(k - 1)),
        j => pmod((lit(2) * j + lit(3)) * h + j, lit(bits.toLong)))
    val benchSh = benchmark
      .select(explode(minhashPlan(col(benchTextCol), shingleN, 1)
        .getField("sh")).as("__bh1"))
      .distinct()
    val benchBits = benchSh
      .select(explode(positions(col("__bh1"))).as("__bit"))
      .distinct()
    // Persisted: the per-doc distinct shingle hashes feed the size count,
    // the exact probe AND the bloom probe. Same caching contract as
    // nearDupPairs (callers clearCache() when done).
    val docSh = docs
      .select(col(idCol),
        explode(minhashPlan(col(textCol), shingleN, 1)
          .getField("sh")).as("__h1"))
      .localCheckpoint(true)
    val sizes = docSh.groupBy(idCol).agg(count(lit(1)).as("n_shingles"))
    val exact = docSh
      .join(benchSh, col("__h1") === col("__bh1"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("__ne"))
    val bloom = docSh
      .select(col(idCol), col("__h1"), explode(positions(col("__h1"))).as("__bit"))
      .join(benchBits, Seq("__bit"), "left_semi")
      .groupBy(col(idCol), col("__h1")).agg(count(lit(1)).as("__nb"))
      .filter(col("__nb") === k)
      .groupBy(idCol).agg(count(lit(1)).as("__nbl"))
    sizes
      .join(exact, Seq(idCol), "left")
      .join(bloom, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("__ne"), lit(0L)).as("n_exact"),
        coalesce(col("__nbl"), lit(0L)).as("n_bloom"))
      .withColumn("bloom_ok", col("n_bloom") >= col("n_exact"))
  }

  /** Per-document text statistics: char count, whitespace-token count,
    * BPE-ish token count (letter runs / digit runs / single non-space
    * symbols — a deterministic proxy for subword token budgeting), digit
    * count, and md5 fingerprint. Pure per-row map, no shuffle.
    */
  def textStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      length(t).cast("long").as("n_chars_calc"),
      regexp_count(t, lit("\\S+")).cast("long").as("n_tokens"),
      regexp_count(t, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long").as("n_bpe_tokens"),
      regexp_count(t, lit("[0-9]")).cast("long").as("n_digits"),
      fingerprint(t).as("fp"))
  }

  /** Quality heuristics: stopword ratio (fluency proxy) and a short-doc
    * flag. Deterministic double arithmetic (int/int division in double).
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
                   minChars: Int = 100): DataFrame = {
    val t = col(textCol)
    val nTokens = regexp_count(t, lit("\\S+"))
    val nStop = regexp_count(lower(t), lit("\\b(the|a|of|and|in|to)\\b"))
    df.select(
      col(idCol),
      (nStop.cast("double") / nTokens.cast("double")).as("stopword_ratio"),
      (length(t) < minChars).as("is_short"))
  }

  /** Gopher quality-rule battery (Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", 2021, Appendix
    * A1.1) — the canonical pre-training document filter the public
    * curation stacks reimplement: word-count window, mean word length
    * window, symbol-to-word ratio ('#'/ellipsis), bullet- and
    * ellipsis-line fractions, alphabetic-word fraction, required-stopword
    * presence, and the repetition ladder's line-level rung
    * (duplicate-line fraction). Every metric is an in-row HOF fold over
    * the split word/line arrays — zero shuffle, one codegen'd pass at any
    * corpus size; ratios are single int/int divides (null when the
    * denominator is 0) so an external SQL twin replays the hash exactly.
    * `keep` is the conjunction with Gopher's published thresholds.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val words = filter(split(t, "\\s+"), w => w =!= "")
    val lines = filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")
    // Gopher's 8 required stopwords: a doc with < 2 distinct hits is
    // likely not running prose
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = stops.map(sw =>
      when(lower(t).rlike("\\b" + sw + "\\b"), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    val m = df.select(col(idCol),
      size(words).cast("long").as("n_words"),
      aggregate(transform(words, w => length(w).cast("long")),
        lit(0L), (a, x) => a + x).as("__wchars"),
      regexp_count(t, lit("#|\\.\\.\\.|…")).cast("long").as("__nsym"),
      size(filter(lines, l => l.rlike("^[-*•]"))).cast("long").as("__nbullet"),
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$"))).cast("long").as("__nellip"),
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long").as("__nalpha"),
      stopHits.as("n_stop_hits"),
      size(lines).cast("long").as("__nlines"),
      size(array_distinct(lines)).cast("long").as("__ndlines"))
    def frac(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    m.select(col(idCol), col("n_words"),
        frac(col("__wchars"), col("n_words")).as("mean_word_len"),
        frac(col("__nsym"), col("n_words")).as("symbol_word_ratio"),
        frac(col("__nbullet"), col("__nlines")).as("bullet_line_frac"),
        frac(col("__nellip"), col("__nlines")).as("ellipsis_line_frac"),
        frac(col("__nalpha"), col("n_words")).as("alpha_word_frac"),
        col("n_stop_hits"),
        frac(col("__nlines") - col("__ndlines"), col("__nlines"))
          .as("dup_line_frac"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_word_ratio") <= 0.1 &&
          coalesce(col("bullet_line_frac") <= 0.9, lit(true)) &&
          coalesce(col("ellipsis_line_frac") <= 0.3, lit(true)) &&
          col("alpha_word_frac") >= 0.8 &&
          col("n_stop_hits") >= 2 &&
          coalesce(col("dup_line_frac") <= 0.3, lit(true)))
      .withColumn("keep", coalesce(col("keep"), lit(false)))
  }

  /** C4 document/line filter census (Raffel et al., "Exploring the Limits
    * of Transfer Learning with a Unified Text-to-Text Transformer", JMLR
    * 2020, §2.2): per document, how many lines survive the
    * terminal-punctuation rule, the sentence-count floor, and the
    * lorem-ipsum / curly-brace / "javascript"-line page flags. Same
    * in-row zero-shuffle discipline as [[gopherRules]]; `keep` is C4's
    * page-level verdict (≥ 3 sentences, no lorem ipsum, no brace), with
    * line-level drops reported as counts for the rewrite step.
    */
  def c4Rules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lines = filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")
    val sents = filter(transform(split(lower(t), "[.!?]+"), s => trim(s)),
      s => s =!= "")
    val m = df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l => l.rlike("[.!?\"']$"))).cast("long")
        .as("n_terminal_lines"),
      size(filter(lines, l => lower(l).rlike("\\bjavascript\\b")))
        .cast("long").as("n_js_lines"),
      size(sents).cast("long").as("n_sentences"),
      lower(t).contains("lorem ipsum").as("has_lorem"),
      t.contains("{").as("has_brace"))
    m.select(col(idCol), col("n_lines"), col("n_terminal_lines"),
        when(col("n_lines") === 0, lit(null).cast("double"))
          .otherwise(col("n_terminal_lines").cast("double")
            / col("n_lines").cast("double")).as("kept_line_frac"),
        col("n_js_lines"), col("n_sentences"), col("has_lorem"),
        col("has_brace"),
        (col("n_sentences") >= 3 && !col("has_lorem") && !col("has_brace"))
          .as("keep"))
  }

  /** FineWeb quality battery (Penedo et al., "The FineWeb Datasets:
    * Decanting the Web for the Finest Text Data at Scale", NeurIPS 2024
    * D&B, §3.6) — the three heuristics FineWeb adds ON TOP of
    * Gopher/C4: a document drops when (a) the fraction of lines ending
    * in terminal punctuation is ≤ 0.12 (boilerplate/navigation pages),
    * (b) the fraction of characters sitting in duplicated lines is
    * ≥ 0.10 (template chrome repeated down the page), or (c) the
    * fraction of lines shorter than 30 characters is ≥ 0.67 (menus and
    * link farms). Same in-row zero-shuffle discipline as [[gopherRules]]
    * /[[c4Rules]]: per-line metrics are higher-order-function folds over
    * the trimmed nonempty line array (the duplicated-character census
    * folds over array_distinct with an inner occurrence count — O(L²)
    * in the doc's own line count, never a shuffle), each ratio is
    * exact-count / exact-count with one divide, and `keep` coalesces
    * null ratios (zero-line docs) to a drop.
    */
  def finewebRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lines = filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")
    val m = df.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l => l.rlike("[.!?\"']$"))).cast("long")
        .as("n_punct_lines"),
      size(filter(lines, l => length(l) < 30)).cast("long")
        .as("n_short_lines"),
      aggregate(lines, lit(0L), (a, l) => a + length(l).cast("long"))
        .as("line_chars"),
      aggregate(array_distinct(lines), lit(0L), (a, ld) =>
        a + when(size(filter(lines, l => l === ld)) >= 2,
            size(filter(lines, l => l === ld)).cast("long")
              * length(ld).cast("long"))
          .otherwise(lit(0L))).as("dup_line_chars"))
    def frac(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    m.select(col(idCol), col("n_lines"), col("n_punct_lines"),
        col("n_short_lines"), col("line_chars"), col("dup_line_chars"),
        frac(col("n_punct_lines"), col("n_lines")).as("punct_line_frac"),
        frac(col("n_short_lines"), col("n_lines")).as("short_line_frac"),
        frac(col("dup_line_chars"), col("line_chars")).as("dup_char_frac"))
      .withColumn("keep", coalesce(
        col("punct_line_frac") > 0.12 && col("short_line_frac") < 0.67 &&
          col("dup_char_frac") < 0.1, lit(false)))
  }

  /** Flesch–Kincaid readability (Kincaid et al. 1975; Flesch 1948) — the
    * classic difficulty prior a curriculum/data-mixing pass sorts on:
    * FK grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59 and reading ease
    * = 206.835 − 1.015·(W/S) − 84.6·(Syl/W). Both formulas are pure
    * rational arithmetic over three exact counts — one of the few
    * canonical text scores that needs NO libm, so a SQL oracle replays
    * it bitwise. Syllables use the standard vowel-group heuristic
    * max(1, #[aeiouy]+ runs) per word; sentences split on [.!?]+ (the
    * [[c4Rules]] convention); words are whitespace tokens. All three
    * censuses are in-row HOF folds — zero shuffle.
    */
  def readabilityFk(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val words = filter(split(lower(trim(t)), "\\s+"), w => w =!= "")
    val sents = filter(transform(split(lower(t), "[.!?]+"), s => trim(s)),
      s => s =!= "")
    val m = df.select(col(idCol),
      size(words).cast("long").as("n_words"),
      size(sents).cast("long").as("n_sentences"),
      aggregate(words, lit(0L), (a, w) =>
        a + greatest(lit(1L), regexp_count(w, lit("[aeiouy]+")).cast("long")))
        .as("n_syllables"))
    val wps = m("n_words").cast("double")./(
      nullif(m("n_sentences").cast("double"), lit(0.0)))
    val spw = m("n_syllables").cast("double")./(
      nullif(m("n_words").cast("double"), lit(0.0)))
    m.select(col(idCol), col("n_words"), col("n_sentences"),
      col("n_syllables"),
      (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"),
      (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch_ease"))
  }

  /** Stopword-profile language ID: count hits against tiny per-language
    * stopword lists, argmax with a fixed precedence (en > es > fr) on ties.
    * An n-gram-free heuristic that stays pure-regexp (codegen'd, no UDF).
    */
  def langIdHeuristic(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    val en = regexp_count(t, lit("\\b(the|and|of|to|in)\\b"))
    val es = regexp_count(t, lit("\\b(el|la|de|que|y)\\b"))
    val fr = regexp_count(t, lit("\\b(le|la|et|les|des)\\b"))
    df.select(
      col(idCol),
      when(en >= es && en >= fr, lit("en"))
        .when(es >= fr, lit("es"))
        .otherwise(lit("fr")).as("lang_guess"))
  }

  /** Per-language corpus profile: doc count, total chars (exact long), mean
    * chars (double of exact ints — deterministic).
    */
  def langProfile(df: DataFrame, langCol: String, charsCol: String): DataFrame =
    df.groupBy(col(langCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(charsCol)).cast("long").as("total_chars"))
      .withColumn("avg_chars", col("total_chars").cast("double") / col("n_docs"))

  /** PII / noise scrubbing pass: emails → `<EMAIL>`, then digit runs →
    * `<NUM>` (order matters — emails may contain digits). The standard
    * pre-training redaction step. Pure per-row regexp projection
    * (codegen'd, no UDF, no shuffle); the patterns stay inside the regex
    * subset Java and RE2-family engines interpret identically, so an
    * external SQL oracle replays the redacted bytes exactly. Returns
    * per-doc redaction counts plus the md5 of the redacted text — the
    * compact proof-of-work a 100 TB scrub ships to its audit log (the
    * full redacted text is written by the sink, not carried through
    * the audit aggregation).
    */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val t = col(textCol)
    val deEmail = regexp_replace(t, email, "<EMAIL>")
    val redacted = regexp_replace(deEmail, "[0-9]+", "<NUM>")
    df.select(
      col(idCol),
      regexp_count(t, lit(email)).cast("long").as("n_emails"),
      regexp_count(deEmail, lit("[0-9]+")).cast("long").as("n_nums"),
      length(redacted).cast("long").as("redacted_len"),
      md5(redacted).as("redacted_fp"))
  }

  /** Sub-document (chunk-level) exact dedup: split each doc into
    * fixed-width token chunks, fingerprint each normalized chunk, and
    * award ownership of every distinct chunk to the minimum doc id
    * containing it. The per-doc result (`n_chunks`, `n_owned`) is the
    * passage-dedup signal pipelines use to strip boilerplate that
    * whole-doc exact dedup misses (shared headers, quoted passages) —
    * fixed token windows rather than sentence boundaries, which is how
    * chunked training corpora are actually keyed.
    *
    * Scale shape: only (md5 fingerprint, doc_id) pairs shuffle — 16+8
    * bytes per chunk regardless of chunk text length — and both
    * aggregations have map-side partials. No all-pairs anything.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val chunkArr = transform(
      sequence(lit(0), floor((size(toks) - 1).cast("double") / chunkTokens).cast("int")),
      i => concat_ws(" ", slice(toks, i * chunkTokens + 1, lit(chunkTokens))))
    val chunks = df
      .select(col(idCol), explode(chunkArr).as("__c"))
      .filter(col("__c") =!= "")
      .select(col(idCol), md5(col("__c")).as("__fp"))
    val perDoc = chunks.groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"))
    val owned = chunks.groupBy("__fp")
      .agg(min(col(idCol)).as(idCol))
      .groupBy(idCol)
      .agg(count(lit(1)).as("__owned"))
    perDoc.join(owned, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("__owned"), lit(0L)).as("n_owned"))
  }

  /** RAG / training-data chunker: overlapping fixed-width token windows
    * with full provenance — (doc_id, chunk_id, start_tok, n_toks,
    * chunk_fp). `stride < window` overlaps consecutive chunks (the
    * standard retrieval-context recipe so no answer span straddles a
    * boundary unseen); the final window is allowed short rather than
    * dropping tail tokens. Chunk count = 1 + ⌈max(0, n−window)/stride⌉,
    * computed in integer arithmetic so an external engine replays every
    * boundary; the fingerprint keys chunk-level dedup/contamination
    * downstream ([[chunkDedup]] semantics at these exact boundaries).
    *
    * Scale shape: pure per-row explode — no shuffle at all; output rows
    * carry a 16-byte fingerprint, not the chunk text, so the exchange to
    * any downstream groupBy stays fingerprint-sized.
    */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
                   window: Int = 40, stride: Int = 20): DataFrame = {
    require(window >= 1 && stride >= 1, "window and stride must be positive")
    val toks = tokens(col(textCol))
    val n = size(col("__toks")).cast("long")
    val nChunks = lit(1L) +
      floor((greatest(n - window, lit(0L)).cast("double") + (stride - 1)) / stride)
        .cast("long")
    df.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), toks.as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(window)).as("__w"))
      .select(col(idCol), col("chunk_id"), col("start_tok"),
        size(col("__w")).cast("long").as("n_toks"),
        md5(concat_ws(" ", col("__w"))).as("chunk_fp"))
  }

  /** Content-defined chunking (the LBFS/FastCDC boundary rule —
    * Muthitacharoen et al. SOSP'01, re-expressed relationally): a chunk
    * boundary falls AFTER every token whose portable md5-48 hash is
    * ≡ 0 (mod targetTokens). Boundaries depend only on LOCAL content, so
    * an insertion or deletion re-chunks ONLY the chunk it lands in —
    * where [[chunkWindows]]' fixed offsets shift every downstream chunk
    * and lose all alignment. Expected chunk length is targetTokens (the
    * boundary test is a 1-in-targetTokens Bernoulli on a uniform hash).
    * This is the variable-size dedup primitive for corpus snapshots that
    * drift by small edits (recrawls, wiki revisions).
    *
    * Output: (id, chunk_idx, n_tokens, chunk_fp) — fingerprints are md5
    * over the space-joined token run, replayable digit-for-digit by an
    * external SQL engine (same family as every dedup op here).
    *
    * Scale shape: posexplode to token rows, ONE per-doc window (shuffle
    * on the doc id — docs are the natural partition key; no global
    * window), then a hash-aggregate whose per-group payload is rebuilt
    * via sort_array(collect_list(struct(pos, tok))) — deterministic
    * order without a second sort pass. Token rows never join anything;
    * the output relation is chunk-sized, not token-sized.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                targetTokens: Int = 32): DataFrame = {
    require(targetTokens >= 2, "expected chunk length must be at least 2")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    df.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("__b",
        when(pmod(md5Hash48(col("tok"), 1), lit(targetTokens.toLong)) === 0, 1L)
          .otherwise(0L))
      .withColumn("chunk_idx",
        coalesce(sum(col("__b"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")), " ")).as("chunk_fp"))
  }

  /** Corpus-level duplication census over [[cdcChunks]]: how much of the
    * corpus is REDUNDANT at variable-chunk granularity. One row:
    * (n_chunks, n_distinct, n_sharing_docs-weighted dup_rate =
    * (occurrences − distinct)/occurrences — the fraction of chunk
    * occurrences a chunk-store would NOT store again). Exact integers,
    * one final division.
    */
  def cdcDedupStats(df: DataFrame, idCol: String, textCol: String,
                    targetTokens: Int = 32): DataFrame =
    cdcChunks(df, idCol, textCol, targetTokens)
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_fp")).as("n_distinct"))
      .select(col("n_chunks"), col("n_distinct"),
        ((col("n_chunks") - col("n_distinct")).cast("double")
          / nullif(col("n_chunks").cast("double"), lit(0.0))).as("dup_rate"))

  /** Chunk-level benchmark contamination: flags training docs that share
    * an ALIGNED [[chunkWindows]] fingerprint with the benchmark set — the
    * passage-granular decontamination pass run where whole-doc
    * ([[contamination]]) checks miss a benchmark question pasted into a
    * larger page. Per doc: (n_chunks, n_hit, contaminated).
    *
    * Scale shape: benchmark sets are tiny next to the corpus, so the
    * distinct benchmark fingerprints broadcast and the flagging join is a
    * map-side LEFT SEMI over 16-byte fingerprints — corpus text never
    * shuffles; the per-doc rollups have map-side partials.
    */
  def chunkContamination(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, window: Int = 16,
                         stride: Int = 8): DataFrame = {
    val c = chunkWindows(corpus, idCol, textCol, window, stride)
    val b = chunkWindows(bench, idCol, textCol, window, stride)
      .select(col("chunk_fp").as("__bfp")).distinct()
    val hits = c.join(broadcast(b), col("chunk_fp") === col("__bfp"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("__h"))
    c.groupBy(idCol).agg(count(lit(1)).as("n_chunks"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("__h"), lit(0L)).as("n_hit"),
        (coalesce(col("__h"), lit(0L)) > 0).as("contaminated"))
  }

  /** Statistical language-model fluency score: the mean corpus frequency
    * of a document's bigrams — `Σ corpus_count(bg) / (n_bg_doc · N_bg)`.
    * Formulaic/common text scores high, rare-token garbage scores low; the
    * cheap LM-quality proxy a curation pipeline thresholds on when a real
    * perplexity model is too expensive to run corpus-wide.
    *
    * Determinism: the numerator is an EXACT integer sum of counts (no
    * float accumulation order to worry about) with ONE double division at
    * the end — an external SQL engine replays it bit for bit (ln()-based
    * perplexity would not hash-match across libm versions, which is why
    * the score is a frequency mean, not a log-likelihood).
    *
    * Scale shape: bigram counts shuffle 8-byte hashes with map-side
    * partials; the per-doc join is (doc, bigram-hash) against the count
    * table — AQE broadcasts it when the vocabulary is small.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Eager checkpoint: the exploded (doc, bigram) stream feeds the count
    // table, the corpus total AND the scoring join — one hashing pass, not
    // three; their stages launch concurrently, which a lazy persist does
    // not survive (r17).
    // Bigram hashes come from the native positional shingle_seq expression
    // (one MessageDigest pass per doc).
    val docBg = df
      .select(col(idCol), explode(shingleSeq(col(textCol), 2)).as("__bg"))
      .localCheckpoint(true)
    val counts = docBg.groupBy("__bg").agg(count(lit(1)).as("__c"))
    // total bigram instances == the stream's row count (cheaper than
    // re-summing the count table)
    val total = docBg.agg(count(lit(1)).cast("long").as("__n"))
    docBg
      .join(counts, "__bg")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__c")).cast("long").as("__csum"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("n_bigrams"),
        (col("__csum").cast("double") / (col("n_bigrams") * col("__n")).cast("double"))
          .as("lm_score"))
  }

  /** CCNet-style perplexity bucketing: rank every document within its
    * group (language) by LM fluency score and cut the ranking into
    * `nBuckets` equal tiles — the head/middle/tail split CCNet
    * (Wenzek et al. 2020) uses to keep the fluent head of each language
    * and drop or downweight the tail. Emits the per-(group, bucket)
    * doc/bigram-mass table a mixture plan consumes.
    *
    * Deterministic: the tile order is (lm_score desc, id asc) — a total
    * order — and ntile's equal-split semantics are identical in external
    * SQL engines. Scale shape: [[lmScore]]'s aggregations plus ONE
    * ntile window partitioned by the group key (bounded fan-in per
    * language at any corpus size — a language's ranking is exactly the
    * per-language state any percentile split needs), then a tiny
    * (group × bucket) aggregate.
    */
  def perplexityBuckets(df: DataFrame, idCol: String, groupCol: String,
                        textCol: String, nBuckets: Int = 3): DataFrame = {
    val scored = lmScore(df, idCol, textCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("lm_score").desc, col(idCol).asc)
    df.select(col(idCol), col(groupCol))
      .join(scored, idCol)
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
      .groupBy(groupCol, "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_bigrams"))
  }

  /** Cross-source corpus overlap matrix: Jaccard similarity between the
    * distinct n-gram shingle sets of every source pair — the corpus-level
    * "how much does crawl A repeat crawl B" diagnostic that drives source
    * weighting and dedup-order decisions.
    *
    * Scale shape: each source collapses to its DISTINCT (source, shingle
    * hash) pairs before any join (map-side partial distinct), the
    * intersection is an equi-join on the 8-byte hash, and the final
    * matrix is |sources|² rows. The corpus text never shuffles; with S
    * sources the candidate space is S·|distinct shingles|, never
    * docs×docs.
    */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
                    shingleN: Int): DataFrame = {
    // Persisted: the distinct (source, shingle) table feeds the size
    // aggregation AND both sides of the intersection join — same caching
    // contract as nearDupPairs (callers clearCache() when done). The
    // overlap matrix consumes shingle hashes only through DISTINCTNESS
    // (counts + equality; values never surface), so the per-doc set comes
    // from the native FNV `hashed_shingles` loop — no md5, no per-shingle
    // strings — the same substitution that took crossLangOverlap from
    // 36 s to 2.5 s at 10× (round 9).
    // eager localCheckpoint, not lazy persist (r17): sizes feeds BOTH
    // crossJoin sides and inter is a third consumer — their broadcast
    // builds launch concurrently and each re-ran the shingle+distinct
    // subtree before a lazy cache populated
    val pairs = df
      .select(col(groupCol).as("__g"),
        explode(shingleHashes(col(textCol), shingleN)).as("__sh"))
      .distinct()
      .localCheckpoint(true)
    val sizes = pairs.groupBy("__g").agg(count(lit(1)).as("__n"))
    // Intersection counts WITHOUT a self-join: group each shingle's source
    // list (≤ |sources| elements), emit its ordered pairs in-array, then
    // count per pair. One shuffle on the 8-byte hash with a map-side
    // partial — the self-join alternative shuffles the full posting table
    // twice and its join output is |postings|² per hot shingle.
    val inter = pairs
      .groupBy("__sh").agg(collect_set(col("__g")).as("__gs"))
      .filter(size(col("__gs")) >= 2)
      .select(explode(Assoc.orderedPairs(col("__gs"))).as("__p"))
      .select(col("__p.a").as("__g"), col("__p.b").as("__g2"))
      .groupBy("__g", "__g2")
      .agg(count(lit(1)).as("n_inter"))
    val allPairs = sizes.select(col("__g").as("source_a"), col("__n").as("n_a"))
      .crossJoin(sizes.select(col("__g").as("source_b"), col("__n").as("n_b")))
      .filter(col("source_a") < col("source_b"))
    allPairs
      .join(inter,
        col("source_a") === col("__g") && col("source_b") === col("__g2"), "left")
      .select(col("source_a"), col("source_b"),
        col("n_a"), col("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
  }

  /** Cross-document duplicated-span rate: for each document, the fraction
    * of its DISTINCT n-gram shingles that occur in at least one other
    * document — the per-doc signal behind substring-level dedup decisions
    * (a doc that is 90% shared n-grams is boilerplate or a near-copy even
    * when no single whole-doc pair crosses a Jaccard threshold).
    *
    * Scale shape: one shuffle of 16-byte (doc, shingle-hash) rows keyed on
    * the hash computes each shingle's document frequency as a whole-
    * partition window aggregate (no join back, no posting-list
    * materialization), then one 8-byte groupBy on the doc id folds the
    * flags. The corpus text never shuffles.
    */
  def ngramDupRate(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3): DataFrame = {
    // distinct shingle-hash set via the native one-pass minhash_plan
    // expression (k=1: the signature side is unused)
    val sh = df
      .select(col(idCol),
        explode(minhashPlan(col(textCol), shingleN, 1)
          .getField("sh")).as("__h"))
    // per-doc sets are distinct, so count(*) per hash == document frequency
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    sh.withColumn("__df", count(lit(1)).over(w))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_rate",
        col("n_shared").cast("double") / col("n_distinct").cast("double"))
  }

  /** Positional duplicated-span statistics (the substring-dedup signal of
    * Lee et al. 2021 at n-gram granularity): for each document, how many
    * of its n-gram occurrences are duplicated ANYWHERE in the corpus
    * (including within the same document), and the longest consecutive
    * run of duplicated n-grams — the span a substring-level dedup pass
    * would actually cut. Complements [[ngramDupRate]] (which is set-based
    * and position-blind): a doc with one long cloned paragraph and a doc
    * with scattered common trigrams can have the same dup_rate but very
    * different longest runs.
    *
    * Scale shape: one shuffle of (doc, pos, hash) rows keyed on the hash
    * for the occurrence census (window aggregate, no posting join), one
    * (doc)-keyed window for run grouping via the pos − row_number trick,
    * then a keyed left join back to the id list. All counters exact ints.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3): DataFrame = {
    val sh = df
      .select(col(idCol),
        posexplode(shingleSeq(col(textCol), shingleN)).as(Seq("__pos", "__h")))
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    val runs = sh
      .withColumn("__cnt", count(lit(1)).over(wh))
      .filter(col("__cnt") >= 2)
      .withColumn("__grp", col("__pos") - row_number().over(wd))
      .groupBy(col(idCol), col("__grp"))
      .agg(count(lit(1)).as("__runlen"))
      .groupBy(idCol)
      .agg(sum(col("__runlen")).as("n_dup_shingles"),
        max(col("__runlen")).as("longest_dup_run"))
    df.select(col(idCol))
      .join(runs, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_dup_shingles"), lit(0L)).as("n_dup_shingles"),
        coalesce(col("longest_dup_run"), lit(0L)).as("longest_dup_run"))
  }

  /** Substring-level dedup EXECUTION (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22 — the ExactSubstr rewrite
    * [[dupSpanStats]] only measures): every positional n-gram shingle
    * occurring ≥ 2 times corpus-wide is owned by its minimum doc id; all
    * OTHER docs drop the tokens its occurrences cover, and each doc's
    * text is rebuilt from the surviving tokens. Deterministic ownership
    * (min id), deterministic rebuild (original token order), exact
    * integer counts.
    *
    * Scale shape: one positional-shingle explode (|corpus tokens| rows of
    * (id, pos, 8-byte hash)), one (hash)-grain ownership aggregate, the
    * covered-position explode is bounded by n·|duplicated occurrences|,
    * and the per-doc covered-set state is bounded by the doc's own token
    * count — the same order as holding the doc's text. The rebuild is an
    * in-row indexed filter; text itself never shuffles.
    *
    * Tokens come from the normText split (rebuilt text is lowercased,
    * single-spaced — the canonical form the dedup family already keys
    * on); empty split artifacts are excluded from counts and output on
    * both engines identically.
    */
  def dedupSpansApply(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol),
      posexplode(shingleSeq(col(textCol), shingleN))
        .as(Seq("__pos", "__h")))
    val own = sh.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__owner"), count(lit(1)).as("__cnt"))
    val cov = sh.join(own, Seq("__h"))
      .filter(col("__cnt") >= 2 && col(idCol) =!= col("__owner"))
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + lit(shingleN - 1)))
          .as("__p"))
      .distinct()
    val covSets = cov.groupBy(col(idCol))
      .agg(collect_set(col("__p")).as("__cov"))
    val kept = filter(
      transform(col("__toks"), (t, i) =>
        when(t =!= "" && !array_contains(col("__cov"), i), t)),
      x => x.isNotNull)
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .join(covSets, Seq(idCol), "left")
      .withColumn("__cov", coalesce(col("__cov"), array().cast("array<int>")))
      .select(col(idCol),
        concat_ws(" ", kept).as("clean_text"),
        size(filter(col("__toks"), t => t =!= "")).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"))
      .withColumn("n_removed", (col("n_tokens") - col("n_kept")).cast("long"))
  }

  /** Curation-funnel audit: per-group survivor counts through the standard
    * quality-filter cascade (length floor → within-doc repetition ceiling →
    * alphabetic-ratio floor), each stage cumulative on the previous. This
    * is the observability table a corpus-curation run publishes so a
    * threshold change's cost is visible BEFORE committing a 100 TB pass.
    *
    * Scale shape: every flag is a per-row codegen'd projection over one
    * read of the text; only (group key, three bounded counters) shuffle,
    * with map-side partials. No second pass, no join.
    */
  def filterFunnel(df: DataFrame, groupCol: String, textCol: String,
                   minChars: Int, maxRepetition: Double, minAlphaRatio: Double,
                   shingleN: Int = 3): DataFrame = {
    val scored = df
      .select(col(groupCol), col(textCol).as("__x"))
      .select(col(groupCol),
        length(col("__x")).as("__len"),
        (regexp_count(col("__x"), lit("[a-z]")).cast("double") /
          length(col("__x")).cast("double")).as("__alpha"),
        shingleSeq(col("__x"), shingleN).as("__s"))
      .select(col(groupCol), col("__len"), col("__alpha"),
        (lit(1.0) - size(array_distinct(col("__s"))).cast("double") /
          size(col("__s")).cast("double")).as("__rep"))
    val lenOk = col("__len") >= minChars
    val repOk = lenOk && col("__rep") <= maxRepetition
    val alphaOk = repOk && col("__alpha") >= minAlphaRatio
    scored.groupBy(groupCol)
      .agg(count(lit(1)).as("n_total"),
        sum(when(lenOk, 1L).otherwise(0L)).as("n_len_ok"),
        sum(when(repOk, 1L).otherwise(0L)).as("n_rep_ok"),
        sum(when(alphaOk, 1L).otherwise(0L)).as("n_pass"))
  }

  /** Equal-share mixture plan: per-source doc/token counts, the source's
    * share of the corpus, and the deterministic sampling rate that
    * downsamples every source to the smallest source's token count — the
    * "don't let one crawl dominate the mixture" plan table a training-data
    * assembly job computes before emitting sampled shards (the rates feed
    * [[graft.ops.Relational.hashSample]]-style hash-mod filters).
    *
    * Scale shape: one groupBy on the source key with map-side partial sums
    * (rows are (key, long) pairs), then a broadcast of the 2-value global
    * aggregate. Nothing else moves.
    */
  def mixturePlan(df: DataFrame, groupCol: String, weightCol: String): DataFrame = {
    val byGroup = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum(col(weightCol)).as("n_tokens"))
    val globals = byGroup.agg(min(col("n_tokens")).as("__min"),
      sum(col("n_tokens")).as("__total"))
    // Zero-sum guards: a group of all-zero weights yields null share/rate
    // instead of NaN/Infinity — the same answer DuckDB's x/0 → NULL gives,
    // so the oracle twin agrees even on degenerate groups (empty-input
    // totality standard).
    byGroup.crossJoin(broadcast(globals))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        when(col("__total") === 0, lit(null))
          .otherwise(col("n_tokens").cast("double") / col("__total").cast("double"))
          .as("share"),
        when(col("n_tokens") === 0, lit(null))
          .otherwise(col("__min").cast("double") / col("n_tokens").cast("double"))
          .as("sample_rate"))
  }

  /** Capped-source waterfilling mixture: allocate a total token `budget`
    * across sources, each bounded by its own token supply — the classic
    * waterfill (allocate min(cap, L) with ONE waterline L chosen so the
    * total hits the budget), which [[mixturePlan]]'s equal-share and
    * sqrt-temperature variants cannot express when sources RUN OUT.
    * Small sources contribute everything they have; the remaining budget
    * splits evenly above them.
    *
    * Closed form, no iteration: sort sources by cap ascending; a source
    * at rank i sits fully below the waterline iff
    * `prefix_i + cap_i · (m − i) ≤ budget` (give ranks ≤ i their caps,
    * the rest at least cap_i); k = the largest feasible rank, and
    * L = (budget − prefix_k) / (m − k). Every quantity but L is an exact
    * long; L is one divide. Budget ≥ total supply degenerates to
    * everyone-at-cap with a null waterline (nothing left to split).
    *
    * Scale shape: one source-grain aggregate; every window runs over the
    * |sources| relation; the two scalars broadcast back.
    */
  def mixtureWaterfill(df: DataFrame, groupCol: String, weightCol: String,
                       budget: Long): DataFrame = {
    require(budget >= 0)
    val caps = df.groupBy(col(groupCol))
      .agg(sum(col(weightCol)).cast("long").as("cap"))
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(col("cap").asc, col(groupCol).asc)
    val run = ord.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
    val ranked = caps
      .withColumn("__i", row_number().over(ord).cast("long"))
      .withColumn("__prefix", sum(col("cap")).over(run))
    val m = caps.agg(count(lit(1)).cast("long").as("__m"),
      sum(col("cap")).as("__tot"))
    val flagged = ranked.crossJoin(broadcast(m))
      .withColumn("__feasible",
        col("__prefix") + col("cap") * (col("__m") - col("__i")) <= budget)
    val kRow = flagged.agg(
      coalesce(max(when(col("__feasible"), col("__i"))), lit(0L)).as("__k"),
      coalesce(max(when(col("__feasible"), col("__prefix"))), lit(0L))
        .as("__pk"))
    flagged.crossJoin(broadcast(kRow))
      .withColumn("__L",
        when(lit(budget) >= col("__tot"), lit(null).cast("double"))
          .otherwise((lit(budget) - col("__pk")).cast("double")
            / (col("__m") - col("__k")).cast("double")))
      .select(col(groupCol), col("cap"),
        when(lit(budget) >= col("__tot"), col("cap").cast("double"))
          .otherwise(least(col("cap").cast("double"), col("__L")))
          .as("allocation"),
        when(lit(budget) >= col("__tot"), lit(true))
          .otherwise(col("cap").cast("double") <= col("__L")).as("at_cap"),
        col("__L").as("waterline"))
  }

  /** Tokenizer fertility by group (language, source, …): subword-proxy
    * tokens per whitespace token, aggregated over the group's corpus.
    * Fertility is the standard per-language cost multiplier for token
    * budgeting — a language whose text explodes into 2× the subwords per
    * word consumes 2× the training budget per document, and mixture plans
    * (see [[mixturePlan]]) should weigh tokens, not documents, using it.
    *
    * Exact integer sums (map-side partials) with one final division; only
    * (group key, two counters) shuffle.
    */
  def fertilityByGroup(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.select(col(groupCol),
        regexp_count(col(textCol), lit("\\S+")).cast("long").as("__ws"),
        regexp_count(col(textCol), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long").as("__bpe"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ws")).as("n_ws_tokens"),
        sum(col("__bpe")).as("n_bpe_tokens"))
      .withColumn("fertility",
        // null (not NaN/Inf) when a group has zero whitespace tokens —
        // matches DuckDB's x/0 → NULL so the oracle twin agrees
        when(col("n_ws_tokens") === 0, lit(null))
          .otherwise(col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double")))

  /** Temperature-scaled mixture plan (α = 0.5): per-source sampling rates
    * making the sampled token share proportional to tokens^α — the
    * standard compromise between natural proportions (α = 1, big crawls
    * dominate) and equal shares (α = 0, tiny sources oversampled), used
    * for multilingual/multi-source training mixtures. rate_s =
    * sqrt(min_tokens / tokens_s): the smallest source keeps rate 1, every
    * larger source is downsampled by the square root of its size ratio,
    * so sampled_tokens_s = sqrt(min · tokens_s) ∝ tokens^0.5.
    *
    * α is FIXED at 0.5 because sqrt is a correctly-rounded IEEE primitive
    * both engines compute bitwise-identically; a general tokens^α goes
    * through libm pow, whose last-ulp behavior is platform-specific and
    * would break the hash oracle. Same one-groupBy + broadcast-global
    * shape as [[mixturePlan]].
    */
  def mixturePlanTemperature(df: DataFrame, groupCol: String,
                             weightCol: String): DataFrame = {
    val byGroup = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum(col(weightCol)).as("n_tokens"))
    val globals = byGroup.agg(min(col("n_tokens")).as("__min"))
    // zero-token guard as in mixturePlan: null rate, matching DuckDB x/0
    val rate = when(col("n_tokens") === 0, lit(null))
      .otherwise(sqrt(col("__min").cast("double") / col("n_tokens").cast("double")))
    byGroup.crossJoin(broadcast(globals))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        rate.as("sample_rate"),
        (rate * col("n_tokens").cast("double")).as("sampled_tokens"))
  }

  /** Sequence-length histogram: per-group counts of docs whose token count
    * falls in fixed power-of-two buckets — the distribution table that
    * sizes [[packSequences]] budgets and flags truncation loss before a
    * packing run. Fixed CASE boundaries (not log()) so an external SQL
    * oracle replays the bucketing exactly; one groupBy of (key, bucket)
    * with map-side partials.
    */
  def tokenLengthHistogram(df: DataFrame, groupCol: String,
                           tokenCol: String): DataFrame = {
    val n = col(tokenCol)
    val bucket = when(n < 16, "0000-0015").when(n < 32, "0016-0031")
      .when(n < 64, "0032-0063").when(n < 128, "0064-0127")
      .when(n < 256, "0128-0255").otherwise("0256+")
    df.select(col(groupCol), bucket.as("len_bucket"))
      .groupBy(groupCol, "len_bucket")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** LSH banding RECALL eval against exact ground truth, within blocks —
    * the calibration query that answers "how many true near-dup pairs do
    * my (bands × rows) parameters actually surface?" before a full corpus
    * run trusts them. Truth = exact set-Jaccard ≥ threshold over all
    * same-block pairs of the SAME md5-48 shingle sets the banding uses
    * (one family, no cross-family skew); candidates = the production
    * [[lshCandidatePairs]] path restricted to the same block universe.
    * Output is ONE row: (n_truth, n_candidates, n_hit, recall).
    *
    * Scale shape: this is a SAMPLE-block eval by design — the blocked
    * all-pairs truth join is O(block²) and priced accordingly (that's
    * what ground truth costs; production runs it on a few blocks, not
    * the corpus). The candidate side is the same banded path production
    * uses. ONE signature pass feeds both sides (persisted).
    */
  def nearDupEval(df: DataFrame, idCol: String, textCol: String,
                  blockCol: String, shingleN: Int = 3, numHashes: Int = 16,
                  bands: Int = 4, threshold: Double = 0.7,
                  maxBucketSize: Int = 1 << 20): DataFrame = {
    require(numHashes % bands == 0)
    val sets = df
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
      .select(col(blockCol).as("__blk"), col(idCol),
        minhashPlan(col(textCol), shingleN, numHashes).as("__mh"))
      .select(col("__blk"), col(idCol),
        col("__mh.sh").as("__sh"), col("__mh.sig").as("__sig"))
      .filter(size(col("__sh")) > 0)
      .localCheckpoint(true)
    // Block keys are LOW-cardinality (that's what makes them blocks), so
    // a join keyed on the block alone concentrates each block's O(block²)
    // intersection work in ONE task. The sub-bucket grid spreads it: the
    // left side replicates across `grid` virtual cells, the right side
    // hashes into one, and the equi-key (block, cell) fans the same pair
    // set over block×grid reducers. Replication cost is grid× the tiny
    // (id, set) rows — nothing against the pairwise work it parallelizes.
    val grid = 8
    val a = sets.select(col("__blk"), col(idCol).as("id_a"),
        col("__sh").as("__sha"), size(col("__sh")).as("__sza"))
      .withColumn("__cell", explode(array((0 until grid).map(i => lit(i.toLong)): _*)))
    val b = sets.select(col("__blk").as("__blkb"), col(idCol).as("id_b"),
        col("__sh").as("__shb"), size(col("__sh")).as("__szb"))
      .withColumn("__cellb", pmod(xxhash64(col("id_b")), lit(grid)))
    // Length filter INSIDE the join predicate (lossless for the
    // threshold: J(A,B) >= t forces t·|A| <= |B| and t·|B| <= |A|), so
    // surviving pairs are pruned before the expensive intersection —
    // the PPJoin prefix-filter's cheap half, applied to ground truth.
    val truth = a.join(b,
        col("__blk") === col("__blkb") && col("__cell") === col("__cellb") &&
          col("id_a") < col("id_b") &&
          col("__sza") * threshold <= col("__szb") &&
          col("__szb") * threshold <= col("__sza"))
      .filter(jaccard(col("__sha"), col("__shb")) >= threshold)
      .select("id_a", "id_b")
    val blkOf = sets.select(col(idCol), col("__blk"))
    val candB = lshCandidatePairs(sets, idCol, bands, numHashes / bands, maxBucketSize)
      .join(blkOf.select(col(idCol).as("id_a"), col("__blk").as("__ba")), "id_a")
      .join(blkOf.select(col(idCol).as("id_b"), col("__blk").as("__bb")), "id_b")
      .filter(col("__ba") === col("__bb"))
      .select("id_a", "id_b")
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nC = candB.agg(count(lit(1)).as("n_candidates"))
    val nH = truth.join(candB, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_hit"))
    nT.crossJoin(nC).crossJoin(nH)
      .select(col("n_truth"), col("n_candidates"), col("n_hit"),
        // empty truth sample => recall undefined: emit null explicitly
        // rather than dividing, so ANSI mode can't turn 0/0 into a
        // DIVIDE_BY_ZERO crash (DuckDB's x/0 -> null would then be an
        // oracle value mismatch, which is the failure mode we want)
        when(col("n_truth") === 0, lit(null).cast("double"))
          .otherwise(col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** [[nearDupEval]] from the shared [[DedupEvalStore]] artifact: truth is
    * the store's exact-verified pair relation filtered at `threshold`
    * (lossless — the store verifies at a floor ≤ threshold over the SAME
    * md5-48 shingle sets the grid join intersected, so the filtered subset
    * is bit-identical to the in-op truth), candidates are the production
    * banded path over the store's signatures. The O(block²) ground-truth
    * pass is paid once per slate run instead of per eval query.
    */
  def nearDupEvalFromStore(sigs: DataFrame, verifiedPairs: DataFrame,
                           idCol: String, threshold: Double, bands: Int,
                           rowsPerBand: Int, maxBucketSize: Int): DataFrame = {
    val sets = sigs.select(col("blk").as("__blk"), col(idCol),
      col("sh").as("__sh"), col("sig").as("__sig"))
    val truth = verifiedPairs.filter(col("jaccard") >= threshold)
      .select("id_a", "id_b")
    val blkOf = sets.select(col(idCol), col("__blk"))
    val candB = lshCandidatePairs(sets, idCol, bands, rowsPerBand, maxBucketSize)
      .join(blkOf.select(col(idCol).as("id_a"), col("__blk").as("__ba")), "id_a")
      .join(blkOf.select(col(idCol).as("id_b"), col("__blk").as("__bb")), "id_b")
      .filter(col("__ba") === col("__bb"))
      .select("id_a", "id_b")
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nC = candB.agg(count(lit(1)).as("n_candidates"))
    val nH = truth.join(candB, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_hit"))
    nT.crossJoin(nC).crossJoin(nH)
      .select(col("n_truth"), col("n_candidates"), col("n_hit"),
        when(col("n_truth") === 0, lit(null).cast("double"))
          .otherwise(col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** Corpus heavy hitters via the native k-counter Misra–Gries aggregate,
    * emitted as a CONTRACT: the deterministic output rows are the EXACT
    * heavy hitters (true count > N/(k+1), computed alongside), and each
    * carries two booleans the MG theorems guarantee — membership in the
    * sketch (no false negatives above the threshold) and the under-count
    * bound est ≤ true ≤ est + N/(k+1) — so a broken sketch (bad merge,
    * wrong decrement) flips a hash-checked value. The raw summary is
    * deliberately NOT emitted: its below-threshold contents are
    * partition-order-dependent.
    *
    * Scale shape: the sketch side is one O(k)-memory aggregation buffer
    * per partition merging to a single map — the 100 TB path when only
    * over-threshold items matter. The exact side (needed here for the
    * contract, and the honest cost of verification) is a word-count
    * groupBy with map-side partials.
    */
  def heavyHitters(df: DataFrame, textCol: String, k: Int = 32): DataFrame = {
    val terms = df.select(explode(tokens(col(textCol))).as("term"))
    val sketch = terms.agg(expr(s"misra_gries(term, $k)").as("__sk"),
      count(lit(1)).as("__n"))
    terms.groupBy("term").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(sketch))
      .filter(col("cnt") * (k + 1) > col("__n"))
      .select(col("term"), col("cnt"),
        // try_element_at, not element_at: under ANSI mode a missing key
        // would THROW, crashing the query on exactly the broken-sketch
        // condition in_sketch exists to flag — the contract violation
        // must surface as a hash-checked false, not an exception
        try_element_at(col("__sk"), col("term")).isNotNull.as("in_sketch"),
        (try_element_at(col("__sk"), col("term")) <= col("cnt") &&
          (col("cnt") - try_element_at(col("__sk"), col("term"))) * (k + 1) <= col("__n"))
          .as("bound_ok"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Per-group [[heavyHitters]]: one Misra–Gries sketch PER GROUP KEY
    * (language, source, day …) from a single aggregate — the
    * "what dominates each slice" census, and the demonstration that the
    * native TypedImperativeAggregate composes under groupBy exactly like
    * a built-in (partials merge map-side per group; each group's buffer
    * stays O(k)). Same contract emission as the global op: the exact
    * heavy hitters (cnt·(k+1) > group total) each checked against the
    * group's sketch via the two theorems — no-false-negative membership
    * and the bounded under-count — so the output hashes deterministically
    * even though raw sketch contents are merge-order-dependent.
    */
  def groupHeavyHitters(df: DataFrame, groupCol: String, textCol: String,
                        k: Int = 32): DataFrame = {
    val terms = df.select(col(groupCol).as("__g"),
      explode(tokens(col(textCol))).as("term"))
    val sketches = terms.groupBy(col("__g"))
      .agg(expr(s"misra_gries(term, $k)").as("__sk"),
        count(lit(1)).as("__n"))
    terms.groupBy(col("__g"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(sketches), Seq("__g"))
      .filter(col("cnt") * (k + 1) > col("__n"))
      .select(col("__g").as(groupCol), col("term"), col("cnt"),
        try_element_at(col("__sk"), col("term")).isNotNull.as("in_sketch"),
        (try_element_at(col("__sk"), col("term")) <= col("cnt") &&
          (col("cnt") - try_element_at(col("__sk"), col("term"))) * (k + 1)
            <= col("__n")).as("bound_ok"))
      .orderBy(col(groupCol), col("cnt").desc, col("term"))
  }

  /** Blocked fuzzy string matching (record linkage): pairs of DISTINCT
    * values whose edit distance is within `maxDist`, generated only
    * inside caller-chosen blocks — the "same entity, different spelling"
    * join dedup pipelines run on names/titles where shingle Jaccard is
    * too coarse. Distinct-first matters: the quadratic work is over the
    * value VOCABULARY (small), never the row count; attach matches back
    * to rows with an equi-join afterwards. Levenshtein with unit costs is
    * an exact integer, so every pair and distance replays externally.
    */
  def fuzzyPairs(df: DataFrame, nameCol: String, blockCol: Column,
                 maxDist: Int): DataFrame = {
    val names = df.select(col(nameCol).as("__nm"), blockCol.as("__blk")).distinct()
    val a = names.select(col("__nm").as("name_a"), col("__blk"))
    val b = names.select(col("__nm").as("name_b"), col("__blk").as("__blkb"))
    a.join(b, col("__blk") === col("__blkb") && col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Deterministic train/val/test assignment + cross-validation fold from
    * ONE portable hash per row: frac = md5-48(id)/2^48 thresholds the
    * split (exactly the [[mixtureApply]] keep rule), and an independent
    * second 48-bit cut of the same digest numbers the fold — so the
    * split is reproducible across runs, engines and cluster layouts,
    * stable under re-partitioning, and stratification-free by
    * construction (hash independent of every attribute). No RNG, no
    * shuffle: a pure map-side projection any 100 TB scan absorbs.
    */
  def datasetSplit(df: DataFrame, idCol: String,
                   trainFrac: Double = 0.8, valFrac: Double = 0.1,
                   folds: Int = 5): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1 && folds > 0)
    val frac = md5Hash48(col(idCol).cast("string"), 1).cast("double") /
      lit(281474976710656.0)
    df.select(col(idCol),
      when(frac < trainFrac, "train")
        .when(frac < trainFrac + valFrac, "val")
        .otherwise("test").as("split"),
      pmod(md5Hash48(col(idCol).cast("string"), 13), lit(folds.toLong))
        .as("cv_fold"))
  }

  /** Train/test near-duplicate LEAKAGE audit: near-dup pairs (the same
    * banded MinHash-LSH path production dedup uses) whose endpoints fall
    * in DIFFERENT splits of [[datasetSplit]] — each one is a test
    * document whose near-copy the model trains on, silently inflating
    * eval. Run after splitting, before shipping shards; a clean corpus
    * (dedup BEFORE split) returns zero rows, which is exactly the
    * invariant this query lets a pipeline assert.
    *
    * Scale shape: pair generation is the bounded banded path; the split
    * map is a pure hash projection joined once per endpoint (AQE
    * broadcasts the pair side — candidate pairs are orders of magnitude
    * fewer than docs).
    */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
                   trainFrac: Double = 0.8, valFrac: Double = 0.1,
                   threshold: Double = 0.7,
                   maxBucketSize: Int = 1 << 20): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold = threshold,
      maxBucketSize = maxBucketSize)
    val splits = datasetSplit(df, idCol, trainFrac, valFrac)
      .select(col(idCol), col("split"))
    pairs.select(col("id_a"), col("id_b"))
      .join(splits.select(col(idCol).as("id_a"), col("split").as("split_a")), "id_a")
      .join(splits.select(col(idCol).as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"))
  }

  /** Canonical text normalization — the pass every hash-keyed dedup and
    * fingerprint stage assumes upstream: control chars → spaces, runs of
    * whitespace collapsed, edges trimmed, lowercased. Emits the
    * normalized text plus a `changed` flag (the audit count of rows the
    * pass actually touched). Pure codegen'd regexp projections: no
    * shuffle, scan-speed at any scale; patterns are POSIX-class-portable
    * so an external SQL engine replays byte-identical output.
    */
  def normalizeText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[\\x00-\\x1f\\x7f]", " "),
      "\\s+", " "))
    df.select(col(idCol), norm.as("norm_text"),
      (!(norm <=> col(textCol))).as("changed"))
  }

  /** Distribution drift between two cohorts of the same categorical
    * column: per-category counts and probability masses, plus the total-
    * variation term |p_a − p_b| — the drift monitor a training-data
    * pipeline runs when a new crawl snapshot lands (sum(drift_term)/2 =
    * total variation distance). Masses divide ONCE per side (cnt/total,
    * correctly-rounded IEEE on both engines) and subtract — no log, no
    * order-dependent float accumulation, so every value hash-compares,
    * and nothing overflows at any corpus size.
    *
    * Shape: two count aggregations (map-side partials), a full-outer join
    * on the category (absent categories count 0), two broadcast 1-row
    * totals. Nothing else moves.
    */
  def distributionDrift(dfA: DataFrame, dfB: DataFrame,
                        catCol: String): DataFrame = {
    val ca = dfA.groupBy(col(catCol)).agg(count(lit(1)).as("cnt_a"))
    val cb = dfB.groupBy(col(catCol)).agg(count(lit(1)).as("cnt_b"))
    val ta = dfA.agg(count(lit(1)).as("__ta"))
    val tb = dfB.agg(count(lit(1)).as("__tb"))
    // an EMPTY cohort makes its mass undefined: emit null explicitly so
    // ANSI mode can't crash the monitor with DIVIDE_BY_ZERO on exactly
    // the degenerate snapshot it exists to catch
    val pA = when(col("__ta") === 0, lit(null).cast("double"))
      .otherwise(col("cnt_a").cast("double") / col("__ta"))
    val pB = when(col("__tb") === 0, lit(null).cast("double"))
      .otherwise(col("cnt_b").cast("double") / col("__tb"))
    ca.join(cb, Seq(catCol), "full_outer")
      .select(col(catCol), coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col(catCol), col("cnt_a"), col("cnt_b"),
        pA.as("p_a"), pB.as("p_b"), abs(pA - pB).as("drift_term"))
  }

  /** EXECUTES a [[mixturePlan]]: keeps each row iff its portable hash
    * fraction falls below its group's data-derived downsample-to-smallest
    * rate — the sampling step that turns the plan table into an actual
    * balanced corpus. Complements `stratified_sample`, whose rates are
    * caller-supplied literals: here the rates come from the data itself in
    * the same job, so plan and execution can never drift.
    *
    * Determinism: keep ⇔ md5-48(id)/2^48 < rate. The hash is < 2^48 so
    * its double is exact, and the per-group rate is one exact division —
    * an external engine replays every keep/drop decision. Rows of a
    * zero-weight group have a null rate and are dropped (null compare),
    * matching SQL three-valued logic on both engines.
    *
    * Scale shape: one groupBy for the plan (rows collapse to (group,
    * long) partials), a broadcast of the tiny rate table, then a pure
    * map-side filter — the corpus itself never shuffles.
    */
  def mixtureApply(df: DataFrame, groupCol: String, idCol: String,
                   weightCol: String): DataFrame = {
    val plan = mixturePlan(df.select(col(groupCol), col(weightCol)),
        groupCol, weightCol)
      .select(col(groupCol), col("sample_rate"))
    df.select(col(idCol), col(groupCol))
      .join(broadcast(plan), Seq(groupCol))
      .filter(md5Hash48(col(idCol).cast("string"), 1).cast("double") /
        lit(281474976710656.0) < col("sample_rate"))
      .select(col(idCol), col(groupCol))
  }

  /** Most frequent adjacent character pairs inside whitespace tokens —
    * the statistic the FIRST merge step of byte-pair-encoding training
    * computes (the highest-count pair becomes the first merge rule).
    * Running it over a corpus sample is how a tokenizer-training pipeline
    * sizes its alphabet and checks corpus fit before the expensive
    * iterative merge loop.
    *
    * Shape: tokens explode once, pairs are a per-token array transform
    * (substr windows — no self-join), and the count groupBy ships 2-char
    * keys with map-side partials; top-k via TakeOrderedAndProject.
    */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int = 20): DataFrame =
    df.select(explode(tokens(col(textCol))).as("__tok"))
      .filter(length(col("__tok")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("__tok")) - 1),
        i => col("__tok").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)

  /** Iterative byte-pair-encoding LEARNER: the k-step merge loop
    * [[bpePairCounts]] is the first step of — each iteration counts
    * adjacent symbol pairs across the corpus, merges the most frequent
    * (ties: count desc, then left/right symbol asc), and rewrites the
    * vocabulary, emitting the learned merge table
    * (step, left_sym, right_sym, cnt) a tokenizer trainer ships.
    *
    * Spark-first shape (the pageRank pattern: one job per iteration with
    * driver-side control flow):
    *  - the corpus collapses ONCE to the distinct-token frequency
    *    vocabulary — classic BPE trains on the word-freq dict, so at
    *    100 TB the loop runs over |vocab| rows, not |corpus|;
    *  - each iteration is one pair-count aggregation (map-side partials
    *    over the vocab) + a 1-row argmax collect — the only driver data
    *    is the winning pair, the legitimate iterative-job control edge;
    *  - merge application is a pure projection, and `localCheckpoint`
    *    truncates the per-iteration lineage so step k doesn't replay
    *    steps 1..k-1.
    *
    * Exact replay: each token's symbol state is a string with DOUBLED
    * U+001F delimiters (shown as mid-dots: `·h··e··l··l·` for "hell"), so one literal
    * `replace` of `·l··r·` with `·lr·` applies the merge greedily
    * left-to-right with correct handling of runs (`aaaa` + merge (a,a)
    * → [aa,aa]) — identical non-overlapping scan semantics in Spark and
    * DuckDB, making the whole learner hash-oracle-able, not contract-only.
    */
  def bpeLearn(df: DataFrame, textCol: String, steps: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrain(df, textCol, steps)._2
      .toDF("step", "left_sym", "right_sym", "cnt").orderBy("step")
  }

  /** The BPE loop shared by [[bpeLearn]] (emits the merge table) and
    * [[bpeApply]] (emits the post-merge symbol vocabulary): returns the
    * final delimited vocabulary and the collected merges.
    */
  private def bpeTrain(df: DataFrame, textCol: String, steps: Int)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    val U = "\u001f"
    def pairCounts(vocab: DataFrame): DataFrame = {
      val syms = split(
        regexp_replace(col("__sym"), "^" + U + "|" + U + "$", ""), U + U)
      vocab.select(col("__freq"), syms.as("__syms"))
        .filter(size(col("__syms")) >= 2)
        .select(col("__freq"), explode(zip_with(
          slice(col("__syms"), lit(1), size(col("__syms")) - 1),
          slice(col("__syms"), lit(2), size(col("__syms")) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("__p"))
        .groupBy(col("__p.l").as("left_sym"), col("__p.r").as("right_sym"))
        .agg(sum("__freq").as("cnt"))
    }
    var vocab = df.select(explode(tokens(col(textCol))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy("__tok").agg(count(lit(1)).as("__freq"))
      .select(regexp_replace(col("__tok"), "(.)", U + "$1" + U).as("__sym"),
        col("__freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("left_sym").asc, col("right_sym").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every token is one symbol
      else {
        val l = top(0).getString(0); val r = top(0).getString(1)
        merges += ((step.toLong, l, r, top(0).getLong(2)))
        vocab = vocab.select(
          replace(col("__sym"), lit(U + l + U + U + r + U), lit(U + l + r + U))
            .as("__sym"), col("__freq"))
          .localCheckpoint(true)
        step += 1
      }
    }
    (vocab, merges.toSeq)
  }

  /** TOKENIZES with the learned merges: runs the same k-step loop, then
    * explodes the post-merge vocabulary into its symbols and counts total
    * corpus occurrences (token frequency × in-token multiplicity) — the
    * resulting symbol table IS the tokenizer's working vocabulary, and
    * its top slice is what a trainer inspects to sanity-check merge
    * quality (are the learned units morpheme-like or noise?). Top-k by
    * (cnt desc, symbol asc); hash-exact: counts are exact longs over the
    * same replayable merge states the [[bpeLearn]] oracle unrolls.
    *
    * Scale shape: everything [[bpeLearn]] pays plus one explode+groupBy
    * over the vocabulary — corpus text is touched once (the initial
    * word-count), never re-scanned per step.
    */
  def bpeApply(df: DataFrame, textCol: String, steps: Int = 4,
               k: Int = 20): DataFrame = {
    val U = "\u001f"
    val (vocab, _) = bpeTrain(df, textCol, steps)
    val syms = split(
      regexp_replace(col("__sym"), "^" + U + "|" + U + "$", ""), U + U)
    vocab.select(col("__freq"), explode(syms).as("symbol"))
      .groupBy("symbol")
      .agg(sum("__freq").as("cnt"))
      .orderBy(col("cnt").desc, col("symbol").asc)
      .limit(k)
  }

  /** Tukey-fence outlier flag per group: a doc is an outlier when its
    * value leaves [q1 − 1.5·IQR, q3 + 1.5·IQR] of its group's exact
    * quartiles — the standard distribution-based length/quality filter a
    * curation pipeline runs before threshold filters, catching per-
    * language tails a single global cutoff misses.
    *
    * Determinism: exact linear-interpolated percentiles (the same
    * `percentile` ↔ `quantile_cont` equivalence `percentile_by_group`
    * oracles) and fence arithmetic in IEEE double — value comparisons
    * replay exactly in an external engine.
    *
    * Scale shape: the per-group quartiles are a tiny aggregate (one row
    * per group) broadcast back onto the scan — the exact `percentile`
    * aggregate holds a per-group value buffer, fine for bounded groups
    * (languages); unbounded group cardinality would swap in the
    * approx_quantiles sketch path. No shuffle of the data side beyond the
    * group key.
    */
  def iqrOutliers(df: DataFrame, groupCol: String, idCol: String,
                  valueCol: String, k: Double = 1.5): DataFrame = {
    val fences = df.groupBy(groupCol)
      .agg(percentile(col(valueCol), lit(0.25)).as("__q1"),
        percentile(col(valueCol), lit(0.75)).as("__q3"))
    df.select(col(idCol), col(groupCol), col(valueCol))
      .join(broadcast(fences), Seq(groupCol))
      .select(col(idCol), col(groupCol), col(valueCol),
        (col(valueCol).cast("double") <
            col("__q1") - lit(k) * (col("__q3") - col("__q1")) ||
          col(valueCol).cast("double") >
            col("__q3") + lit(k) * (col("__q3") - col("__q1"))).as("is_outlier"))
  }

  /** Deterministic MLM masking plan (BERT-style, Devlin NAACL'19 §3.1):
    * which token positions of each document get masked, decided by the
    * PORTABLE hash md5-48(doc_id ':' position) mod 100 < ratePct — no
    * RNG, so the plan is reproducible across runs, engines, and epochs
    * (vary an epoch salt in the key for fresh masks). Emits the per-doc
    * plan row: token count, mask count, realized rate, and the sorted
    * position list as csv (hash-stable). One explode + one hash-aggregate;
    * the mask decision is evaluated scan-side so only (doc, position)
    * survive to the shuffle.
    */
  def mlmMaskPlan(df: DataFrame, idCol: String, textCol: String,
                  ratePct: Int = 15): DataFrame = {
    require(ratePct >= 0 && ratePct <= 100)
    val toks = df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
      .withColumn("__masked",
        pmod(md5Hash48(concat(col(idCol).cast("string"), lit(":"),
          col("__pos").cast("string")), 1), lit(100L)) < ratePct)
    toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__masked").cast("long")).as("n_masked"),
        concat_ws(",",
          sort_array(collect_list(when(col("__masked"), col("__pos").cast("long")))))
          .as("masked_positions"))
      .withColumn("mask_rate",
        col("n_masked").cast("double") / col("n_tokens").cast("double"))
  }

  /** Curriculum interleave order: rank documents inside each source by a
    * quality key, then assign the GLOBAL training slot arithmetically —
    * slot = (rank−1)·n_sources + source_index — so the best of every
    * source front-loads and sources round-robin. The classic curriculum /
    * mixture ordering WITHOUT a global sort: the only windows are the
    * per-source rank (partitioned) and a source-index rank over the
    * DISTINCT-source relation (≤ |sources| rows) — nothing funnels the
    * corpus into one partition (the r7 quantile_bins lesson). Writers
    * consume the slot column with a plain partitioned sort.
    */
  def curriculumOrder(df: DataFrame, idCol: String, srcCol: String,
                      quality: Column): DataFrame = {
    val srcIdx = df.select(col(srcCol)).distinct()
      .withColumn("__si", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col(srcCol))))
    val nSrc = srcIdx.agg(count(lit(1)).as("__ns"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol)).orderBy(col("__q").desc, col(idCol).asc)
    df.select(col(idCol), col(srcCol), quality.as("__q"))
      .withColumn("rank_in_source", row_number().over(w).cast("long"))
      .join(broadcast(srcIdx), Seq(srcCol))
      .crossJoin(broadcast(nSrc))
      .select(col(idCol), col(srcCol), col("rank_in_source"),
        ((col("rank_in_source") - 1) * col("__ns") + col("__si") - 1)
          .cast("long").as("slot"))
  }

  /** Cross-lingual n-gram contamination matrix: for every language pair,
    * how many DISTINCT token-n-gram fingerprints they share — the signal
    * that flags translation artifacts, boilerplate leaking across locales,
    * or mislabeled languages before training-mixture math trusts the lang
    * column. Fingerprints are the portable md5-48 shingle family (the
    * dedup_jaccard machinery), grouped to per-fingerprint LANGUAGE SETS
    * (bounded by |langs|, merged map-side) so pair counting is an in-row
    * [[Assoc.pairStructs]] expansion — never a fingerprint self-join, let
    * alone a document cross join. Jaccard = shared / (a + b − shared),
    * exact integers to one final division.
    */
  def crossLangOverlap(df: DataFrame, langCol: String, textCol: String,
                       shingleN: Int = 3): DataFrame = {
    // The exact matrix consumes fingerprints only through DISTINCTNESS
    // (per-lang counts, cross-lang equality) — hash VALUES never surface,
    // so the native FNV `hashed_shingles` pass (one tight Java loop, no
    // per-shingle string rows, no md5) is substitutable for the md5-48
    // family: round-9 measured it at ~1/3 the scan cost at 10×. The
    // SAMPLED variant below cannot make this swap — there the hash value
    // IS the sampling key and must stay engine-portable md5-48.
    val hashed = df.select(col(langCol).as("__lang"),
      explode(shingleHashes(col(textCol), shingleN)).as("__h"))
    crossLangFromHashed(hashed)
  }

  /** Hash-domain-sampled [[crossLangOverlap]] (Gibbons, "Distinct
    * Sampling", VLDB'01): keep a fingerprint iff `h mod den < num`. The
    * md5-48 fingerprints are uniform over their domain, so this is an
    * unbiased `num/den` sample of the DISTINCT n-gram universe — per-pair
    * shared/total counts scale by `den/num` and the Jaccard ratio needs
    * no correction at all (the rate cancels). The filter runs map-side
    * BEFORE the fingerprint shuffle, so the one corpus-scale exchange of
    * the exact operator shrinks by the sampling rate — the honest-linear
    * op's 100× growth cap (VERDICT r8 item 7). Sampled counts are
    * reported alongside the den/num-scaled estimates; the whole pipeline
    * is deterministic, so an external SQL twin replays it digit for
    * digit (the near_dup_eval contract-oracle pattern).
    */
  def crossLangOverlapSampled(df: DataFrame, langCol: String, textCol: String,
                              shingleN: Int = 3, num: Int = 1,
                              den: Int = 8): DataFrame = {
    require(num > 0 && den >= num, s"crossLangOverlapSampled: bad rate $num/$den")
    // md5-48 MUST stay (the hash value is the portable sampling key), but
    // it comes from the native minhash_plan pass — identical values, one
    // tight Java loop per doc instead of string-row explode + md5 column
    val hashed = df.select(col(langCol).as("__lang"),
        explode(minhashPlan(col(textCol), shingleN, 1)
          .getField("sh")).as("__h"))
    val filtered = if (num >= den) hashed
      else hashed.filter(pmod(col("__h"), lit(den)) < num)
    val s = crossLangFromHashed(filtered)
    val scale = den.toDouble / num.toDouble
    s.select(col("lang_a"), col("lang_b"),
      col("n_shared").as("n_shared_sampled"),
      col("n_a").as("n_a_sampled"), col("n_b").as("n_b_sampled"),
      (col("n_shared").cast("double") * lit(scale)).as("n_shared_est"),
      col("jaccard").as("jaccard_est"))
  }

  private def crossLangFromHashed(hashed: DataFrame): DataFrame = {
    // ONE corpus-scale shuffle: group by fingerprint collecting the set
    // of languages it appears in — collect_set partials merge map-side
    // and the buffer is bounded by |languages|, so the hot path never
    // self-joins the fingerprint relation. Everything downstream operates
    // on the per-fingerprint language sets (≤ |langs| elements each).
    val byFp = hashed
      .groupBy(col("__h"))
      .agg(sort_array(collect_set(col("__lang"))).as("__ls"))
      .localCheckpoint(eager = true)
    val perLang = byFp.select(explode(col("__ls")).as("__lang"))
      .groupBy(col("__lang")).agg(count(lit(1)).as("__c"))
    val shared = byFp
      .filter(size(col("__ls")) >= 2)
      .select(explode(Assoc.orderedPairs(col("__ls"))).as("__p"))
      .groupBy(col("__p.a").as("lang_a"), col("__p.b").as("lang_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(perLang).withColumnRenamed("__lang", "lang_a")
        .withColumnRenamed("__c", "__ca"), Seq("lang_a"))
      .join(broadcast(perLang).withColumnRenamed("__lang", "lang_b")
        .withColumnRenamed("__c", "__cb"), Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("n_shared"),
        col("__ca").as("n_a"), col("__cb").as("n_b"),
        (col("n_shared").cast("double")
          / (col("__ca") + col("__cb") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }

  /** Characters a mojibake LEAD ("Ã"/"Â" — UTF-8 lead bytes 0xC3/0xC2
    * read back through Latin-1 or cp1252) is actually followed by in
    * double-decoded text: the continuation-byte images. Bytes 0xA0–0xBF
    * map identically in Latin-1 and cp1252 (U+00A0–U+00BF); bytes
    * 0x80–0x9F map to cp1252's punctuation block (€‚ƒ„… quotes, dashes,
    * ™œžŸ …). Matching the bare lead character instead would flag
    * legitimate Portuguese text ("SÃO", "NÃO") as corrupt.
    */
  val mojibakeContinuations: String =
    (' ' to '¿').mkString +
      "€‚ƒ„…†‡ˆ‰Š‹ŒŽ" +
      "‘’“”•–—˜™š›œžŸ"

  /** Marker regex shared by [[encodingArtifacts]] and its SQL twin: a
    * lead char is mojibake only when a plausible continuation follows
    * ("â€" is two continuation images already — a strong marker alone).
    * Enumerated literal class, no metacharacters — portable between Java
    * regex and RE2. */
  val mojibakePattern: String =
    s"Ã[$mojibakeContinuations]|â€|Â[$mojibakeContinuations]"

  /** Encoding-artifact screen: counts the three classic corruption
    * signatures a crawl pipeline must catch before text enters training —
    * mojibake marker sequences (UTF-8 bytes decoded as Latin-1/cp1252:
    * "Ã"/"Â" + continuation image, "â€"), U+FFFD replacement characters
    * (decoder gave up), and C0 control characters (binary bleed;
    * tab/newline/CR excluded) — plus a per-kchar artifact rate and a
    * fixed-threshold `is_corrupt` flag. Pure `regexp_count` projections
    * on the raw text (case and bytes matter — no normText), zero shuffle;
    * the rate is one divide.
    */
  def encodingArtifacts(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    df.select(col(idCol),
        length(text).cast("long").as("n_chars"),
        regexp_count(text, lit(mojibakePattern)).cast("long").as("n_mojibake"),
        regexp_count(text, lit("�")).cast("long").as("n_replacement"),
        regexp_count(text, lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"))
          .cast("long").as("n_control"))
      .withColumn("artifact_rate",
        when(col("n_chars") === 0, lit(0.0))
          .otherwise((col("n_mojibake") + col("n_replacement")
            + col("n_control")).cast("double") * 1000.0
            / col("n_chars").cast("double")))
      .withColumn("is_corrupt",
        col("n_replacement") > 0
          || (col("n_mojibake") + col("n_control")) * 200L > col("n_chars"))
  }

  /** Rule-based code-vs-prose detector — the curation gate that routes
    * source code out of a prose mixture (and vice versa) before
    * tokenizer/mixture planning, in the spirit of the hand-rule filters
    * the public curation stacks document (symbol density, identifier
    * shapes, indentation), with zero model state. Everything is a
    * codegen'd string expression on the RAW text (code casing matters, so
    * no normText):
    *  - `sym_ratio` — share of chars in the code-symbol class
    *    `;{}()[]=<>` (counted via one regexp_replace length diff);
    *  - `ident_share` — share of whitespace tokens shaped like
    *    snake_case or camelCase identifiers;
    *  - `indent_share` — share of lines starting with 2+ spaces or tab;
    *  - `is_code` — fixed-threshold OR of the three (the thresholds are
    *    part of the operator contract and the oracle twin).
    * Ratios are single int/int divides; empty docs report zeros.
    */
  def codeDetect(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val nChars = length(text)
    val nSym = nChars - length(regexp_replace(text, "[;{}()\\[\\]=<>]", ""))
    val toks = filter(split(text, "\\s+"), t => t =!= "")
    val nToks = size(toks)
    val nIdent = size(filter(toks, t =>
      t.rlike("^[a-z]+(_[a-z0-9]+)+$") || t.rlike("^[a-z]+[A-Z][A-Za-z0-9]*$")))
    val lines = filter(split(text, "\n"), l => l =!= "")
    val nLines = size(lines)
    val nIndent = size(filter(lines, l => l.rlike("^(  |\t)")))
    df.select(col(idCol),
        nChars.cast("long").as("n_chars"),
        nSym.cast("long").as("n_sym"),
        nToks.cast("long").as("n_tokens"),
        nIdent.cast("long").as("n_ident_tokens"),
        nLines.cast("long").as("n_lines"),
        nIndent.cast("long").as("n_indented_lines"))
      .select(col(idCol), col("n_chars"), col("n_sym"), col("n_tokens"),
        col("n_ident_tokens"), col("n_lines"), col("n_indented_lines"),
        when(col("n_chars") > 0,
          col("n_sym").cast("double") / col("n_chars").cast("double"))
          .otherwise(lit(0.0)).as("sym_ratio"),
        when(col("n_tokens") > 0,
          col("n_ident_tokens").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("ident_share"),
        when(col("n_lines") > 0,
          col("n_indented_lines").cast("double") / col("n_lines").cast("double"))
          .otherwise(lit(0.0)).as("indent_share"))
      .withColumn("is_code",
        col("sym_ratio") >= 0.03 || col("ident_share") >= 0.15
          || col("indent_share") >= 0.3)
  }

  /** LSH recall estimate against the measured pair population: for every
    * exact-verified pair above `floorThreshold` (the [[jaccardPairs]]
    * PPJoin output — ground truth, not a model), the probability the
    * production (bands × rowsPerBand) MinHash banding would surface it is
    * the textbook S-curve p(j) = 1 − (1 − j^r)^b (Leskovec-Rajaraman-
    * Ullman, MMDS §3.4). Rolled up per jaccard decile this answers the
    * dedup-config question the threshold sweep can't: "of the pairs at
    * similarity X, what fraction will the banded pipeline even SEE?".
    *
    * Determinism discipline: j is the exact int/int divide; j^r and
    * (1−j^r)^b expand to REPEATED MULTIPLICATION (integer exponents,
    * no libm pow), so every capture probability is one fixed IEEE
    * expression an external SQL twin replays exactly; the per-decile
    * expected-caught sum folds over a sorted collect (pair-output-sized
    * buckets — bounded by the verified-pair population, not the corpus),
    * pinning association order.
    */
  def lshRecallEstimate(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, shingleN: Int,
                        floorThreshold: Double, bands: Int,
                        rowsPerBand: Int): DataFrame =
    lshRecallFromPairs(
      jaccardPairs(df, idCol, textCol, blockCol, shingleN, floorThreshold),
      bands, rowsPerBand)

  /** [[lshRecallEstimate]]'s S-curve rollup over an ALREADY-VERIFIED pair
    * relation (id_a, id_b, jaccard) — the entry the shared
    * [[DedupEvalStore]] artifact feeds.
    */
  def lshRecallFromPairs(pairs: DataFrame, bands: Int,
                         rowsPerBand: Int): DataFrame = {
    require(bands > 0 && rowsPerBand > 0)
    def ipow(c: Column, n: Int): Column =
      (1 until n).foldLeft(c)((acc, _) => acc * c)
    val capture = lit(1.0) - ipow(lit(1.0) - ipow(col("jaccard"), rowsPerBand), bands)
    val bucketed = pairs
      .select(col("jaccard"), capture.as("__p"),
        least(floor(col("jaccard") * 10), lit(9L)).cast("long").as("__bk"))
    bucketed
      .groupBy(col("__bk"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        min(col("__p")).as("min_capture"),
        max(col("__p")).as("max_capture"),
        aggregate(sort_array(collect_list(col("__p"))), lit(0.0),
          (acc, x) => acc + x).as("expected_caught"))
      .select((col("__bk").cast("double") / 10.0).as("bucket_lo"),
        col("n_pairs"), col("min_capture"), col("max_capture"),
        col("expected_caught"),
        (col("expected_caught") / col("n_pairs").cast("double"))
          .as("est_recall"))
  }

  /** RAKE-style keyword scoring (Rose et al., "Automatic Keyword
    * Extraction from Individual Documents", 2010) at corpus scale:
    * candidate phrases are the maximal stopword-free token runs, and each
    * word accumulates freq (phrase occurrences containing it) and deg
    * (Σ over those phrases of |phrase| − 1 — its within-phrase
    * co-occurrence count). RAKE ranks words by deg/freq: words that
    * appear mostly inside LONG multi-word phrases outrank equally common
    * words that stand alone — a content-term signal with zero model state.
    *
    * Implementation is pure codegen string ops (no UDF): stopwords become
    * run delimiters via one regexp_replace, runs split in-row, words
    * explode into ONE (word)-grain hash-aggregate of two exact longs.
    * The score is a single int/int IEEE divide (engine-portable), ties
    * broken by exact (deg, freq, word) ordering; top-k is a
    * TakeOrderedAndProject. At 100 TB this is a scan + one map-side
    * combined aggregate over the vocabulary — the same shape as a word
    * count.
    */
  def rakeKeywords(df: DataFrame, textCol: String, k: Int): DataFrame = {
    // the qualityScore/langId stopword family, applied as delimiters
    val stop = "\\b(the|a|an|of|and|or|in|to|is|are|was|for|on|with|as|at|by|it|this|that)\\b"
    val runs = split(
      regexp_replace(normText(col(textCol)), stop, "|"), "\\|")
    df.select(explode(runs).as("__run"))
      .select(trim(col("__run")).as("__run"))
      .filter(col("__run") =!= "")
      .select(split(col("__run"), "\\s+").as("__ws"))
      .select(size(col("__ws")).as("__len"), explode(col("__ws")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).cast("long").as("freq"),
        sum(col("__len") - 1).cast("long").as("deg"))
      .withColumn("score", col("deg").cast("double") / col("freq").cast("double"))
      .orderBy(col("score").desc, col("deg").desc, col("freq").desc,
        col("word").asc)
      .limit(k)
  }

  /** Per-document sentence-level stats — the Gopher/Dolma rule family's
    * sentence signals (Rae et al. 2021 §A1.1: mean words per sentence,
    * fragmentary-sentence share) computed ENTIRELY in-row: sentences are
    * the non-empty trimmed runs between [.!?]+ terminators, word counts
    * come from a whitespace split per sentence, and every derived number
    * is a higher-order-function fold over the in-row arrays — no explode,
    * no shuffle, one codegen'd scan whatever the corpus size. The mean is
    * the one exact int/int divide (engine-portable).
    *
    * Output per doc: n_sentences, n_words (in sentences), mean
    * words/sentence (null for sentence-free docs), max sentence length,
    * and the count of "fragment" sentences (< 3 words) — the quality
    * filter's raw material.
    */
  def sentenceStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sents = filter(
      transform(split(normText(coalesce(col(textCol), lit(""))), "[.!?]+"),
        s => trim(s)),
      s => s =!= "")
    val wc = transform(sents, s => size(split(s, "\\s+")))
    df.select(col(idCol),
        sents.as("__sents"), wc.as("__wc"))
      .select(col(idCol),
        size(col("__sents")).cast("long").as("n_sentences"),
        coalesce(aggregate(col("__wc"), lit(0L), (acc, x) => acc + x), lit(0L))
          .as("n_words"),
        coalesce(aggregate(col("__wc"), lit(0L),
          (acc, x) => greatest(acc, x.cast("long"))), lit(0L))
          .as("max_sentence_words"),
        aggregate(col("__wc"), lit(0L),
          (acc, x) => acc + (x < 3).cast("long")).as("n_fragments"))
      .withColumn("mean_sentence_words",
        when(col("n_sentences") > 0,
          col("n_words").cast("double") / col("n_sentences").cast("double")))
  }

  /** Vocabulary pruning curve: for each candidate min-count cutoff, the
    * surviving vocabulary size and the token-mass coverage it retains —
    * the two numbers a tokenizer/embedding-table budget decision needs
    * ("cutting at count<5 keeps 99.2% of tokens with 31% of the rows").
    * One (token)-grain count aggregate, then ALL cutoffs evaluate as
    * conditional sums over the count-histogram-sized relation in a
    * second aggregate — the whole curve costs one scan regardless of
    * how many cutoffs are probed. Exact longs; one coverage divide per
    * cutoff row.
    */
  def vocabPruningCurve(df: DataFrame, textCol: String,
                        cutoffs: Seq[Long]): DataFrame = {
    require(cutoffs.nonEmpty, "vocabPruningCurve: at least one cutoff")
    val tf = df.select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("__c"))
    val aggs = sum(col("__c")).as("__total") +:
      count(lit(1)).as("__vocab") +:
      cutoffs.flatMap { k =>
        Seq(sum(when(col("__c") >= k, 1L).otherwise(0L)).as(s"__v$k"),
          sum(when(col("__c") >= k, col("__c")).otherwise(0L)).as(s"__m$k"))
      }
    val one = tf.agg(aggs.head, aggs.tail: _*)
    val rows = array(cutoffs.map { k =>
      struct(lit(k).as("min_count"), col(s"__v$k").as("vocab_size"),
        col(s"__m$k").as("tokens_covered"))
    }: _*)
    one.select(col("__total"), col("__vocab"), explode(rows).as("__r"))
      .select(col("__r.min_count").as("min_count"),
        col("__r.vocab_size").cast("long").as("vocab_size"),
        col("__vocab").cast("long").as("full_vocab"),
        col("__r.tokens_covered").cast("long").as("tokens_covered"),
        (col("__r.tokens_covered").cast("double")
          / col("__total").cast("double")).as("coverage"))
  }

  /** MDM-style golden-record survivorship: duplicate groups (same
    * `canonicalKey` — an exact fingerprint, a token-set hash, or any
    * blocking/match key; ≥2 members) merge FIELD-WISE — each
    * attribute independently takes its within-group mode (deterministic
    * ties: count desc, value asc), where [[dedupQualitySurvivor]]-style
    * whole-row picks would discard a minority row's better attribute.
    * The classic example: three copies of one article, two tagged the
    * right language and one mislabeled — the golden record keeps the
    * majority language even if the mislabeled copy wins on quality.
    *
    * Shapes: one fingerprint aggregate for the group skeleton, one
    * (fp, field-value) aggregate + group-partitioned rank window PER
    * FIELD (relations bounded by groups × field domain), broadcast-free
    * equi-joins back on the 16-byte fp.
    */
  def goldenRecordMerge(df: DataFrame, idCol: String, canonicalKey: Column,
                        langCol: String, sourceCol: String,
                        charsCol: String): DataFrame = {
    val base = df.select(canonicalKey.as("fp"), col(idCol),
      col(langCol).as("__lang"), col(sourceCol).as("__source"),
      col(charsCol).as("__chars"))
    val skeleton = base.groupBy(col("fp"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        min(col(idCol)).as("survivor_id"),
        max(col("__chars")).cast("long").as("max_chars"))
      .filter(col("n_members") >= 2)
    def fieldMode(c: String, out: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp"))
        .orderBy(col("__cnt").desc, col(c).asc)
      base.groupBy(col("fp"), col(c))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("fp"), col(c).as(out))
    }
    skeleton
      .join(fieldMode("__lang", "golden_lang"), "fp")
      .join(fieldMode("__source", "golden_source"), "fp")
      .select(col("fp"), col("n_members"), col("survivor_id"),
        col("golden_lang"), col("golden_source"), col("max_chars"))
  }

  /** Language-ID evaluation: confusion counts of [[langIdHeuristic]]'s
    * guess against the ground-truth label, with per-truth recall share —
    * the accuracy readout that decides whether the cheap heuristic is
    * good enough before a pipeline trusts it for routing. One aggregate
    * over (truth, guess); the share is count over a truth-partitioned
    * window sum of exact longs, one divide.
    */
  def langIdConfusion(df: DataFrame, idCol: String, textCol: String,
                      langCol: String): DataFrame = {
    val guessed = langIdHeuristic(df, idCol, textCol)
      .withColumnRenamed(idCol, "__gid")
    val joined = df.select(col(idCol), col(langCol).as("lang_true"))
      .join(guessed, col(idCol) === col("__gid"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang_true"))
    joined.groupBy(col("lang_true"), col("lang_guess"))
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("share_of_truth",
        col("n").cast("double") / sum(col("n")).over(w).cast("double"))
  }

  /** Per-group distinctive terms (the label/cluster "topic" readout): for
    * each group, the top-k tokens by within-group frequency among tokens
    * that appear in at most `maxGroupDf` groups — the group-df cap is the
    * stop-list: corpus-wide terms (df = all groups) can't surface, so
    * what remains characterizes the group. Ordering is pure-integer
    * (tf desc, token asc) — no idf float anywhere, deterministic in any
    * engine.
    *
    * Two token-grain aggregates ((group, token) tf and token group-df,
    * both map-side combined) joined on the token, then a WindowGroupLimit
    * top-k per group — vocabulary-sized relations throughout.
    */
  def groupTopTerms(df: DataFrame, groupCol: String, textCol: String,
                    maxGroupDf: Int, k: Int): DataFrame = {
    val tok = df.select(col(groupCol).as("grp"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val tf = tok.groupBy(col("grp"), col("token"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val gdf = tf.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("group_df"))
      .filter(col("group_df") <= maxGroupDf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("tf").desc, col("token").asc)
    tf.join(gdf, "token")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("grp"), col("rank"), col("token"), col("tf"),
        col("group_df"))
  }

  /** ASYMMETRIC containment pairs: C(A→B) = |A∩B| / |A| — the measure
    * that catches a short document quoted wholesale inside a long one,
    * which Jaccard structurally cannot (the union term drowns it: a
    * 50-shingle doc fully contained in a 5000-shingle doc has C = 1.0
    * but J ≈ 0.01). The containment-vs-resemblance distinction is
    * Broder's original framing ("On the resemblance and containment of
    * documents", SEQUENCES 1997); in training-data terms this is the
    * quote / excerpt / subset-document detector that survives where
    * near-dup thresholds pass.
    *
    * Candidate generation: the SAME prefix-filter algebra as
    * [[jaccardPairs]] applies on the contained side only — if none of
    * A's first |A| − ⌈t·|A|⌉ + 1 sorted shingles hit B, then
    * |A∩B| < t·|A| — but the probed side must index ALL its shingles
    * (containment has no symmetric length bound: anything can contain a
    * small doc). So A-prefixes join the full inverted index — one
    * shuffle each, both map-side combined — then candidates
    * exact-verify by hashed-set intersection. Hot postings are the
    * documented risk (the join_explosion diagnostic is the pre-flight
    * for exactly this); the block column bounds them.
    *
    * CONTRACT (same as [[jaccardPairs]]): exact-exhaustive-inside-blocks
    * is for capped tuning universes. The verify join carries both
    * documents' full shingle arrays at pair grain, so its shuffled bytes
    * grow with pairs × document size — the r14 100× replica probe
    * (~46 M candidate pairs of full-array rows) exhausted the heap in
    * that join. The corpus-scale path is [[containmentSketch]], which
    * estimates the same measure with nothing wider than 24 bytes in
    * any shuffle.
    *
    * The contract is ENFORCED (round 15, the r14 verdict's one weak
    * flag): the input's plan-statistics size must stay under
    * `spark.graft.containment.exactMaxBytes` (default 2 MiB, calibrated
    * to the measured probe boundary — the 10× corpus under it ran in
    * 42 s, the 100× corpus above it OOM'd a 128 GiB JVM) or the call
    * raises a contract error BEFORE any job runs, naming the scale-safe
    * paths. A fail-fast beats a 30-minute OOM; raise the conf
    * deliberately for a larger universe known not to be duplicate-heavy,
    * or call [[containmentAuto]] to route by the same statistic.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       blockCol: String, shingleN: Int,
                       threshold: Double): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val bound = containmentExactMaxBytes(df)
    require(bytes <= bound,
      s"containmentPairs: input plan statistics ($bytes bytes) exceed " +
        s"spark.graft.containment.exactMaxBytes=$bound. The exact op's " +
        "pair-grain full-shingle-array verify join is contracted for " +
        "capped tuning universes (the r14 100x replica probe OOM'd it); " +
        "use containmentSketch (bounded-width shuffles), the dedup-first " +
        "exactRepresentatives composition, or containmentAuto (routes by " +
        "this same statistic), or raise the conf deliberately.")
    val sets = df.select(col(blockCol).as("__blk"), col(idCol),
        array_sort(shingleHashes(col(textCol), shingleN)).as("__sh"))
      .withColumn("__sz", size(col("__sh")))
      .filter(col("__sz") > 0)
      .localCheckpoint(true)
    val prefLen = (col("__sz") - ceil(col("__sz") * lit(threshold)) + 1).cast("int")
    val aPref = sets.select(col("__blk"), col(idCol).as("id_a"),
      explode(slice(col("__sh"), lit(1), prefLen)).as("__shingle"))
    val full = sets.select(col("__blk"), col(idCol).as("id_b"),
      explode(col("__sh")).as("__shingle"))
    val candidates = aPref.join(full, Seq("__blk", "__shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val sa = sets.select(col(idCol).as("id_a"), col("__sh").as("__sh_a"),
      col("__sz").as("__sz_a"))
    val sb = sets.select(col(idCol).as("id_b"), col("__sh").as("__sh_b"))
    candidates
      // merge-hinted: corpus-sized sets must never broadcast (see
      // jaccardPairsFromSets)
      .join(sa.hint("merge"), "id_a").join(sb.hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("long")
          .as("n_common"),
        (size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double")
          / col("__sz_a").cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Bottom-k (KMV) sketch estimate of Broder containment
    * C(A→B) = |A∩B| / |A| — the CORPUS-SCALE path for the quote/excerpt
    * detector. [[containmentPairs]] is honest-exact: its verify stage
    * carries both documents' full sorted shingle-hash arrays through a
    * pair-grain join, the right tool for a capped tuning universe but a
    * shape whose shuffled bytes grow with (pairs × document size). Here
    * nothing wider than 24 bytes ever shuffles: under a fixed hash
    * order, a document's k smallest distinct shingle hashes are a
    * uniform sample of its distinct-shingle set (bottom-k / KMV
    * sketches — Bar-Yossef et al. RANDOM 2002, Beyer et al. SIGMOD
    * 2007, Cohen & Kaplan JCSS 2007), so the fraction of A's bottom-k
    * found anywhere in B estimates C(A→B) unbiasedly with ±O(1/√k)
    * error, independent of document or corpus size.
    *
    * Scale shape: the probe side explodes ≤ `sketchK` rows per document
    * (fixed), the posting side one row per distinct shingle — the same
    * block-bounded inverted index the exact op builds, MINUS the prefix
    * arithmetic and the array-carrying verify join. One join on
    * (block, hash48) immediately collapsed by a map-side-combined
    * (id_a, id_b) count; the estimate is one IEEE division of exact
    * ints ≤ k. The md5-48 hash family makes the sketch PORTABLE: an
    * ANSI-SQL oracle replays the same bottom-k selection and the same
    * matches digit for digit, so estimates hash-compare bitwise — a
    * sketch whose values are reproducible across engines is auditable
    * at any scale.
    *
    * Estimator guarantees asserted by spec: est = 1.0 for a wholesale-
    * contained document, 0 matches (no row) for block-disjoint docs,
    * k_a = |shingles| when a document is smaller than the sketch.
    */
  def containmentSketch(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, shingleN: Int,
                        threshold: Double, sketchK: Int = 32): DataFrame = {
    // distinct md5-48 shingle hashes per doc — the `sh` field of the
    // native minhash_plan expression (one tight MessageDigest pass per
    // row; bitwise the same values as the r16 HOF composition
    // array_distinct(transform(shingles, md5Hash48(_, 1))), asserted by
    // MinhashPlanSpec). r17: the HOF chain was this op's dominant cost —
    // the projection alone measured 3.6 s vs 0.19 s native at sf0.1/32
    // cores (19×), visible as the whole gap between dedup_containment_
    // sketch and the cheap queries. k=1 keeps the signature fold trivial.
    // persist BELOW the size filter: a filter inside the cache-build plan
    // gets pushed under the projection and re-evaluates the whole
    // shingle+md5 pipeline per row (measured ~2× the build cost); above
    // the cache it tests the stored column
    val hs = df.select(col(blockCol).as("__blk"), col(idCol),
        minhashPlan(col(textCol), shingleN, 1)
          .getField("sh").as("__hs"))
      .localCheckpoint(true)  // feeds probe + posting sides (nearDupPairs contract:
                  // callers clearCache() when done)
      .filter(size(col("__hs")) > 0)
    val probe = hs.select(col("__blk"), col(idCol).as("id_a"),
      least(size(col("__hs")), lit(sketchK)).cast("long").as("k_a"),
      explode(slice(array_sort(col("__hs")), 1, sketchK)).as("__h"))
    val post = hs.select(col("__blk"), col(idCol).as("id_b"),
      explode(col("__hs")).as("__h"))
    // per-doc sets are distinct, so each probe hash matches ≤ 1 posting
    // row of any B: count == |bottomk(A) ∩ B| exactly.
    // merge-hinted: the posting index is corpus-sized and must never
    // broadcast (the jaccardPairsFromSets rule) — the plan-time size
    // estimate under a cached relation reads the pre-explode parquet
    // bytes and happily BuildRight-broadcasts the whole inverted index
    // through the driver, single-threaded (measured: 10× warm went
    // 150 s → SMJ fixes it; at 100× the build is a driver OOM risk)
    probe.join(post.hint("merge"), Seq("__blk", "__h"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("k_a"))
      .agg(count(lit(1)).cast("long").as("n_match"))
      .select(col("id_a"), col("id_b"), col("n_match"), col("k_a"),
        (col("n_match").cast("double") / col("k_a").cast("double"))
          .as("containment_est"))
      .filter(col("containment_est") >= threshold)
  }

  /** Exact-duplicate equivalence-class representatives: one row per
    * (block, md5 text fingerprint) — the smallest id in the class — with
    * the class size as `n_copies`. This is the collapse step that makes
    * pair-grain detectors affordable on duplicate-heavy corpora: any
    * relation over verbatim-duplicate documents is CONSTANT on the
    * equivalence classes, so compute it once per class and expand by
    * multiplicity (pairs between classes a and b = n_copies(a) ×
    * n_copies(b)). The r14 100× probe is the motivating measurement: a
    * corpus of 100 verbatim copies per text forces any correct
    * containment op — exact or sketch — through a replica-square match
    * stream (the exact op OOM'd, the sketch flooded 64 GB of scratch),
    * while the composition collapse → detect runs at distinct-text
    * scale.
    *
    * One shuffle of the corpus on (block, fingerprint); both the min-id
    * pick and the class count ride the same window, no join-back.
    */
  def exactRepresentatives(df: DataFrame, idCol: String, textCol: String,
                           blockCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(blockCol), fingerprint(col(textCol)))
    df.withColumn("__mn", min(col(idCol)).over(w))
      .withColumn("n_copies", count(lit(1)).over(w).cast("long"))
      .filter(col(idCol) === col("__mn"))
      .drop("__mn")
  }

  private def containmentExactMaxBytes(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.containment.exactMaxBytes")
      .map(_.toLong).getOrElse(2L * 1024 * 1024)

  /** Stats-routed containment — one entry point for the whole family
    * (the [[graft.functions.VectorOps.hardNegativesAuto]] pattern; closes
    * the r14 verdict's weak flag: the exact op was the one hand-chosen
    * shape, and the hand-choosable op was the one that OOM'd). Routing is
    * the SAME plan-statistics signal the exact op's contract guard reads
    * (`spark.graft.containment.exactMaxBytes`):
    *
    *  - under the bound (a capped tuning universe): [[containmentPairs]]
    *    — honest-exact counts;
    *  - over it (corpus scale): the dedup-first composition —
    *    [[exactRepresentatives]] collapses verbatim-duplicate classes,
    *    [[containmentSketch]] estimates at distinct-text grain (nothing
    *    wider than 24 bytes shuffles), and class pairs expand back to
    *    document pairs through two id-hash membership joins, plus the
    *    within-class pairs (C = 1.0 between verbatim copies — the exact
    *    op emits those, so the scale route must too). COMPUTE stays at
    *    distinct-text scale; only the final expansion is output-
    *    proportional, which is the floor any doc-grain pair list has.
    *
    * Returns (id_a, id_b, containment) at document grain on both routes;
    * over the bound `containment` is the ±O(1/√k) KMV estimate (1.0
    * exactly within classes). Callers needing class-grain output on
    * duplicate-heavy corpora (no expansion at all) should use the
    * rep composition directly — the `dedup_containment_rep` shape.
    */
  def containmentAuto(df: DataFrame, idCol: String, textCol: String,
                      blockCol: String, shingleN: Int, threshold: Double,
                      sketchK: Int = 32): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= containmentExactMaxBytes(df))
      containmentPairs(df, idCol, textCol, blockCol, shingleN, threshold)
        .select(col("id_a"), col("id_b"), col("containment"))
    else {
      val reps = exactRepresentatives(df, idCol, textCol, blockCol)
      val est = containmentSketch(reps, idCol, textCol, blockCol, shingleN,
        threshold, sketchK)
      // class membership: every doc id under its class representative's
      // id (fingerprint recomputed in place — a cheap md5 against the
      // alternative of carrying the class key through the sketch)
      val keyed = df.select(col(idCol).as("__member"),
        col(blockCol).as("__blk"), fingerprint(col(textCol)).as("__fp"))
      val memberOf = keyed.join(
          reps.select(col(idCol).as("__rep"), col(blockCol).as("__blk"),
            fingerprint(col(textCol)).as("__fp")),
          Seq("__blk", "__fp"))
        .select(col("__rep"), col("__member"))
      val cross = est
        .join(memberOf.select(col("__rep").as("id_a"),
          col("__member").as("__ma")), "id_a")
        .join(memberOf.select(col("__rep").as("id_b"),
          col("__member").as("__mb")), "id_b")
        .select(col("__ma").as("id_a"), col("__mb").as("id_b"),
          col("containment_est").as("containment"))
      // verbatim copies contain each other exactly (both directions via
      // the a =!= b self-pairing)
      val within = memberOf.as("x").join(memberOf.as("y"), "__rep")
        .filter(col("x.__member") =!= col("y.__member"))
        .select(col("x.__member").as("id_a"), col("y.__member").as("id_b"),
          lit(1.0).as("containment"))
      cross.unionByName(within)
    }
  }

  /** One-row dataset card: the corpus-level summary a training-data
    * release ships next to the data (datasheets-for-datasets practice,
    * Gebru et al. CACM 2021) — doc/language/source counts, exact size
    * moments, the exact-duplicate rate from md5 fingerprints, and the
    * short-doc share, in ONE aggregate pass. The language list rides
    * along as a sorted csv (collect_set bounded by the language domain).
    *
    * Scale: a single map-side-combined aggregate over the corpus; every
    * derived double is one division of exact longs.
    */
  def datasetCard(df: DataFrame, idCol: String, textCol: String,
                  langCol: String, sourceCol: String,
                  shortChars: Int = 100): DataFrame = {
    val len = length(col(textCol))
    df.agg(
        count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col(langCol)).cast("long").as("n_langs"),
        countDistinct(col(sourceCol)).cast("long").as("n_sources"),
        sum(len).cast("long").as("total_chars"),
        countDistinct(fingerprint(col(textCol))).cast("long").as("__nfp"),
        sum((len < shortChars).cast("long")).cast("long").as("n_short"),
        concat_ws(",", sort_array(collect_set(col(langCol)))).as("langs_csv"))
      .select(col("n_docs"), col("n_langs"), col("n_sources"),
        col("total_chars"),
        (col("total_chars").cast("double") / col("n_docs").cast("double"))
          .as("mean_chars"),
        (col("n_docs") - col("__nfp")).as("n_exact_dups"),
        ((col("n_docs") - col("__nfp")).cast("double")
          / col("n_docs").cast("double")).as("dup_rate"),
        col("n_short"),
        (col("n_short").cast("double") / col("n_docs").cast("double"))
          .as("short_rate"),
        col("langs_csv"))
  }

  /** Hashing-trick feature-space load census (Weinberger et al., "Feature
    * Hashing for Large Scale Multitask Learning", ICML 2009): tokens hash
    * into `nBuckets` fixed feature slots, and this reports each slot's
    * occupancy — total token mass, how many DISTINCT tokens collided into
    * it, and how many docs touch it. The audit a hashed-features pipeline
    * runs before committing to a bucket count: heavy collision skew ⇒
    * widen the space.
    *
    * One explode + one (bucket)-grain aggregate; output is nBuckets rows
    * at ANY corpus size — the shuffle carries per-partition partials of a
    * fixed-width relation, and distinct-token collision counting rides
    * the same aggregate as an exact count_distinct (Expand, still
    * bucket-keyed, never a global relation).
    */
  def featureHashLoad(df: DataFrame, idCol: String, textCol: String,
                      nBuckets: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .select(col("__id"),
        col("__tok"), pmod(md5Hash48(col("__tok"), 1), lit(nBuckets.toLong))
          .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        countDistinct(col("__tok")).cast("long").as("n_distinct_tokens"),
        countDistinct(col("__id")).cast("long").as("n_docs"))

  /** Quality-proportional importance resampling audit: every doc gets a
    * keep-probability q‰ = ⌊1000·alpha_chars/chars⌋ (the integer per-mille
    * alpha ratio — a stand-in for any integer quality score) and is kept
    * iff md5₄₈(id) mod 1000 < q — deterministic weighted Bernoulli
    * thinning, no RNG, layout-stable (the dataset_split discipline
    * applied to SCORE-proportional sampling instead of uniform). Emits
    * the per-language audit: docs, kept, the exact expected keep count
    * (Σq/1000 as two longs) and the realized rate — the drift check that
    * validates the thinning before a training run trusts it.
    *
    * One scan → one hash-aggregate; at 100 TB the audit output is
    * |languages| rows and the kept set is reproducible by any engine
    * replaying the hash.
    */
  def qualityResample(df: DataFrame, idCol: String, textCol: String,
                      langCol: String): DataFrame = {
    val t = normText(col(textCol))
    val q = floor(lit(1000) * regexp_count(t, lit("[a-z]"))
      / greatest(length(t), lit(1))).cast("long")
    val kept = (pmod(md5Hash48(col(idCol).cast("string"), 1), lit(1000L)) < q)
      .cast("long")
    df.select(col(langCol).as("lang"), q.as("__q"), kept.as("__k"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("__k")).cast("long").as("n_kept"),
        sum(col("__q")).cast("long").as("sum_q_milli"))
      .withColumn("expected_kept",
        col("sum_q_milli").cast("double") / 1000.0)
      .withColumn("keep_rate",
        col("n_kept").cast("double") / col("n_docs").cast("double"))
  }

  /** Data selection via hashed n-gram target affinity (the
    * integer-exact core of Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS'23 — DSIR): score every
    * SOURCE doc by how much its n-gram mass looks like a TARGET corpus
    * (the high-quality domain you want more of) relative to the source
    * itself. Features are hashed n-grams in a fixed `buckets`-slot
    * domain (DSIR's own trick — the feature space is bounded no matter
    * the vocabulary); each doc's affinity is
    * Σ_g t[b(g)] / Σ_g s[b(g)] over its gram STREAM (duplicates kept),
    * with t/s the target/source bucket counts. Exact longs until the ONE
    * divide — an external SQL twin replays the score digit-for-digit,
    * where DSIR's log-likelihood-ratio form would diverge bitwise.
    * Selection downstream is the [[qualityResample]] hash-thinning
    * pattern with affinity as the score.
    *
    * Scale shape: the only driver-side state is the two `buckets`-slot
    * count tables (bounded aggregates, the centroid-grid precedent),
    * shipped back as literals; scoring is then a pure IN-ROW fold over
    * each doc's gram stream — the 100 TB source corpus is scanned twice
    * (once to census, once to score) and never shuffles at all.
    */
  def dsirAffinity(source: DataFrame, target: DataFrame, idCol: String,
                   textCol: String, shingleN: Int = 2,
                   buckets: Int = 8192): DataFrame = {
    require(shingleN >= 1 && buckets > 0)
    val bucketSeq = transform(shingleSeq(col(textCol), shingleN),
      h => pmod(h, lit(buckets.toLong)))
    def census(df: DataFrame): IndexedSeq[Long] = {
      val arr = Array.fill(buckets)(0L)
      df.select(explode(bucketSeq).as("__b"))
        .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
        .collect()
        .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
      arr.toIndexedSeq
    }
    val tLit = typedlit(census(target))
    val sLit = typedlit(census(source))
    source.select(col(idCol), bucketSeq.as("__bs"))
      .select(col(idCol),
        size(col("__bs")).cast("long").as("n_grams"),
        aggregate(col("__bs"), lit(0L),
          (a, b) => a + element_at(tLit, (b + 1).cast("int"))).as("affinity_num"),
        aggregate(col("__bs"), lit(0L),
          (a, b) => a + element_at(sLit, (b + 1).cast("int"))).as("affinity_den"))
      .withColumn("affinity",
        when(col("affinity_den") === 0, lit(null).cast("double"))
          .otherwise(col("affinity_num").cast("double")
            / col("affinity_den").cast("double")))
  }

  /** In-batch negative contamination audit for contrastive training: if
    * documents are sharded into training batches by a deterministic id
    * hash, how many production near-dup pairs land in the SAME batch —
    * where they would be served to InfoNCE-style losses as "negatives"
    * while being semantic duplicates (the false-negative poison the
    * batching scheme is supposed to dilute). Reports exact pair counts,
    * the observed same-batch rate (one divide) and the 1/B rate random
    * sharding would give — observed ≈ expected certifies the hash shard
    * is dup-agnostic; observed ≫ expected means batches correlate with
    * duplication (e.g. id-adjacent crawls) and the sharding key must
    * change. Rides the production [[nearDupPairs]] banding end-to-end —
    * the only addition is an in-row batch hash per pair side and one
    * 1-row rollup.
    */
  def inBatchNegativeCollisions(df: DataFrame, idCol: String, textCol: String,
                                nBatches: Int,
                                maxBucketSize: Int = 1 << 20): DataFrame =
    inBatchNegativeCollisionsFromPairs(
      nearDupPairs(df, idCol, textCol, maxBucketSize = maxBucketSize), nBatches)

  /** [[inBatchNegativeCollisions]] over an ALREADY-DERIVED near-dup pair
    * relation — the entry the shared production-pairs artifact feeds.
    */
  def inBatchNegativeCollisionsFromPairs(pairs: DataFrame,
                                         nBatches: Int): DataFrame = {
    require(nBatches >= 2, "need >= 2 batches")
    def batch(c: Column) =
      pmod(md5Hash48(c.cast("string"), 1), lit(nBatches.toLong))
    pairs
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        coalesce(sum((batch(col("id_a")) === batch(col("id_b"))).cast("long")),
          lit(0L)).cast("long").as("n_same_batch"))
      .select(lit(nBatches.toLong).as("n_batches"), col("n_pairs"),
        col("n_same_batch"),
        when(col("n_pairs") > 0L, col("n_same_batch").cast("double")
          / col("n_pairs").cast("double")).as("observed_rate"),
        (lit(1.0) / nBatches).as("expected_rate"))
  }

  /** Vocabulary-growth (Heaps'-law) curve over ingestion order — the
    * "is new data still teaching the tokenizer new words?" readout
    * (Heaps 1978; Herdan 1960): docs bucket by ⌊id/bucketSize⌋, each
    * token type attributes to the bucket of its FIRST occurrence
    * (min doc id — bucketing is monotone in id, so min-id and min-bucket
    * agree), and the curve is cumulative types vs cumulative tokens with
    * the running type–token ratio as the single final divide. A corpus
    * whose cum_types flattens while cum_tokens grows is re-crawling
    * itself — the cheap pre-dedup saturation signal.
    *
    * Exactness: the bucket is (id − id mod b)/b — an exact long multiple
    * divided by b, so the IEEE quotient IS the integer both engines
    * agree on. All counts are longs; ttr is one divide.
    *
    * Scale shape: one token explode with map-side combine into the
    * (token → min id) aggregate — the corpus's only shuffle, keyed by
    * token exactly like a vocab build; the cumulative window sits over
    * the bounded bucket aggregate (caller sizes bucketSize so bucket
    * count stays bounded at the target corpus).
    */
  def vocabGrowth(df: DataFrame, idCol: Column, textCol: Column,
                  bucketSize: Long): DataFrame = {
    require(bucketSize > 0)
    def bucketOf(c: Column): Column =
      ((c - pmod(c, lit(bucketSize))) / lit(bucketSize.toDouble)).cast("long")
    val toks = df.select(idCol.cast("long").as("__id"),
        explode(tokens(textCol)).as("__tok"))
      .filter(col("__tok") =!= "" && col("__id").isNotNull)
    val perBucket = toks.groupBy(bucketOf(col("__id")).as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = toks.groupBy(col("__tok"))
      .agg(min(col("__id")).as("__first"))
      .groupBy(bucketOf(col("__first")).as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
      .withColumn("cum_types", sum(col("n_new_types")).over(w).cast("long"))
      .withColumn("ttr", col("cum_types").cast("double")
        / nullif(col("cum_tokens").cast("double"), lit(0.0)))
  }
}
