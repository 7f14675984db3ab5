package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared dedup-eval artifact (VERDICT r11 item 5): ONE signature pass +
  * ONE exact t=floor verify pass per (session, corpus, sample modulus),
  * persisted as managed tables and fed to every eval query in a slate run
  * — `dedup_threshold_sweep` and `lsh_recall_estimate` (conditional sums /
  * S-curve rollups over the verified pairs) and `near_dup_eval` (truth =
  * pairs filtered at its threshold; candidates = the banded path over the
  * stored signatures). Before this store the O(sample²) verify was
  * recomputed per query, and `near_dup_eval` was the slowest slate query
  * every round.
  *
  * Contents per store:
  *   - signatures: (blk, id, sh: array<long>, sig: array<long>) — the
  *     portable md5-48 [[LlmOps.minhashPlan]] projection of the
  *     deterministic 1-in-m sampled universe;
  *   - verified pairs: (id_a, id_b, jaccard) — the exact PPJoin pass
  *     ([[LlmOps.jaccardPairsFromSets]]) at `floorThreshold` over those
  *     same sets. One hash family end to end: every consumer's values are
  *     bit-identical to its former inline derivation.
  *
  * r13: both tables live in [[SlateStore]] (snapshot-committed,
  * schema-captured reads — an EMPTY pair relation, legitimate at fixture
  * scale, reads back as zero rows — session-scoped GC, optional
  * cross-session reuse under `spark.graft.store.dir`). Keys embed every
  * build parameter, so two sample moduli or two thresholds under one
  * corpus key are distinct tables. The build is attributed to the first
  * consumer in a slate run.
  */
object DedupEvalStore {

  final case class Store(sigs: DataFrame, pairs: DataFrame, m: Long)

  /** The size-capped sample modulus m = max(2, ceil(n / perDocs)) — one
    * count job per (session, storeKey, perDocs), shared by every consumer
    * (the in-plan broadcast-count derivation ran once PER QUERY; as part
    * of the store build it runs once per slate run). `perDocs` is part of
    * the memo key (ADVICE r12: keyed by storeKey alone, a later call with
    * a different rate silently got the stale modulus); `storeKey` must
    * uniquely identify the docs relation.
    */
  def sampleM(docs: DataFrame, storeKey: String, perDocs: Double = 2500.0,
              contentTag: Option[String] = None): Long =
    SlateStore.scalar(docs.sparkSession,
      s"dedup_m|$storeKey|per=$perDocs${contentTag.fold("")("#" + _)}")(
      math.max(2L, math.ceil(docs.count() / perDocs).toLong))

  /** Build (first caller) or fetch the store for the 1-in-m universe of
    * `docs`. Deterministic: the sample is the md5-48 id predicate every
    * former inline derivation used.
    */
  def get(docs: DataFrame, idCol: String, textCol: String, blockCol: String,
          storeKey: String, m: Long, shingleN: Int = 3, numHashes: Int = 16,
          floorThreshold: Double = 0.5,
          contentTag: Option[String] = None): Store = {
    val spark = docs.sparkSession
    // every build-affecting parameter is in the key — INCLUDING the
    // projected column names (ADVICE r13: two callers sharing a storeKey
    // but projecting different columns must not share a table)
    val paramKey = s"$storeKey|id=$idCol|txt=$textCol|blk=$blockCol" +
      s"|m=$m|n=$shingleN|h=$numHashes"
    val sigsDf = SlateStore.parquet(spark, s"dedup_sigs|$paramKey",
        contentTag) {
      docs
        .filter(pmod(LlmOps.md5Hash48(col(idCol).cast("string"), 1),
          lit(m)) === 0)
        // spread the CPU-heavy shingle+signature pass across cores even
        // when the source is a handful of parquet files (one file = one
        // task otherwise) — the nearDupPairs discipline; only the SAMPLED
        // docs shuffle, so the exchange stays 1/m of the corpus (r17)
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col(idCol))
        .select(col(blockCol).as("blk"), col(idCol),
          LlmOps.minhashPlan(col(textCol), shingleN, numHashes)
            .as("__mh"))
        .select(col("blk"), col(idCol),
          col("__mh.sh").as("sh"), col("__mh.sig").as("sig"))
        .filter(size(col("sh")) > 0)
    }
    // sigsDf is already a committed-table scan when this build closure
    // runs, so the pair build never nests a store build inside another.
    val pairsDf = SlateStore.parquet(spark,
        s"dedup_pairs|$paramKey|t=$floorThreshold", contentTag) {
      LlmOps.jaccardPairsFromSets(
        sigsDf.select(col("blk").as("__blk"), col(idCol),
          array_sort(col("sh")).as("__sh")),
        idCol, floorThreshold)
    }
    Store(sigsDf, pairsDf, m)
  }

  def sigs(spark: SparkSession, st: Store): DataFrame = st.sigs

  def pairs(spark: SparkSession, st: Store): DataFrame = st.pairs
}
