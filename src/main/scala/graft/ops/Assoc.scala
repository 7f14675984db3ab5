package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Association / co-occurrence mining (round 8): market-basket pair rules
  * with support and lift. Extends the reference's GROUP-BY analytics row
  * (SURVEY.md §2.4) with the co-occurrence readout a recommender or
  * curriculum-mixing pipeline derives from transaction-shaped data.
  *
  * Scale shape: the only quadratic step is the WITHIN-basket pair
  * expansion, whose cost is Σ sizeᵦ² — bounded by the `maxBasketSize`
  * guard (outlier mega-baskets are excluded, a documented census
  * decision, instead of silently detonating the shuffle; Savasere
  * VLDB'95 partitioned apriori makes the same cut). The expansion is
  * IN-ROW over each basket's sorted item array ([[orderedPairs]]) — a
  * native expression, not a basket self-join, so pair generation costs
  * zero shuffles and the per-task memory is the capped basket array.
  * Item frequencies join back by broadcast — the item dimension is
  * vocabulary-sized, not corpus-sized.
  */
object Assoc {

  /** All value-ordered pairs (a, b) with a < b of an array, as
    * `array<struct<a, b>>`, in one pass of the native
    * [[graft.functions.OrderedPairs]] expression — the in-row replacement
    * for the classic pair-generation self-join. Emission order is the
    * nested loop's: for each element in position order, every element
    * greater than it, in position order — so on a STRICTLY-ASCENDING
    * array (sorted distinct items/supplier/language sets) it is exactly
    * the position pairs i < j. A value occurring twice pairs once per
    * occurrence; pairs with a null side are dropped; a null array yields
    * null. Output size is up to C(n,2) structs for an n-item array, so
    * callers must bound n (basket caps, per-order line limits,
    * |languages|).
    */
  def orderedPairs(arr: Column): Column = call_function("ordered_pairs", arr)

  /** Frequent item PAIRS with support / confidence / lift:
    *
    *   support(a,b) = c(a,b)/N          lift(a,b) = N·c(a,b)/(c(a)·c(b))
    *
    * over DISTINCT (basket, item) presence (multiplicity inside one
    * basket does not re-count — the standard basket model). `a < b`
    * canonicalizes each unordered pair to one row. All counts are exact
    * longs; support/lift are one fixed double expression over them.
    * Pairs below `minPairCount` prune BEFORE the frequency joins, so
    * rule-table size — not candidate volume — drives the tail stages.
    */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String,
                  minPairCount: Long = 2L,
                  maxBasketSize: Int = 1000): DataFrame = {
    // ONE shuffle to the basket grain (r18, guide §2.4): collect_set over
    // the raw (basket, item) rows dedupes in-aggregation — exactly the
    // DISTINCT presence model — so the separate distinct exchange and the
    // basket-size window pass both collapse into this groupBy; the size
    // cap filters the collected array (same survivors: __sz counted
    // distinct presence rows per basket, which is the array's size).
    // Sorted so orderedPairs canonicalizes.
    val kept = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .groupBy(col("__b"))
      .agg(sort_array(collect_set(col("__i"))).as("__items"))
      .filter(size(col("__items")) <= maxBasketSize)
      .localCheckpoint(eager = true)
    val nBaskets = kept.agg(count(lit(1)).as("__n"))
    val itemCounts = kept
      .select(explode(col("__items")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__ci"))
    val pairs = kept
      .select(explode(orderedPairs(col("__items"))).as("__p"))
      .groupBy(col("__p.a").as("item_a"), col("__p.b").as("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairCount)
    pairs
      .join(broadcast(itemCounts).withColumnRenamed("__i", "item_a")
        .withColumnRenamed("__ci", "__ca"), Seq("item_a"))
      .join(broadcast(itemCounts).withColumnRenamed("__i", "item_b")
        .withColumnRenamed("__ci", "__cb"), Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_pair"),
        col("__ca").as("n_a"), col("__cb").as("n_b"),
        (col("n_pair").cast("double") / col("__n").cast("double"))
          .as("support"),
        ((col("__n").cast("double") * col("n_pair").cast("double"))
          / (col("__ca").cast("double") * col("__cb").cast("double")))
          .as("lift"))
  }
}
