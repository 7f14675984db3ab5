package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the most recent right row with
  * `rightTs <= leftTs` within the same key (inclusive). Spark has no
  * built-in; per the engine's preference order (SURVEY.md §7.4 / builder
  * rules) this COMPOSES existing operators instead of a custom physical
  * operator:
  *
  *   union both sides tagged → one window over (key; ts, side) →
  *   `last(right payload, ignoreNulls)` carried forward → keep left rows.
  *
  * Scale shape: exactly ONE shuffle (the window partitioning on the key) +
  * a per-partition sort — same cost class as a sort-merge join, with no
  * row-multiplication ever (an inequality theta-join would explode; this
  * streams). Ties (rightTs == leftTs) match, mirroring ASOF semantics;
  * among equal-ts right rows the last in (ts, side) order wins.
  */
object AsOfJoin {

  /** Returns all left columns plus `asOfCol`: a struct of the matched right
    * row's columns (null when no right row is at-or-before the left row).
    */
  def asOf(left: DataFrame, right: DataFrame,
           leftKey: String, rightKey: String,
           leftTs: String, rightTs: String,
           asOfCol: String = "asof"): DataFrame = {
    val lPayload = struct(left.columns.map(left(_)).toIndexedSeq: _*)
    val rPayload = struct(right.columns.map(right(_)).toIndexedSeq: _*)
    val lType = left.select(lPayload).schema.head.dataType
    val rType = right.select(rPayload).schema.head.dataType

    val l = left.select(
      left(leftKey).as("__k"), left(leftTs).as("__ts"),
      lit(1).as("__side"), lPayload.as("__l"), lit(null).cast(rType).as("__r"))
    val r = right.select(
      right(rightKey).as("__k"), right(rightTs).as("__ts"),
      lit(0).as("__side"), lit(null).cast(lType).as("__l"), rPayload.as("__r"))

    // side 0 sorts before side 1 at equal ts → a right row AT the left ts
    // is visible to it (inclusive match). The payload-hash tiebreak makes
    // the winner among equal-(ts,side) right rows deterministic across
    // partitionings — without it, `last` would pick an arbitrary one.
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__side").asc, xxhash64(col("__r")).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    l.unionByName(r)
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__l.*"), col("__asof").as(asOfCol))
  }

  /** Forward as-of join with tolerance — for each left row, the EARLIEST
    * right row with `leftTs <= rightTs <= leftTs + toleranceSeconds` in the
    * same key (both bounds inclusive; pandas merge_asof
    * direction='forward'). Same one-shuffle union+window composition as
    * [[asOf]], with the sort order REVERSED (ts desc) so the carried
    * `last(right, ignoreNulls)` is the nearest at-or-after right row; the
    * tolerance then nulls out matches beyond the horizon — a post-window
    * projection, no extra pass. Sub-second timestamps compare at full
    * precision (whole-second flooring would mis-order events inside the
    * same second); the tolerance is evaluated in whole seconds on the
    * exact values.
    */
  def asOfForward(left: DataFrame, right: DataFrame,
                  leftKey: String, rightKey: String,
                  leftTs: String, rightTs: String,
                  toleranceSeconds: Long,
                  asOfCol: String = "asof"): DataFrame = {
    val lPayload = struct(left.columns.map(left(_)).toIndexedSeq: _*)
    val rPayload = struct(right.columns.map(right(_)).toIndexedSeq: _*)
    val lType = left.select(lPayload).schema.head.dataType
    val rType = right.select(rPayload).schema.head.dataType

    val l = left.select(
      left(leftKey).as("__k"), left(leftTs).as("__ts"),
      lit(1).as("__side"), lPayload.as("__l"), lit(null).cast(rType).as("__r"))
    val r = right.select(
      right(rightKey).as("__k"), right(rightTs).as("__ts"),
      lit(0).as("__side"), lit(null).cast(lType).as("__l"), rPayload.as("__r"))

    // Descending ts: rows later in the frame are EARLIER in event time, so
    // the carried last(right) is the minimum right ts >= left ts. side 0
    // still sorts before side 1 at equal ts (inclusive match); among
    // equal-ts right rows the hash tiebreak keeps the winner deterministic.
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").desc, col("__side").asc, xxhash64(col("__r")).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val withinTol =
      Ts.epochSecondsExact(col(s"__asof.$rightTs")) -
        Ts.epochSecondsExact(col("__ts")) <=
        lit(toleranceSeconds).cast("double")
    l.unionByName(r)
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__l.*"),
        when(col("__asof").isNotNull && withinTol, col("__asof")).as(asOfCol))
  }

  /** Backward as-of join on the NATIVE physical operator
    * ([[graft.plans.AsOfJoinNativeExec]] — LogicalPlan + Strategy +
    * SparkPlan, the (c) tier of the custom-operator preference order):
    * same semantics as [[asOf]] (inclusive, per-key, null keys/ts never
    * match) but executed as a two-cursor per-partition merge instead of
    * the union+window composition — each side shuffles once on its own
    * key and sorts independently; no unioned super-relation, O(1) merge
    * state. Output is left columns ++ right columns (right nullable), so
    * callers rename right-side collisions first. Requires
    * `spark.sql.extensions=graft.GraftExtensions` (the strategy); without
    * it the plan cannot be scheduled.
    *
    * Equal-(key, ts) tie contract: the winner is the right row with the
    * greatest xxhash64 of its payload AS THE OPTIMIZED PLAN CARRIES IT —
    * always deterministic (input/partition-order independent), and
    * identical to [[asOf]]'s winner when every right column is consumed.
    * When a consumer projects a SUBSET, [[graft.plans.AsOfJoinPruning]]
    * narrows the scanned payload, so which indistinguishable tie row
    * backs the visible columns may differ between projections; set
    * `spark.graft.asof.invariantTies=true` to freeze the full-payload
    * winner through pruning (costs full right scan width — see the rule
    * scaladoc for the trade).
    */
  def asOfNative(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 leftTs: String, rightTs: String): DataFrame = {
    def attr(df: DataFrame, name: String) =
      df.queryExecution.analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asOfNative: column $name not found in ${df.columns.mkString(", ")}"))
    val lPlan = left.queryExecution.analyzed
    val (rPlan, tie) = tieHashedRight(right)
    org.apache.spark.sql.GraftSqlShim.ofRows(left.sparkSession,
      graft.plans.AsOfJoinPlan(lPlan, rPlan,
        attr(left, leftKey), attr(right, rightKey),
        attr(left, leftTs), attr(right, rightTs), rightTieHash = tie))
  }

  /** Construction-time support for `spark.graft.asof.invariantTies`
    * (see [[graft.plans.AsOfJoinPruning]]'s scaladoc for the contract
    * and the scan-width trade): plants `__asof_tie` = xxhash64 of the
    * full right payload struct — bitwise the unpruned exec's tiebreak —
    * under the plan, so column pruning can narrow the payload without
    * changing which tie row wins. Construction time because Spark's
    * builtin ColumnPruning narrows custom nodes before injected
    * optimizer rules run.
    */
  private def tieHashedRight(right: DataFrame)
      : (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
         Option[org.apache.spark.sql.catalyst.expressions.Attribute]) = {
    val invariant = right.sparkSession.conf
      .get("spark.graft.asof.invariantTies", "false").toBoolean
    if (!invariant) (right.queryExecution.analyzed, None)
    else {
      // built from the analyzed plan's OUTPUT ATTRIBUTES, not col(name)
      // strings — a payload column named "price.usd" would otherwise be
      // re-parsed as a nested-field path (r14 review fix); MapType
      // payloads fail fast with the documented message. ONE shared
      // construction with the SQL TVF path, so the two can't drift.
      val (plan, a) = graft.plans.AsOfJoinPlan.plantTieHash(
        right.queryExecution.analyzed)
      (plan, Some(a))
    }
  }

  /** Forward as-of join on the NATIVE physical operator — the mirror of
    * [[asOfNative]] (r12): for each left row, the EARLIEST right row of
    * the same key with `rightTs >= leftTs` (inclusive), null-padded when
    * none exists; null keys/ts never match. Executed by the same
    * two-cursor merge with the direction flag flipped: both sides still
    * sort ASCENDING (key, ts) and the cursor still moves strictly
    * forward — per left row it skips rights below the left ts (below
    * every FUTURE left ts too, so discarding is safe) and then consumes
    * the equal-ts tie run keeping the greatest payload hash, the same
    * winner the composed [[asOfForward]]'s hash-ascending desc-window
    * frame carries (parity spec'd). O(1) merge state; the tolerance
    * horizon of [[asOfForward]] is a POST-projection concern and stays
    * with the composed op (it needs timestamp arithmetic the generic-
    * orderable merge deliberately avoids). Output: left columns ++ right
    * columns (right nullable). Shares [[graft.plans.AsOfJoinPruning]]
    * and the additive stats with the backward plan.
    */
  def asOfForwardNative(left: DataFrame, right: DataFrame,
                        leftKey: String, rightKey: String,
                        leftTs: String, rightTs: String): DataFrame = {
    def attr(df: DataFrame, name: String) =
      df.queryExecution.analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asOfForwardNative: column $name not found in ${df.columns.mkString(", ")}"))
    val (rPlan, tie) = tieHashedRight(right)
    org.apache.spark.sql.GraftSqlShim.ofRows(left.sparkSession,
      graft.plans.AsOfJoinPlan(
        left.queryExecution.analyzed, rPlan,
        attr(left, leftKey), attr(right, rightKey),
        attr(left, leftTs), attr(right, rightTs), forward = true,
        rightTieHash = tie))
  }

  /** Banded range join WITHOUT an equi key: pairs (a, b) whose timestamps
    * differ by less than `bandSeconds`. A raw inequality theta-join has no
    * hashable key — Spark would nested-loop it. Bucketing by
    * floor(ts / band) and joining each left row to its own and the two
    * neighboring buckets turns it into an EQUI join (3 candidate rows per
    * left row instead of |right|), then the exact band predicate filters.
    * Emits each unordered pair once (leftId < rightId).
    */
  def rangeJoinPairs(df: DataFrame, idCol: String, tsCol: String,
                     bandSeconds: Long): DataFrame = {
    val secs = Ts.epochSeconds(col(tsCol))
    val bucket = (secs / bandSeconds).cast("long")
    val a = df.select(col(idCol).as("id_a"), secs.as("__sa"),
        explode(array(bucket - 1, bucket, bucket + 1)).as("__bucket"))
    val b = df.select(col(idCol).as("id_b"), secs.as("__sb"),
      bucket.as("__bucket_b"))
    a.join(b,
        col("__bucket") === col("__bucket_b") &&
        col("id_a") < col("id_b") &&
        abs(col("__sa") - col("__sb")) < bandSeconds)
      .select("id_a", "id_b")
      .distinct() // a pair can collide in two buckets
  }
}
