package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.10): the reference's
  * incremental patterns re-expressed as unbounded queries. Each transform
  * takes a (possibly streaming) DataFrame and returns one — the same
  * functions compose in batch mode, which is how the batch oracle queries
  * validate their logic.
  *
  * Watermark discipline: every stateful op takes an explicit `delay` so
  * state is bounded — the reference has no late-data story at all
  * (SURVEY.md §2.10 "absent"); here late rows beyond the watermark are
  * dropped deterministically.
  */
object StreamingOps {

  /** Tumbling event-time counts — streaming analog of the reference's
    * one-day-per-run fetch granularity (/root/reference/main.py:219-224).
    */
  def tumblingCounts(df: DataFrame, tsCol: String, width: String,
                     delay: String, extraKeys: String*): DataFrame = {
    val keys = window(col(tsCol), width) +: extraKeys.map(col)
    df.withWatermark(tsCol, delay)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Sliding (hopping) windowed counts with a watermark — the streaming
    * face of [[graft.ops.Temporal.slidingCounts]]: each event lands in
    * width/slide overlapping windows, state per still-open window is one
    * count row, and the watermark closes windows whose END has passed
    * (event-time + delay), exactly as for tumbling windows — overlap
    * multiplies the OPEN-window count by width/slide, not the state per
    * window.
    */
  def slidingCounts(df: DataFrame, tsCol: String, width: String, slide: String,
                    delay: String, extraKeys: String*): DataFrame = {
    val keys = window(col(tsCol), width, slide) +: extraKeys.map(col)
    df.withWatermark(tsCol, delay)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Live distribution-drift feed: windowed per-category counts joined
    * (STREAM-STATIC, broadcast) against a static reference distribution —
    * the streaming face of [[graft.ops.LlmOps.distributionDrift]],
    * watching a feed drift away from the corpus it was planned against.
    * Emits (window, category, cnt, p_ref); the per-window share and
    * |p − p_ref| terms are one stateless projection downstream (chained
    * streaming aggregations are unsupported, so the window total — and
    * therefore the share — belongs to the consumer, typically the same
    * foreachBatch that alerts on it; the spec computes it there).
    *
    * The reference side is a plain DataFrame: stream-static joins need no
    * watermark on the static side and re-resolve it per micro-batch, so a
    * slowly-refreshed reference table (e.g. re-read daily) just works.
    */
  def driftAgainstReference(df: DataFrame, tsCol: String, catCol: String,
                            width: String, delay: String,
                            ref: DataFrame, refCatCol: String,
                            refShareCol: String): DataFrame = {
    val counts = tumblingCounts(df, tsCol, width, delay, catCol)
    counts
      .join(broadcast(ref.select(col(refCatCol).as(catCol),
        col(refShareCol).as("p_ref"))), Seq(catCol), "left")
      .select(col("window"), col(catCol), col("cnt"),
        coalesce(col("p_ref"), lit(0.0)).as("p_ref"))
  }

  /** Stream-static ANN enrich — the SERVING face of the stored IVF index
    * ([[graft.functions.VectorOps.ivfIndexStored]]): each arriving query
    * vector is tagged with its top-`k` cosine neighbors from the STATIC
    * corpus postings. The index is built once per corpus snapshot by the
    * batch pipeline; the stream pays only probed-cell candidate work —
    * the standard online-serving split (a prebuilt index serves queries;
    * nothing refits on the hot path).
    *
    * Plan shape per micro-batch:
    *  1. each query row scores the centroid LITERAL (collected here at
    *     plan build from the tiny centroid table — nCells·dim floats,
    *     the driver-side bound every batch IVF op already carries) and
    *     keeps its nProbe nearest cells: a stateless per-row expression,
    *     ties at equal score to the smaller cell id (the batch ivfTopK
    *     probe order);
    *  2. stream-static equi-join on the cell id against the postings
    *     table. The static side is PINNED for the stream's lifetime: a
    *     parquet frame's file listing is fixed at DataFrame creation
    *     (and an ivfIndexStored frame additionally pins one committed
    *     version) — adopting a recommitted index snapshot means
    *     RESTARTING the stream over the new frame, and the index
    *     table's retention (`retain`/`minAgeMs`) must outlive the
    *     longest-running stream or its micro-batches fail fast on the
    *     GC'd version. Restart IS the adoption contract for a parquet
    *     static side (rolling mid-stream adoption would let two
    *     micro-batches of one logical stream answer from different
    *     corpus snapshots — a consistency break, not a feature); the
    *     spec'd RECIPE (VERDICT r14 item 6, IndexAdoptionSpec): record
    *     the pinned version at stream start
    *     ([[graft.ops.Sink.listVersions]] head), poll
    *     [[newerIndexVersion]] between micro-batches or on a timer,
    *     and on detection drain (`processAllAvailable`/graceful stop),
    *     `stop()`, rebuild the static frame via
    *     [[graft.ops.Sink.readSnapshot]] (pins the NEW version), and
    *     restart the query — emitted results are append-mode-final
    *     either side of the restart (spec'd, including a live query
    *     still serving its pin on a post-recommit micro-batch), and
    *     with a durable source + checkpointLocation the restart resumes
    *     from the checkpointed offsets, so adoption loses no input and
    *     revises no output;
    *  3. exact cosine on the candidates, then per-query top-k as a
    *     watermarked windowed aggregate: comparator-sort the collected
    *     (score, id) structs, slice `k` — candidate fan-in per query
    *     is bounded by nProbe·cell size (the probe budget), so the
    *     aggregate state is bounded by construction; ties score-desc
    *     then id-asc for ANY orderable id type, the batch ivfTopK
    *     contract (parity spec).
    *
    * Append mode emits a query's neighbors once, when the watermark
    * passes its window — final, never revised.
    */
  def annEnrichStream(queries: DataFrame, qIdCol: String, qVecCol: String,
                      tsCol: String, width: String, delay: String,
                      assigned: DataFrame, centroids: DataFrame,
                      idCol: String, embCol: String,
                      k: Int, nProbe: Int): DataFrame = {
    import graft.functions.VectorOps.cosine
    val cents: Seq[Seq[Float]] = centroids.orderBy("__cell").collect()
      .map(_.getSeq[Float](1).toIndexedSeq).toIndexedSeq
    require(cents.nonEmpty, "annEnrichStream: empty centroid table")
    require(k >= 1 && nProbe >= 1, s"annEnrichStream: bad k=$k nProbe=$nProbe")
    val cLit = typedlit(cents)
    val nCells = cents.size
    // score-desc, id-asc comparator for (s, id) structs: ties break on
    // the RAW id with an inverted comparison instead of arithmetic
    // negation, so idCol may be any orderable type (a negated id was an
    // analysis error for string ids and overflowed at Long.MinValue —
    // ADVICE r14). NULLS ORDER LAST on both fields explicitly: a null
    // score (cosine over a null embedding) made every score branch
    // evaluate null→false and fall through to the id, which is
    // intransitive against scored elements and leaves array_sort
    // undefined (ADVICE r15) — the explicit isNull branches restore a
    // total order for any input the batch side accepts
    def bestFirst(l: Column, r: Column): Column =
      when(l("s").isNull && r("s").isNotNull, 1)
        .when(l("s").isNotNull && r("s").isNull, -1)
        .when(l("s") > r("s"), -1).when(l("s") < r("s"), 1)
        .when(l("id").isNull && r("id").isNotNull, 1)
        .when(l("id").isNotNull && r("id").isNull, -1)
        .when(l("id") < r("id"), -1).when(l("id") > r("id"), 1)
        .otherwise(0)
    // nProbe nearest cells per row: score desc, cell asc at ties — the
    // batch probe order
    val cellScores = transform(sequence(lit(0), lit(nCells - 1)), j =>
      struct(
        cosine(element_at(cLit, j + 1), col(qVecCol)).as("s"),
        j.as("id")))
    val probes = slice(array_sort(cellScores, bestFirst), 1,
      math.min(nProbe, nCells))
    val q = queries
      .withWatermark(tsCol, delay)
      .select(col(tsCol), col(qIdCol).as("__qid"), col(qVecCol).as("__qv"),
        explode(probes).as("__p"))
      .select(col(tsCol), col("__qid"), col("__qv"),
        col("__p.id").cast("int").as("__cell"))
    val cand = q.join(
        assigned.select(col("__cell"), col(idCol).as("__nid"),
          col(embCol).as("__nv")),
        Seq("__cell"))
      .select(col(tsCol), col("__qid"), col("__nid"),
        cosine(col("__nv"), col("__qv")).as("__score"))
    cand
      .groupBy(window(col(tsCol), width), col("__qid"))
      .agg(slice(array_sort(collect_list(
          struct(col("__score").as("s"), col("__nid").as("id"))), bestFirst),
        1, k).as("__top"))
      .select(col("window"), col("__qid"), posexplode(col("__top")))
      .select(col("window"), col("__qid").as(qIdCol),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol),
        col("col.s").as("score"))
  }

  /** The detection half of the [[annEnrichStream]] restart recipe: the
    * live committed version of a versioned index table, when it differs
    * from the version the running stream pinned at start. Driver-side
    * metadata listing only — cheap enough for a per-micro-batch or
    * timer poll. Returns None while the pin is still live (no restart
    * due).
    */
  def newerIndexVersion(spark: org.apache.spark.sql.SparkSession,
                        indexTablePath: String,
                        pinnedVersion: String): Option[String] =
    graft.ops.Sink.listVersions(spark, indexTablePath)
      .headOption.filter(_ != pinnedVersion)

  case class DriftObs(windowStartMs: Long, windowEndMs: Long, v: Long,
                      ts: java.sql.Timestamp)
  case class DriftState(counts: Map[Long, Long])
  case class WindowDrift(window_start: java.sql.Timestamp, n_a: Long, n_b: Long,
                         d_num: Long, d: Double, drift_flag: Boolean,
                         w1_num: Long, w1: Double)

  /** Streaming two-sample drift against a STATIC reference distribution —
    * the live face of the batch [[graft.ops.Stats.ksTest]] +
    * [[graft.ops.Stats.wasserstein1d]] ladder (VERDICT r10 item 7, the
    * `driftAgainstReference` precedent lifted from categorical
    * total-variation inputs to the continuous CDF statistics): per
    * tumbling event-time window, D = max_v |F_win − F_ref| and
    * W₁ = Σ |F gaps|·Δv, with the SAME exact-integer discipline as batch
    * (per-value gap |cumA·n_B − cumB·n_A| in longs, ONE divide by
    * n_A·n_B, the 1.358·√((n_A+n_B)/(n_A·n_B)) α=0.05 flag).
    *
    * Shape: one `flatMapGroupsWithState` keyed by window start. State per
    * open window is the value→count map — bounded by the value grid, the
    * batch ops' own contract (quantize upstream if truly continuous); the
    * reference histogram is a driver-side map (same grid bound) closed
    * over by the function, the streaming analog of a broadcast static
    * side. A window emits ONCE, when the event-time timeout fires (the
    * watermark passed its end): drift verdicts are final, never revised —
    * append mode, no partial emissions to de-duplicate downstream.
    */
  def ksDriftStream(df: DataFrame, tsCol: String, valueCol: String,
                    width: String, delay: String,
                    refCounts: Map[Long, Long]): Dataset[WindowDrift] = {
    require(refCounts.nonEmpty, "ksDriftStream: empty reference distribution")
    val spark = df.sparkSession
    import spark.implicits._
    val nB = refCounts.values.sum
    val obs = df.withWatermark(tsCol, delay)
      .select(window(col(tsCol), width).as("__w"),
        col(valueCol).cast("long").as("v"), col(tsCol))
      .filter(col("v").isNotNull)
      // the raw watermarked ts column rides along: extracting/casting the
      // window struct drops the event-time tag, and EventTimeTimeout
      // requires a tagged column in the grouped input
      .select((col("__w.start").cast("long") * 1000L).as("windowStartMs"),
        (col("__w.end").cast("long") * 1000L).as("windowEndMs"), col("v"),
        col(tsCol).as("ts"))
      .as[DriftObs]
    obs.groupByKey(_.windowStartMs)
      .flatMapGroupsWithState[DriftState, WindowDrift](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (windowStartMs: Long, rows: Iterator[DriftObs], state: GroupState[DriftState]) =>
          if (state.hasTimedOut) {
            val a = state.get.counts
            state.remove()
            val nA = a.values.sum
            // merged distinct-value grid, exact cumulative gaps, one divide
            val grid = (a.keySet ++ refCounts.keySet).toArray.sorted
            var cumA = 0L; var cumB = 0L
            var dNum = 0L; var w1Num = 0L
            var i = 0
            while (i < grid.length) {
              val v = grid(i)
              cumA += a.getOrElse(v, 0L)
              cumB += refCounts.getOrElse(v, 0L)
              val gap = math.abs(cumA * nB - cumB * nA)
              if (gap > dNum) dNum = gap
              if (i < grid.length - 1) w1Num += gap * (grid(i + 1) - v)
              i += 1
            }
            val denom = (nA * nB).toDouble
            val d = dNum.toDouble / denom
            val flag = d > 1.358 * math.sqrt((nA + nB).toDouble / denom)
            Iterator.single(WindowDrift(new java.sql.Timestamp(windowStartMs),
              nA, nB, dNum, d, flag, w1Num, w1Num.toDouble / denom))
          } else {
            var counts = state.getOption.map(_.counts).getOrElse(Map.empty[Long, Long])
            var endMs = 0L
            rows.foreach { r =>
              counts = counts.updated(r.v, counts.getOrElse(r.v, 0L) + 1L)
              endMs = math.max(endMs, r.windowEndMs)
            }
            state.update(DriftState(counts))
            // emit when the watermark passes the window end
            state.setTimeoutTimestamp(endMs)
            Iterator.empty
          }
      }
  }

  case class VnObs(k: String, slot: Int)
  case class VnState(bits: Array[Long], nTokens: Long, nSlots: Long)
  case class VnUpdate(key: String, tokens_batch: Long, new_slots_batch: Long,
                      n_tokens: Long, slots_seen: Long, saturation: Double)

  /** Streaming vocabulary-novelty monitor per key — the live face of the
    * batch [[graft.ops.LlmOps.vocabGrowth]] (Heaps'-law) curve: tokens
    * hash into a FIXED slot universe (the tokenHellinger census device)
    * and per-key state is one `buckets`-bit bitmap + two longs — O(1),
    * unbounded-stream safe where a true distinct-token set would grow
    * without bound. Each batch emits the key's current reading: tokens
    * and first-ever slots this batch, running totals, and saturation
    * (slots seen / universe) — a crawl feed whose new_slots_batch falls
    * to ~0 while tokens_batch stays high is re-reading itself, the
    * cheapest live pre-dedup signal there is. Deterministic regardless
    * of arrival order: the bitmap is a set union and both batch counts
    * are order-free.
    */
  def vocabNoveltyStream(df: DataFrame, keyCol: String, textCol: String,
                         buckets: Int = 8192): Dataset[VnUpdate] = {
    require(buckets > 0 && buckets % 64 == 0,
      "vocabNoveltyStream: buckets must be a positive multiple of 64")
    val spark = df.sparkSession
    import spark.implicits._
    val obs = df
      .select(col(keyCol).cast("string").as("k"),
        explode(graft.ops.LlmOps.tokens(col(textCol))).as("__tok"))
      .filter(col("k").isNotNull && col("__tok") =!= "")
      .select(col("k"),
        pmod(graft.ops.LlmOps.md5Hash48(col("__tok"), 1),
          lit(buckets.toLong)).cast("int").as("slot"))
      .as[VnObs]
    obs.groupByKey(_.k)
      .flatMapGroupsWithState[VnState, VnUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[VnObs], state: GroupState[VnState]) =>
          val st = state.getOption
            .getOrElse(VnState(new Array[Long](buckets / 64), 0L, 0L))
          val bits = st.bits.clone()
          var batchTokens = 0L; var batchNew = 0L
          rows.foreach { r =>
            batchTokens += 1
            val word = r.slot >>> 6; val mask = 1L << (r.slot & 63)
            if ((bits(word) & mask) == 0L) { bits(word) |= mask; batchNew += 1 }
          }
          val nTokens = st.nTokens + batchTokens
          val nSlots = st.nSlots + batchNew
          state.update(VnState(bits, nTokens, nSlots))
          Iterator.single(VnUpdate(key, batchTokens, batchNew, nTokens,
            nSlots, nSlots.toDouble / buckets.toDouble))
      }
  }

  case class PhObs(k: String, v: Long, tsMs: Long)
  case class PhState(nTest: Long, m: Long, minM: Long, maxM: Long)
  case class PhUpdate(key: String, n_test: Long, ph_up: Double,
                      ph_down: Double, alarm_up: Boolean, alarm_down: Boolean)

  /** Streaming Page–Hinkley drift monitor per key — the live face of the
    * batch [[graft.ops.Temporal.pageHinkley]]: against a FIXED reference
    * mean μ = refSum/refCount (the batch op's calibration segment, or
    * any offline-estimated baseline), each group folds the integer-scaled
    * deviations d = v·refCount − refSum into cumulative m̃, tracks
    * running min/max, and emits the current PH↑ = (m̃ − min m̃)/refCount
    * and PH↓ = (max m̃ − m̃)/refCount after every batch (update-style:
    * the monitor's current reading, unlike [[ksDriftStream]]'s one-shot
    * final verdicts). Alarms fire when a statistic crosses `lambda`.
    *
    * Determinism contract: Page–Hinkley is a sequential fold, so rows
    * sort by (event time, value) WITHIN each batch; across batches the
    * fold is arrival order — the batch op stays the audited exact form,
    * this is its monitoring companion (the ewmaPerKey ordering stance).
    * State per key is four longs — O(1), unbounded stream safe.
    */
  def pageHinkleyStream(df: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String, refSum: Long, refCount: Long,
                        lambda: Double): Dataset[PhUpdate] = {
    require(refCount > 0, "pageHinkleyStream: empty reference segment")
    val spark = df.sparkSession
    import spark.implicits._
    val obs = df
      .select(col(keyCol).cast("string").as("k"),
        col(valueCol).cast("long").as("v"),
        (col(tsCol).cast("long") * 1000L).as("tsMs"))
      .filter(col("k").isNotNull && col("v").isNotNull)
      .as[PhObs]
    obs.groupByKey(_.k)
      .flatMapGroupsWithState[PhState, PhUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[PhObs], state: GroupState[PhState]) =>
          val st0 = state.getOption.getOrElse(PhState(0L, 0L, 0L, 0L))
          var n = st0.nTest; var m = st0.m
          var minM = st0.minM; var maxM = st0.maxM
          rows.toArray.sortBy(r => (r.tsMs, r.v)).foreach { r =>
            m += r.v * refCount - refSum
            n += 1
            if (m < minM) minM = m
            if (m > maxM) maxM = m
          }
          state.update(PhState(n, m, minM, maxM))
          val up = (m - minM).toDouble / refCount.toDouble
          val down = (maxM - m).toDouble / refCount.toDouble
          Iterator.single(PhUpdate(key, n, up, down, up > lambda, down > lambda))
      }
  }

  /** Live reliability diagram — the streaming face of
    * [[graft.ops.Stats.calibrationCurve]]: per confidence decile,
    * running n / exact score sum / positive count as ONE unbounded
    * streaming aggregation in complete mode (nBuckets rows of state,
    * total — the heavyHittersStream discipline), with conf/acc/gap as
    * stateless projections over the aggregate. A drifting gap row is the
    * live signal the production quality scorer has decalibrated since
    * the batch curve was drawn. Null scores/labels drop; scores clamp
    * into [0, 1000] AFTER the null filter (greatest/least skip nulls —
    * the batch op's own contract).
    */
  def calibrationCurveStream(df: DataFrame, scoreCol: String,
                             labelCol: String, nBuckets: Int = 10): DataFrame = {
    val base = df
      .select(col(scoreCol).cast("long").as("__s0"),
        col(labelCol).cast("boolean").as("__y"))
      .filter(col("__s0").isNotNull && col("__y").isNotNull)
      .select(least(greatest(col("__s0"), lit(0L)), lit(1000L)).as("__s"),
        col("__y"))
    base
      .groupBy(least(floor(col("__s") * nBuckets / 1000L), lit(nBuckets - 1L))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("__s")).cast("long").as("sum_score"),
        sum(col("__y").cast("long")).cast("long").as("n_pos"))
      .select(col("bucket"), col("n"), col("sum_score"), col("n_pos"),
        (col("sum_score").cast("double")
          / (col("n") * 1000L).cast("double")).as("conf"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("acc"))
      .withColumn("gap", abs(col("acc") - col("conf")))
  }

  case class RocObs(k: Int, s: Long, y: Boolean)
  case class RocState(pos: Map[Long, Long], neg: Map[Long, Long])
  case class RocPoint(threshold: Long, tp: Long, fp: Long,
                      n_pos: Long, n_neg: Long, tpr: Option[Double],
                      fpr: Option[Double], precision: Option[Double])

  /** Live ROC curve of the production classifier — the streaming face of
    * [[graft.ops.Stats.rocCurve]] (VERDICT r11 item 7: the monitoring
    * story is "did last night's threshold choice still discriminate
    * TODAY"). State is the per-score (positive, negative) histogram over
    * permille-clamped scores — ≤ 1001 entries, the
    * [[calibrationCurveStream]] clamp discipline giving the same bound
    * the batch op gets from its caller's contract — held by ONE
    * `flatMapGroupsWithState` group; each update emits the FULL
    * cumulative curve (threshold-descending tp/fp sweeps computed
    * in-state, exactly the batch op's two running sums), so the latest
    * emission per threshold IS the stream-to-date ROC. Batch parity is
    * spec-asserted against [[graft.ops.Stats.rocCurve]] on the clamped
    * prefix.
    *
    * Single-group state is deliberate: the curve is a global statistic,
    * the state is ~16 KB, and the heavy work (scoring) happened
    * upstream — the same trade [[vocabNoveltyStream]] makes per key.
    * Null scores drop; null labels coalesce to false (the batch
    * contract).
    */
  def rocCurveStream(df: DataFrame, scoreCol: String,
                     labelCol: String): Dataset[RocPoint] = {
    val spark = df.sparkSession
    import spark.implicits._
    val obs = df
      .select(col(scoreCol).cast("long").as("__s0"),
        coalesce(col(labelCol).cast("boolean"), lit(false)).as("y"))
      .filter(col("__s0").isNotNull)
      .select(lit(0).as("k"),
        least(greatest(col("__s0"), lit(0L)), lit(1000L)).as("s"), col("y"))
      .as[RocObs]
    obs.groupByKey(_.k)
      .flatMapGroupsWithState[RocState, RocPoint](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[RocObs], state: GroupState[RocState]) =>
          val st0 = state.getOption.getOrElse(
            RocState(Map.empty[Long, Long], Map.empty[Long, Long]))
          var pos = st0.pos
          var neg = st0.neg
          rows.foreach { r =>
            if (r.y) pos = pos.updated(r.s, pos.getOrElse(r.s, 0L) + 1L)
            else neg = neg.updated(r.s, neg.getOrElse(r.s, 0L) + 1L)
          }
          state.update(RocState(pos, neg))
          val nPos = pos.values.sum
          val nNeg = neg.values.sum
          val scores = (pos.keySet ++ neg.keySet).toArray.sorted(
            Ordering[Long].reverse)
          var tp = 0L
          var fp = 0L
          // materialized (≤ 1001 rows): the cumulative sweep must not
          // interleave with downstream lazy consumption
          scores.toSeq.map { s =>
            tp += pos.getOrElse(s, 0L)
            fp += neg.getOrElse(s, 0L)
            RocPoint(s, tp, fp, nPos, nNeg,
              if (nPos == 0L) None else Some(tp.toDouble / nPos),
              if (nNeg == 0L) None else Some(fp.toDouble / nNeg),
              if (tp + fp == 0L) None else Some(tp.toDouble / (tp + fp)))
          }.iterator
      }
  }

  /** Live split-conformal gate — the serving face of
    * [[graft.ops.Stats.conformalThreshold]]: the batch-fitted per-group
    * thresholds are a STATIC relation (broadcast, re-resolved per
    * micro-batch, so a nightly refit just works), and each streaming
    * (group, score) row emits append-mode with its `covered` verdict —
    * `score ≤ threshold` keeps the ≥ 1−α guarantee the calibration run
    * established; a group with a null threshold (k exceeded its
    * calibration count) or absent from the fit passes everything
    * (fail-open, matching the batch op's tiny-group convention). Fully
    * stateless — windowed coverage-rate monitoring composes downstream
    * via `tumblingCounts` on the emitted verdict column.
    */
  def conformalGateStream(df: DataFrame, groupCol: String, scoreCol: String,
                          thresholds: DataFrame, thrGroupCol: String,
                          thrCol: String): DataFrame =
    df.join(broadcast(thresholds.select(col(thrGroupCol).as(groupCol),
        col(thrCol).as("threshold"))), Seq(groupCol), "left")
      .withColumn("covered",
        col("threshold").isNull || col(scoreCol) <= col("threshold"))

  /** Gap sessionization with `session_window` — the engine's streaming
    * sessionizer. State per (key, open session), closed by the watermark.
    * Batch Temporal.sessionize is the oracle-checkable equivalent.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 gap: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming exact dedup by content fingerprint within the watermark —
    * the streaming analog of L1 exact dedup and of the reference's
    * anti-join change detection (only-new-keys, /root/reference/main.py:79-85):
    * a key seen once is never emitted again while its state lives.
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, delay: String,
                           keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: match left rows to right rows on an
    * equi-key within an event-time band — e.g. clicks joined to the
    * purchases that follow within `bandRight` (attribution), the streaming
    * analog of the batch range/as-of joins (ops/AsOfJoin). Both sides need
    * watermarks and the join condition needs BOTH a key equality and a
    * time bound: that's what lets the engine expire buffered state — an
    * unbounded stream-stream join would hold every row forever.
    * `leftTs`/`rightTs` must be distinct column names.
    */
  def intervalJoin(left: DataFrame, leftTs: String, leftDelay: String,
                   right: DataFrame, rightTs: String, rightDelay: String,
                   keyCond: Column, bandLeft: String, bandRight: String): DataFrame = {
    val l = left.withWatermark(leftTs, leftDelay)
    val r = right.withWatermark(rightTs, rightDelay)
    l.join(r, keyCond &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $bandLeft") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $bandRight"))
  }

  /** Left-outer stream-stream interval join: like [[intervalJoin]] but
    * left rows with no match inside the band are still emitted (right side
    * null-filled) — attribution with explicit "unconverted" rows. The
    * null-filled outputs are produced only when the watermark passes the
    * row's band (the engine must prove no future match can arrive before
    * it can emit the negative), so results trail the watermark by the band
    * width — that delay is the price of exactly-once negatives, not a bug.
    * State stays bounded by the same watermark expiry as the inner join.
    */
  def intervalJoinLeftOuter(left: DataFrame, leftTs: String, leftDelay: String,
                            right: DataFrame, rightTs: String, rightDelay: String,
                            keyCond: Column, bandLeft: String, bandRight: String): DataFrame = {
    val l = left.withWatermark(leftTs, leftDelay)
    val r = right.withWatermark(rightTs, rightDelay)
    l.join(r, keyCond &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $bandLeft") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $bandRight"),
      "leftOuter")
  }

  /** High-watermark incremental filter for a micro-batch source: keep rows
    * strictly newer than the given watermark (the reference's
    * `from=watermark+1day` fetch bound, /root/reference/main.py:219-224,
    * expressed as a predicate the source can push down).
    */
  def newerThan(df: DataFrame, tsCol: String, watermark: java.sql.Timestamp): DataFrame =
    df.filter(col(tsCol) > lit(watermark))

  /** One event for the stateful sessionizer. */
  case class SessionEvent(userId: Long, ts: java.sql.Timestamp)

  /** Open-session state: count + bounds, kept per user key. */
  case class SessionState(nEvents: Long, startMs: Long, lastMs: Long)

  /** A closed session emitted downstream. */
  case class ClosedSession(userId: Long, nEvents: Long, startMs: Long, endMs: Long)

  /** Per-key high-watermark tracker on the Spark 4 arbitrary-state API
    * (`transformWithState`): keeps max event-time per key in ValueState and
    * emits (key, watermark) ONLY when it advances — the reference's
    * get_last_meeting_date bookkeeping (/root/reference/main.py:251-267) as
    * incrementally-maintained streaming state instead of a table re-scan
    * per run. Late/duplicate events produce no output at all.
    */
  class WatermarkTracker
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, (Long, java.sql.Timestamp)] {
    @transient private var maxTs: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      maxTs = getHandle.getValueState[Long]("maxTs",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, java.sql.Timestamp)] = {
      val prev = if (maxTs.exists()) maxTs.get() else Long.MinValue
      val mx = rows.foldLeft(prev)((acc, e) => math.max(acc, e.ts.getTime))
      if (mx > prev) {
        maxTs.update(mx)
        Iterator((key, new java.sql.Timestamp(mx)))
      } else Iterator.empty
    }
  }

  /** First-sight filter with TTL-evicted state: emits a key the first time
    * it appears, suppresses repeats while its state lives, and FORGETS the
    * key TTL after last refresh — the bounded-memory "recently seen" cache
    * (alert dedup, rate limiting, re-notification windows). Unlike
    * [[dedupWithinWatermark]] (event-time bound), the bound here is
    * processing-time TTL via the state store's native `TTLConfig`:
    * state size is O(distinct keys per TTL window) no matter how long the
    * stream runs — the property that keeps a 100 TB/day stream's state
    * from growing without limit.
    */
  class TtlSeenFilter(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, Long] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(ttlMs)))
    }

    override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Long] = {
      rows.size // drain
      val isNew = !seen.exists() // expired TTL state reads as absent
      seen.update(timerValues.getCurrentProcessingTimeInMs()) // write refreshes TTL
      if (isNew) Iterator(key) else Iterator.empty
    }
  }

  /** Wire [[TtlSeenFilter]] over a stream of [[SessionEvent]]s. */
  def firstSightWithTtl(ds: Dataset[SessionEvent], ttlMs: Long): Dataset[Long] = {
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new TtlSeenFilter(ttlMs), TimeMode.ProcessingTime(),
        OutputMode.Update())(org.apache.spark.sql.Encoders.scalaLong)
  }

  /** Wire [[WatermarkTracker]] over a stream of [[SessionEvent]]s. */
  def trackWatermarks(ds: Dataset[SessionEvent]): Dataset[(Long, java.sql.Timestamp)] = {
    import org.apache.spark.sql.streaming.TimeMode
    implicit val enc: org.apache.spark.sql.Encoder[(Long, java.sql.Timestamp)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.TIMESTAMP)
    ds.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new WatermarkTracker, TimeMode.None(), OutputMode.Update())
  }

  /** Custom stateful sessionization via `flatMapGroupsWithState` — the
    * hand-rolled state machine for when `session_window` can't express the
    * policy (e.g. emit-on-close only, session caps, custom merge logic).
    * State per key is O(1); sessions close when the event-time timeout
    * fires (watermark passes last event + gap) or a new event arrives
    * beyond the gap.
    */
  def sessionizeStateful(ds: Dataset[SessionEvent], gapMs: Long,
                         watermarkDelay: Option[String] = None)(
      implicit closedEnc: org.apache.spark.sql.Encoder[ClosedSession],
      stateEnc: org.apache.spark.sql.Encoder[SessionState]): Dataset[ClosedSession] = {
    // EventTimeTimeout REQUIRES a watermark on the input: pass
    // watermarkDelay to apply it here, or watermark upstream (as the
    // specs do) — without either, the streaming query fails at start with
    // 'Watermark must be specified'.
    val src = watermarkDelay.fold(ds)(d => ds.withWatermark("ts", d))
    src.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, events: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(userId, s.nEvents, s.startMs, s.lastMs))
          } else {
            val sorted = events.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  // out-of-order rows above the watermark may arrive older
                  // than the stored session — extend bounds, never regress
                  cur = Some(s.copy(nEvents = s.nEvents + 1,
                    startMs = math.min(s.startMs, t),
                    lastMs = math.max(s.lastMs, t)))
                case Some(s) => // gap exceeded → close, start fresh
                  closed ::= ClosedSession(userId, s.nEvents, s.startMs, s.lastMs)
                  cur = Some(SessionState(1, t, t))
                case None =>
                  cur = Some(SessionState(1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** A keyed, typed event. `eventId` is the unique tie-break that gives
    * every tracker the SAME total intra-batch order as its batch
    * counterpart's `tieBreak` column — feeds without a natural id may
    * leave the default, accepting arbitrary (but stable, input-order)
    * resolution of exact-timestamp ties, exactly as the batch op does
    * when handed a non-unique tieBreak. */
  case class TypedEvent(userId: Long, eventType: String,
                        ts: java.sql.Timestamp, eventId: Long = 0L)
  case class FunnelState(stage: Int, lastMs: Long)
  case class FunnelProgress(userId: Long, stage: Int, atMs: Long)

  case class PathState(prev1: String, prev2: String)
  case class Trigram(userId: Long, step1: String, step2: String, step3: String)

  /** Streaming counterpart of [[graft.ops.Temporal.topEventPaths]]'
    * trigram extraction: keyed state holds only the last TWO event types
    * per key (O(1) state — two strings), and each arriving event completes
    * and emits one trigram. Trigrams spanning micro-batch boundaries are
    * exactly the ones a per-batch window could never see — the state
    * carries the tail of the previous batch, so the emitted multiset
    * equals the batch operator's window pass over the same feed
    * (batch-parity spec). Downstream, a watermarked count over the
    * emitted trigrams gives the live journey distribution.
    *
    * Within a micro-batch rows sort by (ts, type) so batch boundaries
    * don't change the result of an in-order feed; like the batch
    * operator, the order must be a total one for exact parity (feed a
    * unique tiebreak inside `eventType` ties if the source has them).
    */
  class PathTrigramTracker
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, Trigram] {
    @transient private var last2: org.apache.spark.sql.streaming.ValueState[PathState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      last2 = getHandle.getValueState[PathState]("last2",
        org.apache.spark.sql.Encoders.product[PathState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Trigram] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.eventType))
      var st = if (last2.exists()) last2.get() else PathState(null, null)
      val out = scala.collection.mutable.ArrayBuffer.empty[Trigram]
      sorted.foreach { e =>
        if (st.prev1 != null && st.prev2 != null)
          out += Trigram(key, st.prev1, st.prev2, e.eventType)
        st = PathState(st.prev2, e.eventType)
      }
      last2.update(st)
      out.iterator
    }
  }

  /** Wire [[PathTrigramTracker]] over a stream of [[TypedEvent]]s. */
  def eventPathsStream(ds: Dataset[TypedEvent])(
      implicit enc: org.apache.spark.sql.Encoder[Trigram]): Dataset[Trigram] = {
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new PathTrigramTracker, TimeMode.None(), OutputMode.Append())
  }

  case class ThrottleDecision(userId: Long, eventType: String, atMs: Long,
                              gapSeconds: Long, suppressed: Boolean)

  /** Streaming counterpart of [[graft.ops.Temporal.throttleEvents]] — the
    * op whose NATURAL home is a stream: suppress-at-ingest beats
    * suppress-in-batch because the duplicate burst never reaches storage.
    * Keyed state per (user, kind) is ONE long (the previous raw event's
    * epoch second); each arriving event reads it, emits its keep/suppress
    * decision (gapSeconds −1 where batch emits null — encoder-friendly),
    * and advances it. Same previous-RAW-event contract as the batch
    * operator, so the emitted decisions match the batch lag window over
    * the same feed (batch-parity spec, state across micro-batch splits).
    */
  class ThrottleTracker(minGapSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Long, String), TypedEvent, ThrottleDecision] {
    @transient private var lastSec: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      lastSec = getHandle.getValueState[Long]("lastSec",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: (Long, String), rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ThrottleDecision] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var prev = if (lastSec.exists()) Some(lastSec.get()) else None
      val out = sorted.map { e =>
        val sec = e.ts.getTime / 1000
        val gap = prev.map(sec - _)
        prev = Some(sec)
        ThrottleDecision(key._1, key._2, e.ts.getTime,
          gap.getOrElse(-1L), gap.exists(_ < minGapSeconds))
      }
      prev.foreach(lastSec.update)
      out.iterator
    }
  }

  /** Wire [[ThrottleTracker]] over a [[TypedEvent]] stream. */
  def throttleStream(ds: Dataset[TypedEvent], minGapSeconds: Long)(
      implicit enc: org.apache.spark.sql.Encoder[ThrottleDecision]): Dataset[ThrottleDecision] = {
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(e => (e.userId, e.eventType))(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING))
      .transformWithState(new ThrottleTracker(minGapSeconds),
        TimeMode.None(), OutputMode.Append())
  }

  case class TouchState(kind: String, sec: Long)
  case class Attribution(userId: Long, atMs: Long, attributedTo: String,
                         lagSeconds: Long)

  /** Streaming counterpart of [[graft.ops.Temporal.lastTouchAttribution]]:
    * per-user state is the last non-conversion touch (kind + epoch
    * second — O(1)); each conversion reads it, applies the attribution
    * window, and emits its credit row immediately — the real-time revenue
    * dashboard the batch operator backfills. attributedTo null / lag −1
    * where the touch is absent or stale, exactly the batch nulls.
    */
  class LastTouchTracker(conversionKind: String, windowSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, Attribution] {
    @transient private var touch: org.apache.spark.sql.streaming.ValueState[TouchState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      touch = getHandle.getValueState[TouchState]("touch",
        org.apache.spark.sql.Encoders.product[TouchState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Attribution] = {
      // (ts, eventId) — the SAME intra-batch tie order the batch
      // lastTouchAttribution uses (tieBreak = event_id) and the session/
      // dwell trackers below use; sorting ties by eventType would flip a
      // same-second touch/conversion pair and break batch parity.
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId))
      val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
      sorted.foreach { e =>
        val sec = e.ts.getTime / 1000
        if (e.eventType == conversionKind) {
          val st = if (touch.exists()) Some(touch.get()) else None
          val inWindow = st.filter(t => sec - t.sec <= windowSeconds)
          out += Attribution(key, e.ts.getTime,
            inWindow.map(_.kind).orNull,
            inWindow.map(t => sec - t.sec).getOrElse(-1L))
        } else touch.update(TouchState(e.eventType, sec))
      }
      out.iterator
    }
  }

  /** Wire [[LastTouchTracker]] over a [[TypedEvent]] stream. */
  def lastTouchStream(ds: Dataset[TypedEvent], conversionKind: String,
                      windowSeconds: Long)(
      implicit enc: org.apache.spark.sql.Encoder[Attribution]): Dataset[Attribution] = {
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new LastTouchTracker(conversionKind, windowSeconds),
        TimeMode.None(), OutputMode.Append())
  }

  case class AsOfEnriched(userId: Long, eventId: Long, atMs: Long,
                          matchedMs: Option[Long], lagSeconds: Long)

  /** Streaming counterpart of the native backward as-of join
    * ([[graft.ops.AsOfJoin.asOfNative]], VERDICT r12 item 6): rows of
    * `rightKind` are the reference side; every OTHER row is a probe,
    * enriched with the greatest same-key reference timestamp at-or-before
    * its own (inclusive, exactly the batch operator's contract) and
    * emitted exactly once. State is O(1) per key — the latest reference
    * epoch-ms — the [[LastTouchTracker]] shape without the window gate.
    *
    * Ordering/watermark semantics (the `eventPathsStream` mid-state
    * discipline): within a micro-batch rows sort by (ts, reference-first,
    * eventId) — reference-first so an equal-timestamp reference is
    * visible to its simultaneous probe, the inclusive bound — so a batch
    * boundary placed at a STRICT timestamp increase of an in-order feed
    * leaves results identical to the single-batch run (parity spec).
    * The one boundary that is NOT invariant (r14 review): an equal-
    * timestamp probe/reference pair fed probe-first and SPLIT across
    * batches — the probe is emitted (append mode, exactly once) before
    * the reference is seen, where the single-batch sort would have
    * matched it; keep simultaneous pairs in one batch, or accept the
    * miss (spec pins both behaviors). Buffering probes at the batch's
    * max timestamp would close it at the cost of unbounded per-key state
    * and a never-flushed tail under TimeMode.None — the wrong trade for
    * an O(1)-state face. The face otherwise assumes an in-order feed
    * ACROSS batches, the same assumption every tracker in this file
    * documents: a reference arriving after a later-ts probe was already
    * emitted cannot revise that probe (the monotonic state guard also
    * ignores references older than the held one). Late data beyond that
    * is the batch operator's job — `asOfNative` over the archived table
    * backfills exactly these rows.
    * `TimeMode.None`: state never expires (one long per key); compose
    * with a TTL state variant where key cardinality is unbounded.
    *
    * The output carries the matched TIMESTAMP, not a reference row id,
    * so equal-timestamp reference ties are output-indistinguishable —
    * the stream face needs no analog of the batch payload-hash tie rule.
    */
  class AsOfEnrichTracker(rightKind: String)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, AsOfEnriched] {
    @transient private var latest: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      latest = getHandle.getValueState[Long]("latestRefMs",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[AsOfEnriched] = {
      val sorted = rows.toSeq.sortBy(e =>
        (e.ts.getTime, if (e.eventType == rightKind) 0 else 1, e.eventId))
      val out = scala.collection.mutable.ArrayBuffer.empty[AsOfEnriched]
      sorted.foreach { e =>
        val ms = e.ts.getTime
        if (e.eventType == rightKind) {
          // monotonic: an out-of-order (older) reference never replaces
          // a newer one already held
          if (!latest.exists() || latest.get() <= ms) latest.update(ms)
        } else {
          val m = if (latest.exists()) Some(latest.get()) else None
          out += AsOfEnriched(key, e.eventId, ms, m,
            m.map(v => (ms - v) / 1000L).getOrElse(-1L))
        }
      }
      out.iterator
    }
  }

  /** Wire [[AsOfEnrichTracker]] over a [[TypedEvent]] stream. */
  def asOfEnrichStream(ds: Dataset[TypedEvent], rightKind: String)(
      implicit enc: org.apache.spark.sql.Encoder[AsOfEnriched]): Dataset[AsOfEnriched] = {
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new AsOfEnrichTracker(rightKind),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming counterpart of [[graft.ops.Temporal.eventFunnel]]: per-key
    * conversion stages tracked as keyed state, a progress row emitted each
    * time a key advances. Stage i+1 counts only strictly after stage i's
    * event time (same contract as the batch operator); within a
    * micro-batch rows are sorted by (ts, type) so batch boundaries don't
    * change the result of an in-order feed.
    *
    * State is O(1) per key — a stage counter and one timestamp — so a
    * stream of any length holds |active keys| × 2 longs, and emitted rows
    * are deltas (stage advances), not per-event. No timeout: a funnel has
    * no natural expiry; compose with [[TtlSeenFilter]]-style TTL state if
    * abandoned keys must be evicted.
    */
  def funnelStateful(ds: Dataset[TypedEvent], stages: Seq[String])(
      implicit progEnc: org.apache.spark.sql.Encoder[FunnelProgress],
      stateEnc: org.apache.spark.sql.Encoder[FunnelState]): Dataset[FunnelProgress] = {
    require(stages.nonEmpty)
    ds.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, events: Iterator[TypedEvent], state: GroupState[FunnelState]) =>
          val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.eventType))
          var s = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          var out = List.empty[FunnelProgress]
          sorted.foreach { e =>
            val advance = s.stage < stages.size &&
              e.eventType == stages(s.stage) &&
              (s.stage == 0 || e.ts.getTime > s.lastMs)
            if (advance) {
              s = FunnelState(s.stage + 1, e.ts.getTime)
              out ::= FunnelProgress(userId, s.stage, e.ts.getTime)
            }
          }
          // Only write state for keys that actually entered the funnel:
          // most keys in a typical stream never match stage 0, and an
          // unconditional update would grow the store with |all keys ever
          // seen| instead of |funnel entrants|.
          if (out.nonEmpty || state.exists) state.update(s)
          out.reverseIterator
      }
  }

  /** Exactly-once `foreachBatch` parquet sink via commit markers.
    *
    * Structured Streaming's `foreachBatch` contract is at-least-once: after
    * a failure the engine REPLAYS the last batch with the same `batchId`.
    * Idempotence must come from the sink, and this is the standard recipe:
    *
    *  1. each batch writes to its own `batch=<id>` directory with
    *     `mode("overwrite")` — a retry of a HALF-written batch replaces the
    *     partial output instead of duplicating it;
    *  2. an empty `_COMMITTED` marker is created only after the write
    *     returns — a replay of a COMMITTED batch sees the marker and
    *     becomes a no-op;
    *  3. readers go through [[readCommittedBatches]], which lists only
    *     marked directories — a crash between write and marker is invisible
    *     downstream and heals on replay.
    *
    * Use: `stream.writeStream.foreachBatch(StreamingOps.idempotentBatchSink(path) _)`.
    */
  /** One (doc, band) row of a streaming LSH feed. */
  case class DocBand(docId: Long, band: Int, bandHash: String)
  /** A band collision delta: `docId` hit a bucket owned by `ownerId`. */
  case class BandCollision(docId: Long, band: Int, ownerId: Long)

  /** Per-band-bucket min-id ownership tracker — the streaming analog of
    * [[graft.ops.LlmOps.incrementalNearDup]]'s candidate generation: state
    * is ONE long (the owning doc id) per distinct band key, and each
    * incoming doc that lands in an already-owned bucket emits a
    * [[BandCollision]] delta. Per-doc folding (any collision → candidate)
    * happens downstream over the delta stream, exactly as funnelStateful's
    * deltas do.
    *
    * Contract: ownership is MIN doc id (the batch survivor rule). On an
    * id-ascending feed the emitted candidates equal the batch LSH
    * candidate set (spec-checked); a LOWER id arriving after a higher one
    * takes ownership but cannot retract the earlier doc's keep decision —
    * the inherent first-sight semantics of streaming dedup (same caveat
    * as dropDuplicatesWithinWatermark). Emitted collisions are never
    * false: every one is a genuine shared band.
    */
  class BandOwnerTracker
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, DocBand, BandCollision] {
    @transient private var owner: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      owner = getHandle.getValueState[Long]("owner",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[DocBand],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[BandCollision] = {
      // id order within the batch: batch boundaries never reorder decisions
      val sorted = rows.toSeq.sortBy(_.docId)
      val out = scala.collection.mutable.ArrayBuffer.empty[BandCollision]
      var cur = if (owner.exists()) Some(owner.get()) else None
      sorted.foreach { r =>
        cur match {
          case None => cur = Some(r.docId)
          case Some(o) if r.docId > o => out += BandCollision(r.docId, r.band, o)
          case Some(o) if r.docId < o => cur = Some(r.docId)
          case _ => () // same doc appearing twice in one bucket: no self-pair
        }
      }
      cur.foreach(owner.update)
      out.iterator
    }
  }

  /** Live chunk-level decontamination feed: each incoming doc is chunked
    * ([[graft.ops.LlmOps.chunkWindows]] — a stateless projection), its
    * fingerprints checked against the STATIC benchmark fingerprint set
    * (stream-static broadcast LEFT SEMI, re-resolved per micro-batch so a
    * refreshed benchmark table just works), and every contaminated chunk
    * emits one quarantine row (doc_id, chunk_id, start_tok, chunk_fp) in
    * append mode. Fully stateless — no watermark, no state store; the
    * ingest-time face of the batch `chunk_contamination` audit.
    */
  def chunkContaminationStream(docs: DataFrame, idCol: String, textCol: String,
                               benchFps: DataFrame, fpCol: String,
                               window: Int = 16, stride: Int = 8): DataFrame =
    graft.ops.LlmOps.chunkWindows(docs, idCol, textCol, window, stride)
      .join(broadcast(benchFps.select(col(fpCol).as("__bfp"))),
        col("chunk_fp") === col("__bfp"), "left_semi")

  /** Streaming corpus heavy hitters: the native `misra_gries` k-counter
    * aggregate as an UNBOUNDED streaming aggregation (complete mode) —
    * O(k) state total regardless of stream length or vocabulary, the
    * sketch's whole point at stream scale (an exact streaming word count
    * would grow state with the vocabulary). Emits the terms whose sketch
    * estimate already clears the N/(k+1) threshold; since MG never
    * over-counts (est ≤ true), every emitted term is a TRUE heavy hitter
    * — the stream never false-alarms. Borderline hitters whose estimate
    * was decremented below threshold can lag until more mass arrives;
    * that one-sidedness is the documented MG trade and what the spec
    * checks against the batch exact side.
    */
  def heavyHittersStream(docs: DataFrame, textCol: String, k: Int = 32): DataFrame = {
    val sk = docs
      .select(explode(graft.ops.LlmOps.tokens(col(textCol))).as("term"))
      .agg(expr(s"misra_gries(term, $k)").as("__sk"), count(lit(1)).as("__n"))
    sk.select(col("__n"), explode(col("__sk")).as(Seq("term", "est")))
      .filter(col("est") * (k + 1) > col("__n"))
      .select(col("term"), col("est"), col("__n").as("n_total"))
  }

  /** Per-group streaming heavy hitters — [[heavyHittersStream]] under a
    * groupBy, the live face of the batch
    * [[graft.ops.LlmOps.groupHeavyHitters]] (per-language trending-terms
    * feed): ONE Misra–Gries sketch per group key as an unbounded
    * streaming aggregation in complete mode, O(k) state PER GROUP
    * regardless of stream length or vocabulary (the native
    * TypedImperativeAggregate merges partials map-side exactly as in
    * batch). Same one-sided MG guarantees per group: every emitted
    * (group, term) clears its OWN group's n/(k+1) threshold and est never
    * exceeds the true in-group count — no false alarms; borderline
    * hitters may lag until more mass arrives.
    */
  def groupHeavyHittersStream(docs: DataFrame, groupCol: String,
                              textCol: String, k: Int = 32): DataFrame = {
    val sk = docs
      .select(col(groupCol).as("__g"),
        explode(graft.ops.LlmOps.tokens(col(textCol))).as("term"))
      .groupBy(col("__g"))
      .agg(expr(s"misra_gries(term, $k)").as("__sk"), count(lit(1)).as("__n"))
    sk.select(col("__g"), col("__n"), explode(col("__sk")).as(Seq("term", "est")))
      .filter(col("est") * (k + 1) > col("__n"))
      .select(col("__g").as(groupCol), col("term"), col("est"),
        col("__n").as("n_group"))
  }

  /** Wire [[BandOwnerTracker]] over a streaming (id, text) DataFrame: the
    * MinHash signature and LSH banding are STATELESS projections (the same
    * portable md5-48 family as the batch ops), so the only keyed state in
    * the query is the one-long-per-bucket ownership map.
    */
  def nearDupCandidatesStream(docs: DataFrame, idCol: String, textCol: String,
                              shingleN: Int = 3, numHashes: Int = 16,
                              bands: Int = 4, rowsPerBand: Int = 4): Dataset[BandCollision] = {
    require(bands * rowsPerBand == numHashes,
      s"bands ($bands) x rowsPerBand ($rowsPerBand) must equal numHashes ($numHashes)")
    import org.apache.spark.sql.streaming.TimeMode
    implicit val dbEnc: org.apache.spark.sql.Encoder[DocBand] =
      org.apache.spark.sql.Encoders.product[DocBand]
    implicit val bcEnc: org.apache.spark.sql.Encoder[BandCollision] =
      org.apache.spark.sql.Encoders.product[BandCollision]
    val sig = docs.select(col(idCol).as("docId"),
      graft.ops.LlmOps.minhashPlan(col(textCol), shingleN, numHashes)
        .getField("sig").as("__sig"))
    graft.ops.LlmOps.lshBands(sig, "docId", "__sig", bands, rowsPerBand)
      .select(col("docId"), col("band").cast("int").as("band"),
        col("band_hash").as("bandHash"))
      .as[DocBand]
      .groupByKey(r => r.band + ":" + r.bandHash)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(new BandOwnerTracker, TimeMode.None(), OutputMode.Update())
  }

  case class TransitionPair(userId: Long, fromType: String, toType: String)
  case class LastType(lastType: String)

  /** Streaming counterpart of [[graft.ops.Temporal.transitionMatrix]]'s
    * pair extraction: keyed state holds only the LAST event type per key
    * (one string — O(1) state), and each arriving event completes and
    * emits one (from → to) transition. Pairs spanning micro-batch
    * boundaries are carried by the state, so the emitted multiset equals
    * the batch lead-window pass over the same feed (batch-parity spec).
    * A watermarked groupBy count over the emitted pairs is the live
    * transition matrix numerator; the per-from normalization stays a
    * downstream aggregate exactly as in the batch operator.
    */
  class TransitionTracker
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, TransitionPair] {
    @transient private var last: org.apache.spark.sql.streaming.ValueState[LastType] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      last = getHandle.getValueState[LastType]("last",
        org.apache.spark.sql.Encoders.product[LastType],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TransitionPair] = {
      // (ts, eventId) — the batch transitionMatrix's (ts, tieCol) order;
      // a (ts, eventType) sort would flip same-second pairs vs batch
      // (the LastTouchTracker lesson, ADVICE r8)
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId))
      var prev = if (last.exists()) last.get().lastType else null
      val out = scala.collection.mutable.ArrayBuffer.empty[TransitionPair]
      sorted.foreach { e =>
        if (prev != null) out += TransitionPair(key, prev, e.eventType)
        prev = e.eventType
      }
      if (prev != null) last.update(LastType(prev))
      out.iterator
    }
  }

  /** Wire [[TransitionTracker]] over a stream of [[TypedEvent]]s. */
  def transitionStream(ds: Dataset[TypedEvent])(
      implicit enc: org.apache.spark.sql.Encoder[TransitionPair]): Dataset[TransitionPair] = {
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new TransitionTracker, TimeMode.None(), OutputMode.Append())
  }

  case class ClosedIsland(userId: Long, startSec: Long, endSec: Long)
  case class OpenIsland(startSec: Long, endSec: Long)

  /** Streaming counterpart of [[graft.ops.Temporal.intervalMerge]]: keyed
    * state holds the ONE currently-open island `[start, end)` per key
    * (two longs — O(1) state). Each event opens `[s, s+durSec)`; an event
    * with `s > end` CLOSES the open island (emitting it, append mode) and
    * starts a new one; otherwise it extends `end = max(end, s+durSec)`.
    * Assumes the per-key feed arrives in event-time order across batches
    * (within a batch rows are sorted; a late event belongs in front of a
    * closed island and would need watermark-delayed emission — compose
    * with a watermark upstream for that). The emitted multiset equals the
    * batch operator's islands MINUS the still-open last island per key —
    * exactly the suffix a stream cannot know is finished (batch-parity
    * spec checks both halves of that equality).
    */
  class IntervalMergeTracker(durSec: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, ClosedIsland] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[OpenIsland] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      open = getHandle.getValueState[OpenIsland]("open",
        org.apache.spark.sql.Encoders.product[OpenIsland],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ClosedIsland] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedIsland]
      var cur = if (open.exists()) open.get() else null
      sorted.foreach { e =>
        val s = e.ts.getTime / 1000L
        if (cur == null) cur = OpenIsland(s, s + durSec)
        else if (s > cur.endSec) {
          out += ClosedIsland(key, cur.startSec, cur.endSec)
          cur = OpenIsland(s, s + durSec)
        } else cur = OpenIsland(cur.startSec, math.max(cur.endSec, s + durSec))
      }
      if (cur != null) open.update(cur)
      out.iterator
    }
  }

  /** Wire [[IntervalMergeTracker]] over a stream of [[SessionEvent]]s. */
  def intervalMergeStream(ds: Dataset[SessionEvent], durSec: Long)(
      implicit enc: org.apache.spark.sql.Encoder[ClosedIsland]): Dataset[ClosedIsland] = {
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new IntervalMergeTracker(durSec), TimeMode.None(), OutputMode.Append())
  }

  def idempotentBatchSink(basePath: String)(batch: DataFrame, batchId: Long): Unit = {
    val hc = batch.sparkSession.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"$basePath/batch=$batchId")
    val fs = dir.getFileSystem(hc)
    val marker = new org.apache.hadoop.fs.Path(dir, "_COMMITTED")
    if (!fs.exists(marker)) {
      batch.write.mode("overwrite").parquet(dir.toString)
      fs.create(marker, true).close()
    }
  }

  /** Union of all COMMITTED batch outputs under `basePath` (see
    * [[idempotentBatchSink]]); uncommitted (crashed mid-write) directories
    * are excluded. Listing cost is one driver-side directory scan of batch
    * dirs — O(batches), not O(files).
    */
  def readCommittedBatches(spark: org.apache.spark.sql.SparkSession,
                           basePath: String): DataFrame = {
    val hc = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(hc)
    val committed =
      if (!fs.exists(base)) Array.empty[String]
      else fs.listStatus(base)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .filter(s => fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_COMMITTED")))
        .map(_.getPath.toString)
    if (committed.isEmpty)
      throw new IllegalStateException(s"no committed batches under $basePath")
    spark.read.parquet(committed.toIndexedSeq: _*)
  }

  /** One valued reading of a keyed stream (cents keeps the math integer-
    * exact, the slate's determinism contract). */
  case class ValuedEvent(userId: Long, eventId: Long,
                         ts: java.sql.Timestamp, cents: Long)
  /** A rolling-median emission for one arriving event. */
  case class MedianRow(userId: Long, eventId: Long, rollingMedian: Double)
  /** A cadence-anomaly delta: the gap since this key's previous event
    * exceeded the threshold. */
  case class GapAlert(userId: Long, eventId: Long, gapSeconds: Long)

  /** Bounded trailing frame held as keyed state (product-encoded). */
  case class MedianFrame(values: Seq[Long])

  private class RollingMedianTracker(frameRows: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ValuedEvent, MedianRow] {
    @transient private var frame: org.apache.spark.sql.streaming.ValueState[MedianFrame] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      frame = getHandle.getValueState[MedianFrame]("frame",
        org.apache.spark.sql.Encoders.product[MedianFrame],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[ValuedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[MedianRow] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId))
      var buf: Seq[Long] = if (frame.exists()) frame.get().values else Nil
      val out = scala.collection.mutable.ArrayBuffer.empty[MedianRow]
      sorted.foreach { e =>
        buf = (buf :+ e.cents).takeRight(frameRows)
        val s = buf.sorted.toIndexedSeq
        val n = s.length
        // Spark `percentile(x, 0.5)` interpolation, replayed exactly:
        // position (n−1)/2; fractional → lo + (hi−lo)·0.5 (exact binary
        // on integer-valued doubles — the batch operator's contract)
        val lo = s((n - 1) / 2).toDouble
        val hi = s(n / 2).toDouble
        out += MedianRow(key, e.eventId, lo + (hi - lo) * 0.5)
      }
      frame.update(MedianFrame(buf))
      out.iterator
    }
  }

  /** Streaming counterpart of [[graft.ops.Relational.rollingMedian]]:
    * keyed state holds only the last `frameRows` values (O(frame) longs
    * per key — the same bound the batch window's frame buffer has), and
    * each arriving event emits its trailing-median row. On an in-order
    * feed the emitted rows equal the batch operator's output exactly
    * (batch-parity spec), including the interpolation arithmetic.
    */
  def rollingMedianStream(ds: Dataset[ValuedEvent], frameRows: Int)(
      implicit enc: org.apache.spark.sql.Encoder[MedianRow]): Dataset[MedianRow] = {
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new RollingMedianTracker(frameRows),
        TimeMode.None(), OutputMode.Append())
  }

  private class GapAlertTracker(thresholdSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ValuedEvent, GapAlert] {
    @transient private var lastMs: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      lastMs = getHandle.getValueState[Long]("lastMs",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[ValuedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[GapAlert] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId))
      var prev = if (lastMs.exists()) Some(lastMs.get()) else None
      val out = scala.collection.mutable.ArrayBuffer.empty[GapAlert]
      sorted.foreach { e =>
        // whole-second flooring on both sides — the batch operator's
        // epochSeconds contract, so parity is exact
        prev.foreach { p =>
          val gap = e.ts.getTime / 1000L - p / 1000L
          if (gap > thresholdSeconds) out += GapAlert(key, e.eventId, gap)
        }
        prev = Some(e.ts.getTime)
      }
      prev.foreach(lastMs.update)
      out.iterator
    }
  }

  /** Streaming cadence-anomaly alert — the delta form of
    * [[graft.ops.Temporal.interarrivalStats]]' gap extraction: state is
    * ONE timestamp per key, and each event whose gap since the key's
    * previous event exceeds `thresholdSeconds` emits an alert row the
    * moment it arrives (a batch job would surface it a schedule later —
    * this is the staleness/bot signal as a live feed). Alerts across
    * micro-batch boundaries are exactly the ones per-batch lag could
    * never see; parity vs the batch lag window is spec-checked.
    */
  def gapAlertStream(ds: Dataset[ValuedEvent], thresholdSeconds: Long)(
      implicit enc: org.apache.spark.sql.Encoder[GapAlert]): Dataset[GapAlert] = {
    import org.apache.spark.sql.streaming.TimeMode
    ds.groupByKey(_.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new GapAlertTracker(thresholdSeconds),
        TimeMode.None(), OutputMode.Append())
  }
}
