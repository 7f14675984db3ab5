package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.LlmOps
import graft.streaming.StreamingOps

/** Structured Streaming semantics via MemoryStream → memory sink:
  * watermarked tumbling counts, session windows, streaming dedup.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  private def runToCompletion(df: org.apache.spark.sql.DataFrame, name: String,
                              mode: String): Unit = {
    val q = df.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
  }

  test("streaming tumbling counts bucket by event-time day") {
    val input = MemoryStream[(Timestamp, String)]
    input.addData(
      (ts("2024-01-01 01:00:00"), "click"),
      (ts("2024-01-01 02:00:00"), "click"),
      (ts("2024-01-02 01:00:00"), "view"))
    val stream = StreamingOps.tumblingCounts(
      input.toDF().toDF("ts", "event_type"), "ts", "1 day", "1 hour", "event_type")
    runToCompletion(
      stream.select(date_format($"window.start", "yyyy-MM-dd").as("day"), $"event_type", $"cnt"),
      "tumbling", "complete")
    val got = spark.table("tumbling").as[(String, String, Long)].collect().toSet
    assert(got == Set(("2024-01-01", "click", 2L), ("2024-01-02", "view", 1L)))
  }

  test("streaming sliding counts match the batch operator (hopping parity)") {
    val rows = Seq(
      (ts("2024-01-01 06:00:00"), "click"),
      (ts("2024-01-02 06:00:00"), "click"),
      (ts("2024-01-02 07:00:00"), "view"))
    val input = MemoryStream[(Timestamp, String)]
    input.addData(rows: _*)
    val stream = StreamingOps.slidingCounts(
      input.toDF().toDF("ts", "event_type"), "ts", "2 days", "1 day", "1 hour",
      "event_type")
    runToCompletion(
      stream.select(date_format($"window.start", "yyyy-MM-dd").as("ws"),
        $"event_type", $"cnt"),
      "sliding", "complete")
    val got = spark.table("sliding").as[(String, String, Long)].collect().toSet
    val batch = graft.ops.Temporal.slidingCounts(
        rows.toDF("ts", "event_type"), "ts", "2 days", "1 day", "event_type")
      .select(date_format($"window.start", "yyyy-MM-dd").as("ws"),
        $"event_type", $"cnt")
      .as[(String, String, Long)].collect().toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("stream-stream interval join: clicks attribute to purchases within the band") {
    val clicks = MemoryStream[(Long, Long, Timestamp)] // (click_id, user, ts)
    val buys = MemoryStream[(Long, Long, Timestamp)]   // (buy_id, user, ts)
    clicks.addData(
      (1L, 7L, ts("2024-01-01 10:00:00")),
      (2L, 7L, ts("2024-01-01 12:00:00")),  // no purchase within 30m
      (3L, 8L, ts("2024-01-01 10:05:00")))  // other user
    buys.addData(
      (100L, 7L, ts("2024-01-01 10:20:00")), // 20m after click 1 → match
      (101L, 8L, ts("2024-01-01 11:00:00"))) // 55m after click 3 → outside band
    val joined = StreamingOps.intervalJoin(
      clicks.toDF().toDF("click_id", "user_l", "click_ts"), "click_ts", "1 hour",
      buys.toDF().toDF("buy_id", "user_r", "buy_ts"), "buy_ts", "1 hour",
      col("user_l") === col("user_r"),
      bandLeft = "0 seconds", bandRight = "30 minutes")
    runToCompletion(joined.select("click_id", "buy_id"), "attributed", "append")
    val got = spark.table("attributed").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L)))
  }

  test("streaming session windows split on gap") {
    val input = MemoryStream[(Long, Timestamp)]
    input.addData(
      (1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:10:00")), // within 30m gap → same session
      (1L, ts("2024-01-01 02:00:00")), // new session
      (2L, ts("2024-01-01 00:00:00")))
    val stream = StreamingOps.sessionize(
      input.toDF().toDF("user_id", "ts"), "user_id", "ts", "30 minutes", "1 hour")
    runToCompletion(stream, "sessions", "complete")
    val got = spark.table("sessions")
      .select($"user_id", $"n_events").as[(Long, Long)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == Map((1L, 2L) -> 1, (1L, 1L) -> 1, (2L, 1L) -> 1))
  }

  test("streaming calibration curve matches the batch op across micro-batches") {
    val rows1 = Seq((100L, true), (150L, false), (950L, true))
    val rows2 = Seq((250L, false), (1200L, true), (-5L, false))
    val input = MemoryStream[(Long, Boolean)]
    val stream = StreamingOps.calibrationCurveStream(
      input.toDF().toDF("s", "y"), "s", "y", 10)
    val q = stream.writeStream
      .format("memory").queryName("calib").outputMode("complete").start()
    try {
      input.addData(rows1: _*)
      q.processAllAvailable()
      input.addData(rows2: _*)
      q.processAllAvailable()
      val got = spark.table("calib").orderBy("bucket").collect()
      val batch = graft.ops.Stats.calibrationCurve(
        (rows1 ++ rows2).toDF("s", "y"), $"s", $"y", 10)
        .orderBy("bucket").collect()
      assert(got.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming ROC curve: latest emission matches the batch rocCurve (r12)") {
    // two micro-batches; scores clamp to [0,1000] like the stream face,
    // and the LAST emission per threshold must equal Stats.rocCurve over
    // the full clamped prefix. Includes a null label (coalesces false)
    // and an out-of-range score (clamps to 1000).
    val rows1 = Seq((900L, Some(true)), (700L, Some(false)), (900L, Some(true)))
    val rows2 = Seq((400L, Option.empty[Boolean]), (1200L, Some(true)),
      (700L, Some(true)))
    val input = MemoryStream[(Long, Option[Boolean])]
    val stream = StreamingOps.rocCurveStream(
      input.toDF().toDF("s", "y"), "s", "y")
    val q = stream.toDF().writeStream
      .format("memory").queryName("roc").outputMode("update").start()
    try {
      input.addData(rows1: _*)
      q.processAllAvailable()
      input.addData(rows2: _*)
      q.processAllAvailable()
      // update mode appends each emission: the stream-to-date curve is
      // the LAST emission per threshold (n monotonically grows, so the
      // max (tp+fp) row per threshold is the latest)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("threshold")
        .orderBy(col("tp").desc, col("fp").desc)
      val got = spark.table("roc")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .orderBy(col("threshold").desc)
        .collect().map(r => (r.getAs[Long]("threshold"), r.getAs[Long]("tp"),
          r.getAs[Long]("fp"), r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
          r.getAs[Double]("tpr"), r.getAs[Double]("fpr"),
          r.getAs[Double]("precision"))).toSeq
      val clamped = (rows1 ++ rows2)
        .map { case (s, y) => (math.min(math.max(s, 0L), 1000L), y) }
        .toDF("s", "y")
      val batch = graft.ops.Stats.rocCurve(clamped, $"s", $"y")
        .orderBy(col("threshold").desc)
        .collect().map(r => (r.getAs[Long]("threshold"), r.getAs[Long]("tp"),
          r.getAs[Long]("fp"), r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
          r.getAs[Double]("tpr"), r.getAs[Double]("fpr"),
          r.getAs[Double]("precision"))).toSeq
      assert(got == batch, s"stream=$got batch=$batch")
      assert(got.nonEmpty && got.head._1 == 1000L) // 1200 clamped to 1000
    } finally q.stop()
  }

  test("streaming conformal gate applies static thresholds; unknown group fails open") {
    val thr = Seq(("en", Some(500L)), ("fr", Some(300L)), ("de", Option.empty[Long]))
      .toDF("lang", "thr")
    val input = MemoryStream[(String, Long)]
    val stream = StreamingOps.conformalGateStream(
      input.toDF().toDF("lang", "score"), "lang", "score", thr, "lang", "thr")
    val q = stream.writeStream
      .format("memory").queryName("gate").outputMode("append").start()
    try {
      input.addData(("en", 400L), ("en", 600L), ("fr", 300L),
        ("de", 99999L), ("xx", 99999L))
      q.processAllAvailable()
      val got = spark.table("gate")
        .select($"lang", $"score", $"covered")
        .as[(String, Long, Boolean)].collect().toSet
      assert(got == Set(
        ("en", 400L, true), ("en", 600L, false), // ≤ threshold is inclusive
        ("fr", 300L, true),
        ("de", 99999L, true), // null threshold: fail-open
        ("xx", 99999L, true))) // unfitted group: fail-open
    } finally q.stop()
  }

  test("streaming KS/W1 drift against a static reference matches the batch ladder") {
    // window [10:00,11:00) sample A = {1,1,2,5}; reference B = {1:2, 3:1, 5:1}
    val winValues = Seq(1L, 1L, 2L, 5L)
    val refCounts = Map(1L -> 2L, 3L -> 1L, 5L -> 1L)
    val input = MemoryStream[(Timestamp, Long)]
    val stream = StreamingOps.ksDriftStream(
      input.toDF().toDF("ts", "v"), "ts", "v", "1 hour", "1 hour", refCounts)
    val q = stream.writeStream
      .format("memory").queryName("drift").outputMode("append").start()
    try {
      input.addData(winValues.zipWithIndex.map { case (v, i) =>
        (ts(f"2024-01-01 10:${i * 5}%02d:00"), v)
      }: _*)
      q.processAllAvailable()
      // advance the watermark past 11:00 + 1h so the window's timeout fires
      input.addData((ts("2024-01-01 13:30:00"), 9L))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("drift")
        .as[StreamingOps.WindowDrift].collect().toSeq
      assert(got.map(_.window_start.toString) == Seq("2024-01-01 10:00:00.0"))
      val g = got.head

      // batch twin: A rows under cond, reference expanded under !cond
      val batchDf = (winValues.map(v => (v, true)) ++
        refCounts.toSeq.flatMap { case (v, n) => Seq.fill(n.toInt)((v, false)) })
        .toDF("v", "isA")
      val ks = graft.ops.Stats.ksTest(batchDf, $"isA", "v").collect().head
      assert(g.n_a == ks.getAs[Long]("n_a") && g.n_b == ks.getAs[Long]("n_b"))
      assert(g.d_num == ks.getAs[Long]("d_num"))
      assert(g.d == ks.getAs[Double]("d"))
      assert(g.drift_flag == ks.getAs[Boolean]("drift_flag"))
      val w1 = graft.ops.Stats.wasserstein1d(batchDf, $"isA", "v").collect().head
      assert(g.w1_num == w1.getAs[Long]("w1_num"))
      assert(g.w1 == w1.getAs[Double]("w1"))
    } finally q.stop()
  }

  test("transformWithState watermark tracker emits only advancing watermarks") {
    // transformWithState needs multi-column-family state → RocksDB provider
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingOps.SessionEvent]
    val tracked = StreamingOps.trackWatermarks(input.toDS())
    val q = tracked.toDF("user_id", "watermark").writeStream
      .format("memory").queryName("wm").outputMode("update").start()
    try {
      input.addData(
        StreamingOps.SessionEvent(1, ts("2024-01-01 10:00:00")),
        StreamingOps.SessionEvent(1, ts("2024-01-01 11:00:00")),
        StreamingOps.SessionEvent(2, ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      input.addData(
        StreamingOps.SessionEvent(1, ts("2024-01-01 10:30:00")), // late → no emit
        StreamingOps.SessionEvent(2, ts("2024-01-01 12:00:00"))) // advances
      q.processAllAvailable()
      val got = spark.table("wm").as[(Long, Timestamp)].collect().toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2.toString).sorted).toMap
      // user 1: one emission (batch-max 11:00), nothing for the late batch
      assert(got(1L) == Seq("2024-01-01 11:00:00.0"))
      // user 2: initial 09:00 then advanced 12:00
      assert(got(2L) == Seq("2024-01-01 09:00:00.0", "2024-01-01 12:00:00.0"))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming near-dup candidates == batch LSH candidates on an id-ordered feed") {
    // transformWithState needs multi-column-family state → RocksDB provider
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog  "), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
      (4L, "completely different words entirely unrelated text here okay"),
      (5L, "the quick brown fox jumps over the lazy dog"))   // dup again, later batch
    val input = MemoryStream[(Long, String)]
    val stream = StreamingOps.nearDupCandidatesStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = stream.toDF().writeStream
      .format("memory").queryName("near_dup_stream").outputMode("update").start()
    try {
      input.addData(docs.take(3): _*) // batch 1: ids 1..3
      q.processAllAvailable()
      input.addData(docs.drop(3): _*) // batch 2: ids 4..5 — state crosses batches
      q.processAllAvailable()
      val streamed = spark.table("near_dup_stream")
        .select("docId").as[Long].collect().toSet
      // batch replica of the candidate rule: a doc is a candidate iff it
      // shares any LSH band with a SMALLER doc id — computed independently
      // from the same batch banding projection
      val batchDf = docs.toDF("doc_id", "text")
      val sig = batchDf.select($"doc_id",
        graft.ops.LlmOps.minhashPlan($"text", 3, 16).getField("sig").as("__sig"))
      val bandRows = graft.ops.LlmOps.lshBands(sig, "doc_id", "__sig", 4, 4)
        .select($"doc_id", $"band", $"band_hash").as[(Long, Int, String)].collect()
      val expected = bandRows.groupBy(r => (r._2, r._3)).values
        .flatMap { bucket =>
          val minId = bucket.map(_._1).min
          bucket.map(_._1).filter(_ > minId)
        }.toSet
      assert(streamed == expected, s"streamed=$streamed expected=$expected")
      assert(Set(2L, 3L, 5L).subsetOf(streamed)) // the engineered dups surface
      assert(!streamed.contains(4L)) // the unrelated doc never collides
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("left-outer interval join emits null-filled negatives after watermark expiry") {
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    clicks.addData(
      (1L, 7L, ts("2024-01-01 10:00:00")),  // converts
      (2L, 7L, ts("2024-01-01 12:00:00")))  // no purchase in band → negative
    buys.addData(
      (100L, 7L, ts("2024-01-01 10:20:00")))
    val joined = StreamingOps.intervalJoinLeftOuter(
      clicks.toDF().toDF("click_id", "user_l", "click_ts"), "click_ts", "10 minutes",
      buys.toDF().toDF("buy_id", "user_r", "buy_ts"), "buy_ts", "10 minutes",
      col("user_l") === col("user_r"),
      bandLeft = "0 seconds", bandRight = "30 minutes")
    val q = joined.select($"click_id", $"buy_id").writeStream
      .format("memory").queryName("attributed_outer").outputMode("append").start()
    try {
      q.processAllAvailable()
      // push both watermarks far past click 2's band so the engine can
      // prove no match will ever arrive and release the negative
      clicks.addData((99L, 9L, ts("2024-01-02 00:00:00")))
      buys.addData((999L, 9L, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      q.processAllAvailable() // one more cycle: outer results trail eviction
      val got = spark.table("attributed_outer").as[(Long, Option[Long])].collect().toMap
      assert(got(1L) == Some(100L))
      assert(got.contains(2L) && got(2L).isEmpty, s"expected null-filled negative, got $got")
    } finally q.stop()
  }

  test("TTL state: first sight emits, repeat suppresses, key re-emits after expiry") {
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingOps.SessionEvent]
    // TTL is deliberately wide (8s) relative to the suppression check
    // (~2s in): with a tight TTL a loaded CI host could burn the whole
    // window before the repeat event processed, expiring user 1's state
    // and re-emitting — a wall-clock flake (ADVICE r3).
    val out = StreamingOps.firstSightWithTtl(input.toDS(), ttlMs = 8000)
    val q = out.toDF("user_id").writeStream
      .format("memory").queryName("ttl_seen").outputMode("update").start()
    // Processing-time TTL makes the engine schedule continuous eviction
    // micro-batches, so processAllAvailable() never sees an idle stream —
    // poll the sink with a deadline instead.
    def awaitCount(user: Long, n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      def cnt = spark.table("ttl_seen").as[Long].collect().count(_ == user)
      while (cnt < n && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(cnt == n, s"expected $n emissions for user $user, saw $cnt")
    }
    try {
      input.addData(
        StreamingOps.SessionEvent(1, ts("2024-01-01 10:00:00")),
        StreamingOps.SessionEvent(2, ts("2024-01-01 10:00:00")))
      awaitCount(1L, 1); awaitCount(2L, 1)
      input.addData(StreamingOps.SessionEvent(1, ts("2024-01-01 10:01:00"))) // within TTL
      Thread.sleep(1500) // batches keep firing; no re-emission may appear
      awaitCount(1L, 1)  // still exactly one — repeat was suppressed
      Thread.sleep(9000) // let user 1's state expire (TTL 8000ms)
      input.addData(StreamingOps.SessionEvent(1, ts("2024-01-01 10:02:00"))) // re-emits
      awaitCount(1L, 2)  // first sight + post-TTL re-emission
      awaitCount(2L, 1)
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming dedup emits each fingerprint once within the watermark") {
    val input = MemoryStream[(Timestamp, String)]
    input.addData(
      (ts("2024-01-01 00:00:00"), "doc a"),
      (ts("2024-01-01 00:00:01"), "doc a"), // dup
      (ts("2024-01-01 00:00:02"), "doc b"))
    val withFp = input.toDF().toDF("ts", "text")
      .withColumn("fp", graft.ops.LlmOps.fingerprint($"text"))
    val stream = StreamingOps.dedupWithinWatermark(withFp, "ts", "1 hour", Seq("fp"))
    runToCompletion(stream.select($"text"), "deduped", "append")
    val got = spark.table("deduped").as[String].collect().toSeq.sorted
    assert(got == Seq("doc a", "doc b"))
  }

  test("idempotent batch sink: replays are no-ops, partial batches invisible") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val sink = StreamingOps.idempotentBatchSink(base) _
    sink(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    // REPLAY of committed batch 0 with different (corrupt) data: the
    // commit marker makes it a no-op — original rows must survive.
    sink(Seq((99L, "corrupt")).toDF("id", "v"), 0L)
    sink(Seq((3L, "c")).toDF("id", "v"), 1L)
    // crash simulation: batch dir written but no _COMMITTED marker
    Seq((4L, "d")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$base/batch=2")
    val got = StreamingOps.readCommittedBatches(spark, base)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"expected replay ignored and uncommitted batch 2 invisible, got $got")
  }

  test("idempotent batch sink: end-to-end behind foreachBatch") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink_e2e").toString
    val input = MemoryStream[(Long, String)]
    input.addData((10L, "x"), (11L, "y"))
    val q = input.toDF().toDF("id", "v").writeStream
      .foreachBatch(StreamingOps.idempotentBatchSink(base) _)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = StreamingOps.readCommittedBatches(spark, base)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got == Set((10L, "x"), (11L, "y")))
  }

  test("streaming funnel: stages advance across micro-batches, matching batch semantics") {
    import StreamingOps.TypedEvent
    val input = MemoryStream[TypedEvent]
    val q = StreamingOps.funnelStateful(input.toDS(), Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 views; user 2 clicks BEFORE ever viewing (no-op)
      input.addData(
        TypedEvent(1L, "view", ts("2024-01-01 10:00:00")),
        TypedEvent(2L, "click", ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      // batch 2: user 1 clicks (advances); user 2 finally views (stage 1)
      input.addData(
        TypedEvent(1L, "click", ts("2024-01-01 11:00:00")),
        TypedEvent(2L, "view", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // batch 3: user 1 purchases → full conversion; an out-of-order
      // second view for user 1 must NOT regress or re-emit stage 1
      input.addData(
        TypedEvent(1L, "purchase", ts("2024-01-01 12:00:00")),
        TypedEvent(1L, "view", ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val finalStage = spark.table("funnel_out")
        .groupBy("userId").agg(max($"stage").as("s"))
        .as[(Long, Int)].collect().toMap
      assert(finalStage == Map(1L -> 3, 2L -> 1))
      // deltas only: user 1 emitted exactly stages 1, 2, 3 once each
      val u1 = spark.table("funnel_out").filter($"userId" === 1L)
        .select("stage").as[Int].collect().sorted.toSeq
      assert(u1 == Seq(1, 2, 3))
      // matches the batch operator on the same (in-order) event set
      val batch = graft.ops.Temporal.eventFunnel(
        Seq(
          (1L, "view", ts("2024-01-01 10:00:00")),
          (1L, "click", ts("2024-01-01 11:00:00")),
          (1L, "purchase", ts("2024-01-01 12:00:00")),
          (1L, "view", ts("2024-01-01 10:30:00")),
          (2L, "click", ts("2024-01-01 09:00:00")),
          (2L, "view", ts("2024-01-01 10:00:00"))).toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .select("user_id", "stage_reached").as[(Long, Long)].collect().toMap
      assert(batch == Map(1L -> 3L, 2L -> 1L))
    } finally q.stop()
  }

  test("stream-static drift feed: reference broadcast joins windowed counts") {
    val input = MemoryStream[(Timestamp, String)]
    input.addData(
      (ts("2024-01-01 01:00:00"), "click"), (ts("2024-01-01 02:00:00"), "click"),
      (ts("2024-01-01 03:00:00"), "view"),
      (ts("2024-01-01 04:00:00"), "scroll")) // absent from the reference
    val ref = Seq(("click", 0.5), ("view", 0.5)).toDF("cat", "share")
    val stream = StreamingOps.driftAgainstReference(
      input.toDF().toDF("ts", "event_type"), "ts", "event_type",
      "1 day", "1 hour", ref, "cat", "share")
    runToCompletion(
      stream.select(date_format($"window.start", "yyyy-MM-dd").as("day"),
        $"event_type", $"cnt", $"p_ref"),
      "drift_out", "complete")
    val rows = spark.table("drift_out")
      .as[(String, String, Long, Double)].collect().toSet
    assert(rows == Set(
      ("2024-01-01", "click", 2L, 0.5),
      ("2024-01-01", "view", 1L, 0.5),
      ("2024-01-01", "scroll", 1L, 0.0))) // unseen category -> p_ref 0
    // consumer-side drift terms (the documented contract): share - p_ref
    val total = rows.toSeq.map(_._3).sum.toDouble
    val drift = rows.map(r => r._2 -> math.abs(r._3 / total - r._4)).toMap
    assert(math.abs(drift("scroll") - 0.25) < 1e-12)
  }

  test("streaming event paths: trigrams across batch boundaries match the batch window") {
    import StreamingOps.TypedEvent
    val events = Seq(
      TypedEvent(1L, "A", ts("2024-01-01 10:00:00")),
      TypedEvent(1L, "B", ts("2024-01-01 10:01:00")),
      TypedEvent(1L, "C", ts("2024-01-01 10:02:00")),
      TypedEvent(1L, "D", ts("2024-01-01 10:03:00")),
      TypedEvent(2L, "A", ts("2024-01-01 11:00:00")),
      TypedEvent(2L, "B", ts("2024-01-01 11:01:00")),
      TypedEvent(2L, "C", ts("2024-01-01 11:02:00")))
    // transformWithState needs multi-column-family state → RocksDB provider
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[TypedEvent]
    val q = StreamingOps.eventPathsStream(input.toDS())
      .writeStream.format("memory").queryName("paths_out")
      .outputMode("append").start()
    try {
      // split MID-trigram: user 1's (B,C,D) and user 2's (A,B,C) need
      // state carried across the boundary — a per-batch window would
      // never see them
      input.addData(events.take(3): _*)
      q.processAllAvailable()
      input.addData(events.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("paths_out")
        .groupBy("step1", "step2", "step3").count()
        .as[(String, String, String, Long)].collect().toSet
      // batch operator over the same feed (k large = no top-k cut)
      val batch = graft.ops.Temporal.topEventPaths(
          events.map(e => (e.userId, e.ts, e.eventType))
            .toDF("user_id", "ts", "event_type")
            .withColumn("event_id", lit(0L)),
          "user_id", "ts", "event_id", "event_type", k = 100)
        .as[(String, String, String, Long)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got == Set(("A", "B", "C", 2L), ("B", "C", "D", 1L)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming transitions: pairs across batch boundaries match the batch lead window") {
    import StreamingOps.TypedEvent
    val events = Seq(
      TypedEvent(1L, "A", ts("2024-01-01 10:00:00"), 1L),
      TypedEvent(1L, "B", ts("2024-01-01 10:01:00"), 2L),
      TypedEvent(1L, "A", ts("2024-01-01 10:02:00"), 3L),
      TypedEvent(2L, "C", ts("2024-01-01 11:00:00"), 4L),
      TypedEvent(2L, "A", ts("2024-01-01 11:01:00"), 5L),
      // same-second pair: eventId order says Z then A — a type-sorted
      // stream would emit (A,Z), batch (with tieBreak=eventId) emits (Z,A)
      TypedEvent(3L, "Z", ts("2024-01-01 12:00:00"), 6L),
      TypedEvent(3L, "A", ts("2024-01-01 12:00:00"), 7L))
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[TypedEvent]
    val q = StreamingOps.transitionStream(input.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      // split MID-pair: user 1's (B→A) and user 2's (C→A) cross the
      // boundary and exist only because state carries the last type
      input.addData(events.take(2): _*)
      q.processAllAvailable()
      input.addData(events.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("trans_out")
        .groupBy("fromType", "toType").count()
        .as[(String, String, Long)].collect().toSet
      val batch = graft.ops.Temporal.transitionMatrix(
          events.map(e => (e.userId, e.ts, e.eventType, e.eventId))
            .toDF("user_id", "ts", "event_type", "event_id"),
          "user_id", "ts", "event_id", "event_type")
        .select("from_type", "to_type", "n_transitions")
        .as[(String, String, Long)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got == Set(("A", "B", 1L), ("B", "A", 1L), ("C", "A", 1L),
        ("Z", "A", 1L)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming interval merge: closed islands match batch minus the open suffix") {
    import StreamingOps.SessionEvent
    val events = Seq(
      SessionEvent(1L, ts("2024-01-01 00:00:00")), // island A: [0, 600)
      SessionEvent(1L, ts("2024-01-01 00:05:00")), //   extends A to [0, 900)
      SessionEvent(1L, ts("2024-01-01 01:00:00")), // closes A, opens B (stays open)
      SessionEvent(2L, ts("2024-01-01 00:00:00"))) // user 2: one open island
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[SessionEvent]
    val q = StreamingOps.intervalMergeStream(input.toDS(), durSec = 600L)
      .writeStream.format("memory").queryName("islands_out")
      .outputMode("append").start()
    try {
      // split so island A's extension arrives in a later batch than its
      // opening — state must carry the open island across the boundary
      input.addData(events.take(1): _*)
      q.processAllAvailable()
      input.addData(events.drop(1): _*)
      q.processAllAvailable()
      val got = spark.table("islands_out")
        .as[StreamingOps.ClosedIsland].collect().toSet
      // only user 1's first island ever closes; both open suffixes stay
      // in state — exactly the batch islands minus the per-key last one
      val base = ts("2024-01-01 00:00:00").getTime / 1000L
      assert(got == Set(StreamingOps.ClosedIsland(1L, base, base + 900L)))
      // batch twin sees 2 islands for user 1, 1 for user 2: closed set ⊂ batch
      val batch = graft.ops.Temporal.intervalMerge(
          events.map(e => (e.userId, e.ts)).toDF("user_id", "ts")
            .withColumn("event_id", lit(0L)),
          "user_id", "ts", "event_id", 600L)
        .as[(Long, Long, Long)].collect().map { case (k, n, c) => k -> n }.toMap
      assert(batch == Map(1L -> 2L, 2L -> 1L))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming chunk contamination: planted passage quarantined, clean docs pass silently") {
    val passage = (1 to 16).map(i => s"q$i").mkString(" ")
    val benchFps = LlmOps.chunkWindows(
      Seq((100L, passage)).toDF("doc_id", "text"), "doc_id", "text", 16, 8)
      .select("chunk_fp")
    val input = MemoryStream[(Long, String)]
    input.addData(
      (1L, (1 to 8).map(i => s"f$i").mkString(" ") + " " + passage), // aligned plant
      (2L, (1 to 24).map(i => s"c$i").mkString(" ")))                // clean
    val stream = StreamingOps.chunkContaminationStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      benchFps, "chunk_fp", window = 16, stride = 8)
    runToCompletion(stream, "quarantine", "append")
    val got = spark.table("quarantine")
      .select("doc_id", "chunk_id", "start_tok")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty && got.forall(_._1 == 1L))
    assert(got.exists(_._3 == 8L)) // the aligned window at token 8
  }

  test("streaming heavy hitters: MG sketch in complete mode — no false alarms, dominant term surfaces") {
    val input = MemoryStream[String]
    // 60 'spark' + 40 unique singletons: spark's true count 60 >> N/(k+1)
    input.addData(Seq.fill(60)("spark word") ++ (1 to 40).map(i => s"uniq$i"): _*)
    val hh = StreamingOps.heavyHittersStream(input.toDF().toDF("text"), "text", k = 4)
    runToCompletion(hh, "stream_hh", "complete")
    val got = spark.table("stream_hh").as[(String, Long, Long)].collect()
    // exact truth from the batch side of the same data
    val truth = Map("spark" -> 60L, "word" -> 60L) // others are singletons
    val n = 160L // 60*2 + 40 tokens
    assert(got.forall(_._3 == n))
    got.foreach { case (term, est, _) =>
      val exact = truth.getOrElse(term, 1L)
      // one-sided MG guarantees: emitted => TRUE heavy hitter; est <= true
      assert(exact * (4 + 1) > n, s"false alarm: $term")
      assert(est <= exact, s"over-count: $term est=$est exact=$exact")
    }
    assert(got.map(_._1).toSet == Set("spark", "word"))
    // incremental: a second micro-batch shifts mass; complete mode re-emits
    input.addData(Seq.fill(100)("flink joins"): _*)
    runToCompletion(hh, "stream_hh2", "complete")
    val got2 = spark.table("stream_hh2").as[(String, Long, Long)].collect()
    assert(got2.forall(_._3 == 360L))
    assert(got2.map(_._1).toSet.subsetOf(Set("spark", "word", "flink", "joins")))
    assert(got2.map(_._1).toSet.intersect(Set("flink", "joins")).nonEmpty)
  }

  test("streaming per-group heavy hitters: each group gets its own sketch and thresholds") {
    val input = MemoryStream[(String, String)]
    // group A flooded by 'alpha', group B by 'beta', shared singleton tail;
    // group sizes differ so the n/(k+1) thresholds are PER GROUP
    input.addData(
      (Seq.fill(30)(("A", "alpha term")) ++ (1 to 20).map(i => ("A", s"ua$i")) ++
        Seq.fill(10)(("B", "beta word")) ++ (1 to 5).map(i => ("B", s"ub$i"))): _*)
    val hh = StreamingOps.groupHeavyHittersStream(
      input.toDF().toDF("grp", "text"), "grp", "text", k = 4)
    runToCompletion(hh, "stream_ghh", "complete")
    val got = spark.table("stream_ghh").as[(String, String, Long, Long)].collect()
    // exact in-group truth from the batch side of the same data
    val truth = Map(("A", "alpha") -> 30L, ("A", "term") -> 30L,
      ("B", "beta") -> 10L, ("B", "word") -> 10L)
    val nA = 80L // 30*2 + 20 tokens
    val nB = 25L // 10*2 + 5 tokens
    got.foreach { case (g, term, est, n) =>
      assert(n == (if (g == "A") nA else nB), s"group total: $g $n")
      val exact = truth.getOrElse((g, term), 1L)
      // one-sided MG per group: emitted => TRUE in-group heavy hitter
      assert(exact * (4 + 1) > n, s"false alarm: $g/$term")
      assert(est <= exact, s"over-count: $g/$term est=$est exact=$exact")
    }
    assert(got.filter(_._1 == "A").map(_._2).toSet == Set("alpha", "term"))
    assert(got.filter(_._1 == "B").map(_._2).toSet == Set("beta", "word"))
    // cross-group isolation: A's flood never surfaces in B
    assert(!got.exists(r => r._1 == "B" && r._2 == "alpha"))
    // a second micro-batch floods B only; A's hitters are unchanged
    input.addData(Seq.fill(40)(("B", "gamma gamma")): _*)
    runToCompletion(hh, "stream_ghh2", "complete")
    val got2 = spark.table("stream_ghh2").as[(String, String, Long, Long)].collect()
    assert(got2.filter(_._1 == "A").map(_._2).toSet == Set("alpha", "term"))
    assert(got2.filter(_._1 == "B").map(_._2).contains("gamma"))
    assert(got2.filter(_._1 == "B").forall(_._4 == nB + 80L))
  }

  test("streaming rolling median: frames across batch boundaries match batch") {
    import StreamingOps.ValuedEvent
    val events = Seq(
      ValuedEvent(1L, 1L, ts("2024-01-01 00:00:00"), 10L),
      ValuedEvent(1L, 2L, ts("2024-01-01 00:01:00"), 30L),
      ValuedEvent(1L, 3L, ts("2024-01-01 00:02:00"), 20L),
      ValuedEvent(1L, 4L, ts("2024-01-01 00:03:00"), 50L),
      ValuedEvent(2L, 5L, ts("2024-01-01 00:00:00"), 7L))
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[ValuedEvent]
    val q = StreamingOps.rollingMedianStream(input.toDS(), frameRows = 3)
      .writeStream.format("memory").queryName("median_out")
      .outputMode("append").start()
    try {
      // split MID-frame: event 3's frame {10,30,20} spans the boundary —
      // only carried state can produce its median
      input.addData(events.take(2): _*)
      q.processAllAvailable()
      input.addData(events.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("median_out")
        .as[StreamingOps.MedianRow].collect()
        .map(m => m.eventId -> m.rollingMedian).toMap
      val batch = graft.ops.Relational.rollingMedian(
          events.map(e => (e.userId, e.ts, e.eventId, e.cents))
            .toDF("user_id", "ts", "event_id", "cents"),
          "user_id", "ts", "event_id", col("cents"), 3)
        .select("event_id", "rolling_median")
        .as[(Long, Double)].collect().toMap
      assert(got == batch, s"stream $got != batch $batch")
      assert(got(3L) == 20.0 && got(4L) == 30.0) // frame {30,20,50} → 30
      assert(got(2L) == 20.0) // even frame {10,30} → midpoint
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming gap alerts: cross-batch gaps fire; parity with batch lag") {
    import StreamingOps.ValuedEvent
    val events = Seq(
      ValuedEvent(1L, 1L, ts("2024-01-01 00:00:00"), 0L),
      ValuedEvent(1L, 2L, ts("2024-01-01 00:00:30"), 0L), // gap 30 — quiet
      ValuedEvent(1L, 3L, ts("2024-01-01 01:00:00"), 0L), // gap 3570 — alert
      ValuedEvent(2L, 4L, ts("2024-01-01 00:00:00"), 0L)) // first sight — quiet
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[ValuedEvent]
    val q = StreamingOps.gapAlertStream(input.toDS(), thresholdSeconds = 600L)
      .writeStream.format("memory").queryName("gap_out")
      .outputMode("append").start()
    try {
      // the alerting gap spans the batch boundary — state carries last ts
      input.addData(events.take(2): _*)
      q.processAllAvailable()
      input.addData(events.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("gap_out").as[StreamingOps.GapAlert].collect().toSet
      assert(got == Set(StreamingOps.GapAlert(1L, 3L, 3570L)))
      // batch twin: the same gaps via the lag window
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val batch = events.map(e => (e.userId, e.ts, e.eventId))
        .toDF("user_id", "ts", "event_id")
        .withColumn("gap", graft.ops.Ts.epochSeconds(col("ts"))
          - lag(graft.ops.Ts.epochSeconds(col("ts")), 1).over(w))
        .filter(col("gap") > 600L)
        .select("user_id", "event_id", "gap")
        .as[(Long, Long, Long)].collect().toSet
      assert(batch == got.map(a => (a.userId, a.eventId, a.gapSeconds)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming throttle matches the batch lag window across a batch split") {
    import StreamingOps.TypedEvent
    val events = Seq(
      TypedEvent(1L, "click", ts("2024-01-01 10:00:00")),
      TypedEvent(1L, "click", ts("2024-01-01 10:05:00")),  // 300 s → suppressed
      TypedEvent(1L, "view", ts("2024-01-01 10:06:00")),   // first view → kept
      TypedEvent(1L, "click", ts("2024-01-01 10:20:00")),  // 900 s → kept
      TypedEvent(2L, "click", ts("2024-01-01 10:05:30")))  // other user → kept
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[TypedEvent]
    val q = StreamingOps.throttleStream(input.toDS(), minGapSeconds = 600)
      .writeStream.format("memory").queryName("throttle_out")
      .outputMode("append").start()
    try {
      // split INSIDE user 1's click gap: the second click's suppression
      // decision needs the first click's second carried in state
      input.addData(events.take(1): _*)
      q.processAllAvailable()
      input.addData(events.drop(1): _*)
      q.processAllAvailable()
      val got = spark.table("throttle_out")
        .as[StreamingOps.ThrottleDecision].collect()
        .map(d => (d.userId, d.eventType, d.atMs, d.gapSeconds, d.suppressed)).toSet
      val batch = graft.ops.Temporal.throttleEvents(
          events.toDF().withColumn("id", col("ts").cast("long")),
          "userId", "eventType", "ts", "id", minGapSeconds = 600)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2) * 1000,
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.count(_._5) == 1) // exactly the 300 s click suppressed
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming as-of enrich matches the native batch as-of across batch splits") {
    import StreamingOps.TypedEvent
    // probes = clicks/views, references = purchases; includes a
    // same-second (probe, reference) pair — the INCLUSIVE bound — a
    // no-reference-yet probe, and a key with no references at all
    val events = Seq(
      TypedEvent(1L, "click", ts("2024-01-01 00:30:00"), 1L),   // before any ref → null
      TypedEvent(1L, "purchase", ts("2024-01-01 01:00:00"), 2L),
      TypedEvent(1L, "click", ts("2024-01-01 01:00:00"), 3L),   // same-second ref matches
      TypedEvent(1L, "click", ts("2024-01-01 02:00:00"), 4L),   // → 01:00 ref
      TypedEvent(1L, "purchase", ts("2024-01-01 03:00:00"), 5L),
      TypedEvent(1L, "view", ts("2024-01-01 04:00:00"), 6L),    // → 03:00 ref (latest wins)
      TypedEvent(2L, "click", ts("2024-01-01 05:00:00"), 7L))   // keyless of refs → null
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[TypedEvent]
    val q = StreamingOps.asOfEnrichStream(input.toDS(), "purchase")
      .writeStream.format("memory").queryName("asof_enrich_out")
      .outputMode("append").start()
    try {
      // mid-state split: the boundary lands between a reference and the
      // probes that depend on it — state must carry the reference across
      input.addData(events.take(2): _*)
      q.processAllAvailable()
      input.addData(events.slice(2, 5): _*)
      q.processAllAvailable()
      input.addData(events.drop(5): _*)
      q.processAllAvailable()
      val got = spark.table("asof_enrich_out")
        .as[StreamingOps.AsOfEnriched].collect()
        .map(a => a.eventId -> ((a.matchedMs, a.lagSeconds))).toMap
      // batch reference: the native as-of join on the same rows
      val probes = events.filter(_.eventType != "purchase")
        .toDF().select($"userId", $"eventId", $"ts")
      val refs = events.filter(_.eventType == "purchase")
        .toDF().select($"userId".as("r_userId"), $"ts".as("r_ts"))
      val batch = graft.ops.AsOfJoin.asOfNative(probes, refs,
          "userId", "r_userId", "ts", "r_ts")
        .select($"eventId", $"r_ts").collect()
        .map { r =>
          val m = if (r.isNullAt(1)) None
            else Some(r.getTimestamp(1).getTime)
          r.getLong(0) -> ((m, -1L))
        }.toMap
      assert(got.keySet == batch.keySet, s"stream $got != batch keys $batch")
      got.foreach { case (id, (m, lag)) =>
        assert(m == batch(id)._1, s"event $id: stream matched $m != batch ${batch(id)._1}")
        m.foreach(v => assert(lag == (events.find(_.eventId == id).get.ts.getTime - v) / 1000L))
      }
      // the inclusive same-second match and the pre-reference null, explicitly
      assert(got(3L)._1.contains(ts("2024-01-01 01:00:00").getTime))
      assert(got(1L)._1.isEmpty && got(1L)._2 == -1L)
      assert(got(6L)._1.contains(ts("2024-01-01 03:00:00").getTime))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming last-touch attribution matches batch across a batch split") {
    import StreamingOps.TypedEvent
    val events = Seq(
      TypedEvent(1L, "view", ts("2024-01-01 00:00:00"), 1L),
      TypedEvent(1L, "click", ts("2024-01-01 01:00:00"), 2L),
      TypedEvent(1L, "purchase", ts("2024-01-01 01:30:00"), 3L), // ← click 1800 s
      TypedEvent(1L, "purchase", ts("2024-01-03 12:00:00"), 4L), // stale → null
      TypedEvent(2L, "purchase", ts("2024-01-01 00:30:00"), 5L), // no touch → null
      // same-second touch→conversion pair: the (ts, eventId) tie order
      // must attribute the conversion to the simultaneous view, exactly
      // as batch does with tieBreak = eventId ("purchase" < "view"
      // lexicographically, so a (ts, eventType) sort would flip it)
      TypedEvent(3L, "view", ts("2024-01-01 02:00:00"), 6L),
      TypedEvent(3L, "purchase", ts("2024-01-01 02:00:00"), 7L))
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[TypedEvent]
    val q = StreamingOps.lastTouchStream(input.toDS(), "purchase", 86400L)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      // split between the touches and the conversions: attribution state
      // must survive the boundary
      input.addData(events.take(2): _*)
      q.processAllAvailable()
      input.addData(events.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("attr_out")
        .as[StreamingOps.Attribution].collect()
        .map(a => (a.userId, a.atMs, Option(a.attributedTo), a.lagSeconds)).toSet
      // batch reports its tieBreak (eventId) — translate back to ms for
      // the comparison against the stream's atMs
      val msOf = events.map(e => e.eventId -> e.ts.getTime).toMap
      val batch = graft.ops.Temporal.lastTouchAttribution(
          events.toDF(),
          "userId", "eventType", "ts", "eventId",
          conversionKind = "purchase", windowSeconds = 86400)
        .collect()
        .map(r => (r.getLong(0), msOf(r.getLong(1)),
          Option(if (r.isNullAt(2)) null else r.getString(2)),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.exists(t => t._3.contains("click") && t._4 == 1800L))
      // the same-second pair attributed, with zero lag, in BOTH engines
      assert(got.exists(t => t._1 == 3L && t._3.contains("view") && t._4 == 0L))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming as-of enrich: the equal-ts boundary contract (same batch matches, probe-first split misses)") {
    import StreamingOps.TypedEvent
    val pair = Seq(
      TypedEvent(9L, "click", ts("2024-01-01 01:00:00"), 1L),    // probe FIRST in feed order
      TypedEvent(9L, "purchase", ts("2024-01-01 01:00:00"), 2L)) // equal-ts reference
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def run(name: String)(feed: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TypedEvent] => org.apache.spark.sql.streaming.StreamingQuery => Unit): Map[Long, Option[Long]] = {
      val input = MemoryStream[TypedEvent]
      val q = StreamingOps.asOfEnrichStream(input.toDS(), "purchase")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try feed(input)(q) finally q.stop()
      spark.table(name).as[StreamingOps.AsOfEnriched].collect()
        .map(a => a.eventId -> a.matchedMs).toMap
    }
    try {
      // one batch: the in-batch (ts, reference-first) sort makes the
      // simultaneous reference visible — the inclusive bound
      val together = run("asof_eqts_one") { in => q =>
        in.addData(pair: _*); q.processAllAvailable()
      }
      assert(together(1L).contains(ts("2024-01-01 01:00:00").getTime))
      // probe-first SPLIT across batches: the probe was emitted before the
      // reference existed — append mode never revises (the documented
      // non-invariant boundary; asOfNative over the archive backfills it)
      val split = run("asof_eqts_split") { in => q =>
        in.addData(pair.head); q.processAllAvailable()
        in.addData(pair.last); q.processAllAvailable()
      }
      assert(split(1L).isEmpty,
        "probe-first equal-ts split must miss by the documented contract")
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("annEnrichStream: stream-static top-k matches batch ivfTopK on the stored index") {
    import graft.functions.VectorOps
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val (assigned, cents) = VectorOps.ivfIndexStored(emb, "embedding",
      nCells = 8, storeKey = s"stream_ann|$dir", contentTag = None)
    val qvecs = emb.filter($"vec_id" < 4)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // two micro-batch chunks, different event-time windows
    val input = MemoryStream[(Timestamp, Long, Seq[Float])]
    input.addData(qvecs.take(2).map { case (id, v) =>
      (ts("2024-01-01 01:00:00"), id, v) }.toIndexedSeq: _*)
    input.addData(qvecs.drop(2).map { case (id, v) =>
      (ts("2024-01-01 02:30:00"), id, v) }.toIndexedSeq: _*)
    val stream = StreamingOps.annEnrichStream(
      input.toDF().toDF("ts", "qid", "qv"), "qid", "qv", "ts",
      width = "1 hour", delay = "1 hour",
      assigned, cents, "vec_id", "embedding", k = 5, nProbe = 4)
    runToCompletion(stream.select($"qid", $"rank", $"vec_id", $"score"),
      "ann_enrich", "complete")
    val got = spark.table("ann_enrich").as[(Long, Long, Long, Double)]
      .collect().groupBy(_._1)
      .map { case (q, rs) => q -> rs.sortBy(_._2).map(t => (t._3, t._4)).toSeq }
    val want = qvecs.map { case (id, v) =>
      val qv = Seq(v).toDF("__qv")
      id -> VectorOps.ivfTopK(assigned, cents, "embedding", "vec_id", qv,
          k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }.toMap
    assert(got.keySet == want.keySet)
    assert(got == want, "per-query neighbor lists must be bit-identical to batch")
  }

  test("annEnrichStream: string neighbor ids work and score ties break id-ascending (ADVICE r14)") {
    // the r14 tie-break negated the id arithmetically, an analysis error
    // for any non-numeric id type; the comparator sort must order ties by
    // the RAW id ascending for any orderable type
    val centroids = Seq((0, Seq(1.0f, 0.0f))).toDF("__cell", "__centroid")
    val assigned = Seq(
      ("b", Seq(1.0f, 0.0f), 0),
      ("c", Seq(1.0f, 0.0f), 0),
      ("a", Seq(1.0f, 0.0f), 0), // all score 1.0 — pure tie
      ("z", Seq(0.0f, 1.0f), 0)) // orthogonal: always last
      .toDF("doc_id", "embedding", "__cell")
    val input = MemoryStream[(Timestamp, Long, Seq[Float])]
    input.addData((ts("2024-01-01 01:00:00"), 1L, Seq(1.0f, 0.0f)))
    val stream = StreamingOps.annEnrichStream(
      input.toDF().toDF("ts", "qid", "qv"), "qid", "qv", "ts",
      width = "1 hour", delay = "1 hour",
      assigned, centroids, "doc_id", "embedding", k = 3, nProbe = 1)
    runToCompletion(stream.select($"rank", $"doc_id", $"score"),
      "ann_enrich_str", "complete")
    val got = spark.table("ann_enrich_str").as[(Long, String, Double)]
      .collect().sortBy(_._1).map(_._2).toSeq
    assert(got == Seq("a", "b", "c"),
      s"ties must order by the raw string id ascending, got $got")
  }
}
