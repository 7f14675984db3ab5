package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.AsOfJoin

/** The native as-of physical operator (AsOfJoinPlan → AsOfJoinStrategy →
  * AsOfJoinNativeExec): semantics parity with the composed union+window
  * [[AsOfJoin.asOf]], plus plan-shape assertions (the exec is really
  * planned, both sides exchange on their key, sorts are planted by
  * requiredChildOrdering).
  */
class AsOfNativeSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def leftDf = Seq(
    (1L, 10L, ts("2024-01-01 10:00:00")),  // match: trade at 09:59
    (2L, 10L, ts("2024-01-01 09:00:00")),  // no match: before all trades
    (3L, 20L, ts("2024-01-01 12:00:00")),  // tie: trade AT 12:00 matches (inclusive)
    (4L, 30L, ts("2024-01-01 12:00:00")),  // key with no right rows at all
    (5L, 10L, ts("2024-01-01 11:00:00"))   // match: latest of two earlier trades
  ).toDF("id", "key", "t")

  private def rightDf = Seq(
    (100L, 10L, ts("2024-01-01 09:59:00"), 5.0),
    (101L, 10L, ts("2024-01-01 10:30:00"), 6.0),
    (102L, 20L, ts("2024-01-01 12:00:00"), 7.0),
    (103L, 20L, ts("2024-01-01 13:00:00"), 8.0)
  ).toDF("rid", "rkey", "rt", "px")

  test("native as-of matches the composed op row for row (incl. ties and misses)") {
    val native = AsOfJoin.asOfNative(leftDf, rightDf, "key", "rkey", "t", "rt")
      .select($"id", $"rid", $"px")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val composed = AsOfJoin.asOf(leftDf, rightDf, "key", "rkey", "t", "rt")
      .select($"id", $"asof.rid", $"asof.px")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(native == composed, s"native=$native composed=$composed")
    // and the values are the ones the semantics dictate
    assert(native(1L) == (Some(100L), Some(5.0)))
    assert(native(2L) == (None, None))
    assert(native(3L) == (Some(102L), Some(7.0))) // inclusive tie
    assert(native(4L) == (None, None))
    assert(native(5L) == (Some(101L), Some(6.0))) // latest of the two
  }

  test("null keys and null timestamps never match; empty right null-pads") {
    val l = Seq((1L, Option(10L), Option(ts("2024-01-01 10:00:00"))),
      (2L, Option.empty[Long], Option(ts("2024-01-01 10:00:00"))),
      (3L, Option(10L), Option.empty[Timestamp]))
      .toDF("id", "key", "t")
    val r = Seq((100L, Option(10L), Option(ts("2024-01-01 09:00:00"))),
      (101L, Option.empty[Long], Option(ts("2024-01-01 09:00:00"))),
      (102L, Option(10L), Option.empty[Timestamp]))
      .toDF("rid", "rkey", "rt")
    val got = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
      .select($"id", $"rid").as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> Some(100L), 2L -> None, 3L -> None), got.toString)
    // empty right side: every left row survives, null-padded
    val empty = r.filter(lit(false))
    val padded = AsOfJoin.asOfNative(l, empty, "key", "rkey", "t", "rt")
      .select($"id", $"rid").as[(Long, Option[Long])].collect().toMap
    assert(padded == Map(1L -> None, 2L -> None, 3L -> None))
  }

  test("the physical plan is the native exec with per-side exchanges and sorts") {
    val df = AsOfJoin.asOfNative(leftDf, rightDf, "key", "rkey", "t", "rt")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoinNative"), plan)
    assert("hashpartitioning\\(key".r.findFirstIn(plan).isDefined, plan)
    assert("hashpartitioning\\(rkey".r.findFirstIn(plan).isDefined, plan)
    // requiredChildOrdering planted sorts on (key, ts) per side
    assert("Sort \\[key".r.findFirstIn(plan).isDefined, plan)
    assert("Sort \\[rkey".r.findFirstIn(plan).isDefined, plan)
  }

  test("parity on real data: events clicks x purchases at sf0.001") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_event_id"), $"user_id".as("p_user_id"),
        $"ts".as("p_ts"))
    val native = AsOfJoin.asOfNative(clicks, purchases,
        "user_id", "p_user_id", "ts", "p_ts")
      .select($"event_id", $"p_ts")
      .as[(Long, Option[Timestamp])].collect().toMap
    val composed = AsOfJoin.asOf(clicks,
        purchases.toDF("event_id", "user_id", "ts"),
        "user_id", "user_id", "ts", "ts")
      .select($"event_id", $"asof.ts")
      .as[(Long, Option[Timestamp])].collect().toMap
    assert(native.size == composed.size)
    assert(native == composed)
  }

  test("multi-row payload tie at equal (key, ts): native winner == composed winner") {
    // ADVICE r10: two DISTINCT right payloads at the same (key, ts) — the
    // winner must be the composed op's xxhash64-payload pick, not
    // sort-stability or remaining-column-order luck
    val l = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("id", "key", "t")
    val rRows = Seq(
      (200L, 10L, ts("2024-01-01 11:00:00"), "a"),
      (201L, 10L, ts("2024-01-01 11:00:00"), "b"),
      (202L, 10L, ts("2024-01-01 11:00:00"), "c"))
    for (perm <- Seq(rRows, rRows.reverse, Seq(rRows(1), rRows(2), rRows(0)))) {
      val r = perm.toDF("rid", "rkey", "rt", "payload")
      val native = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
        .select($"rid", $"payload").as[(Long, String)].head()
      val composed = AsOfJoin.asOf(l, r, "key", "rkey", "t", "rt")
        .select($"asof.rid", $"asof.payload").as[(Long, String)].head()
      assert(native == composed,
        s"input order $perm: native=$native composed=$composed")
    }
  }

  test("tie at the winning ts does not shadow a later at-or-before row") {
    // rows at 11:00 tie, but 11:30 is still <= left ts and must win
    val l = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("id", "key", "t")
    val r = Seq(
      (200L, 10L, ts("2024-01-01 11:00:00"), "a"),
      (201L, 10L, ts("2024-01-01 11:00:00"), "b"),
      (202L, 10L, ts("2024-01-01 11:30:00"), "late"))
      .toDF("rid", "rkey", "rt", "payload")
    val native = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
      .select($"rid").as[Long].head()
    assert(native == 202L)
  }

  test("asOfNative plans map-typed payloads on the native exec") {
    val l = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("id", "key", "t")
    val r = Seq((200L, 10L, ts("2024-01-01 11:00:00"), Map("k" -> 1)))
      .toDF("rid", "rkey", "rt", "m")
    val native = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
    assert(native.queryExecution.executedPlan.toString.contains("AsOfJoinNative"))
    assert(native.columns.toSeq == l.columns.toSeq ++ r.columns.toSeq)
    assert(native.select($"rid").as[Option[Long]].head().contains(200L))
  }

  test("column pruning reaches the scans below the native exec (r12)") {
    // write both sides as parquet so ReadSchema is observable, join with
    // a WIDE right payload, then select 2 columns — AsOfJoinPruning must
    // push the subset into both scans
    val dir = java.nio.file.Files.createTempDirectory("asof_prune").toString
    leftDf.withColumn("l_extra1", $"id" * 2).withColumn("l_extra2", $"id" * 3)
      .write.mode("overwrite").parquet(s"$dir/l")
    rightDf.withColumn("r_extra1", $"rid" * 2).withColumn("r_extra2", $"rid" * 3)
      .withColumn("r_extra3", $"rid" * 5)
      .write.mode("overwrite").parquet(s"$dir/r")
    val l = spark.read.parquet(s"$dir/l")
    val r = spark.read.parquet(s"$dir/r")
    val pruned = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
      .select($"id", $"px")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoinNative"), plan)
    // right scan must read only {rkey, rt, px} — not rid/r_extra*
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
    assert(reads.exists(s => s.contains("px") && !s.contains("r_extra1")
      && !s.contains("rid")), s"right scan not pruned:\n$plan")
    // left scan must read only {id, key, t} — not l_extra*
    assert(reads.exists(s => s.contains("id") && !s.contains("l_extra1")),
      s"left scan not pruned:\n$plan")
    // and the pruned plan returns the same subset as the full-width one
    val full = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
      .collect().map(x => (x.getAs[Long]("id"), x.getAs[Any]("px"))).toSet
    val sub = pruned.collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[Any]("px"))).toSet
    assert(sub == full)
  }

  test("pruning also reaches scans under Aggregate and Filter consumers (r12)") {
    // Catalyst's generic ColumnPruning inserts a Project above a custom
    // node for Aggregate/Filter consumers; AsOfJoinPruning must then
    // push that subset into the join's children
    val dir = java.nio.file.Files.createTempDirectory("asof_prune2").toString
    leftDf.withColumn("l_extra", $"id" * 2).write.mode("overwrite").parquet(s"$dir/l")
    rightDf.withColumn("r_extra", $"rid" * 2).write.mode("overwrite").parquet(s"$dir/r")
    val l = spark.read.parquet(s"$dir/l")
    val r = spark.read.parquet(s"$dir/r")
    val agg = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
      .groupBy($"key").agg(sum($"px").as("sum_px"))
    val aggPlan = agg.queryExecution.executedPlan.toString
    val aggReads = "ReadSchema: [^\\n]*".r.findAllIn(aggPlan).toList
    assert(aggReads.exists(s => s.contains("px") && !s.contains("r_extra")),
      s"right scan not pruned under Aggregate:\n$aggPlan")
    assert(aggReads.exists(s => s.contains("key") && !s.contains("l_extra")),
      s"left scan not pruned under Aggregate:\n$aggPlan")
    agg.collect() // and it runs

    val filt = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
      .filter($"px" > 0.0).select($"id", $"px")
    val filtReads = "ReadSchema: [^\\n]*".r
      .findAllIn(filt.queryExecution.executedPlan.toString).toList
    assert(filtReads.exists(s => s.contains("px") && !s.contains("r_extra")),
      "right scan not pruned under Filter+Project")
    filt.collect()
  }

  test("pruned tie winner is deterministic across input order (r12)") {
    // at equal (key, ts) the exec hashes the payload AS PRUNED — the
    // visible subset must not depend on partition/sort/input-order luck
    val l = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("id", "key", "t")
    val rRows = Seq(
      (200L, 10L, ts("2024-01-01 11:00:00"), "a"),
      (201L, 10L, ts("2024-01-01 11:00:00"), "b"),
      (202L, 10L, ts("2024-01-01 11:00:00"), "c"))
    val winners = Seq(rRows, rRows.reverse,
      Seq(rRows(1), rRows(2), rRows(0))).map { perm =>
      val r = perm.toDF("rid", "rkey", "rt", "payload")
      AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
        .select($"payload").as[String].head() // prunes rid out
    }
    assert(winners.distinct.size == 1, s"winner depends on input order: $winners")
  }

  test("invariantTies=true: pruned subset select returns the unpruned winner (r14)") {
    // three DISTINCT payloads tie at the winning (key, ts); the unpruned
    // winner is the greatest full-payload hash. Under the conf, every
    // subset projection must surface THAT row's values — and the plan
    // must carry the injected __asof_tie column instead of re-hashing
    // the narrowed payload.
    val l = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("id", "key", "t")
    val r = Seq(
      (200L, 10L, ts("2024-01-01 11:00:00"), "a", 1.0),
      (201L, 10L, ts("2024-01-01 11:00:00"), "b", 2.0),
      (202L, 10L, ts("2024-01-01 11:00:00"), "c", 3.0))
      .toDF("rid", "rkey", "rt", "payload", "px")
    val full = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
      .select($"rid", $"payload", $"px").as[(Long, String, Double)].head()
    withSQLConf("spark.graft.asof.invariantTies" -> "true") {
      val j = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
      val optimized = j.select($"rid").queryExecution.optimizedPlan.toString
      assert(optimized.contains("__asof_tie"), optimized)
      val viaRid = j.select($"rid").as[Long].head()
      val viaPayload = j.select($"payload").as[String].head()
      val viaPx = j.select($"px").as[Double].head()
      assert((viaRid, viaPayload, viaPx) == full,
        s"subset winners ($viaRid,$viaPayload,$viaPx) != unpruned $full")
      // the SQL TVF honors the same conf at resolution time
      l.createOrReplaceTempView("v_tie_l")
      r.createOrReplaceTempView("v_tie_r")
      val sqlPayload = spark.sql(
        "SELECT payload FROM asof_native('v_tie_l','v_tie_r','key','rkey','t','rt')")
      assert(sqlPayload.queryExecution.optimizedPlan.toString
        .contains("__asof_tie"), sqlPayload.queryExecution.optimizedPlan.toString)
      assert(sqlPayload.as[String].head() == full._2)
    }
    // default contract: deterministic per projection (the input-order
    // spec above), but the winner is the greatest KEPT-columns hash —
    // the scans stay pruned (ReadSchema audits elsewhere in this suite)
    val defaultPlan = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
      .select($"rid").queryExecution.optimizedPlan.toString
    assert(!defaultPlan.contains("__asof_tie"), defaultPlan)
  }

  test("invariantTies: MapType payload fails fast; dotted column names hash fine (r14 review)") {
    import org.apache.spark.sql.functions.{col, map, lit}
    val l = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("id", "key", "t")
    withSQLConf("spark.graft.asof.invariantTies" -> "true") {
      // Spark forbids hash expressions over maps, so the planted
      // full-payload hash cannot exist — the opt-in aborts with the
      // documented message instead of a generic mid-plan AnalysisException
      val rMap = Seq((200L, 10L, ts("2024-01-01 11:00:00")))
        .toDF("rid", "rkey", "rt")
        .withColumn("props", map(lit("k"), lit("v")))
      val e = intercept[IllegalArgumentException] {
        AsOfJoin.asOfNative(l, rMap, "key", "rkey", "t", "rt")
      }
      assert(e.getMessage.contains("MapType"), e.getMessage)
      // a payload column whose NAME contains a dot must not be re-parsed
      // as a nested-field path (the tie struct is built from the analyzed
      // plan's output attributes, not col(name) strings)
      val rDot = Seq(
        (200L, 10L, ts("2024-01-01 11:00:00"), 1.5),
        (201L, 10L, ts("2024-01-01 11:00:00"), 2.5))
        .toDF("rid", "rkey", "rt", "price.usd")
      val out = AsOfJoin.asOfNative(l, rDot, "key", "rkey", "t", "rt")
        .select(col("`price.usd`")).as[Double].head()
      assert(Set(1.5, 2.5).contains(out))
    }
    // MapType payloads remain fine under the DEFAULT pruned-tie contract
    // (the unpruned exec's tiebreak is evaluated, not analyzed)
    val rMap = Seq((200L, 10L, ts("2024-01-01 11:00:00")))
      .toDF("rid", "rkey", "rt")
      .withColumn("props", map(lit("k"), lit("v")))
    val ok = AsOfJoin.asOfNative(l, rMap, "key", "rkey", "t", "rt")
      .select($"rid").as[java.lang.Long].head()
    assert(ok == 200L)
  }

  test("plan stats are row-scaled, so a small as-of result auto-broadcasts (r12/r14)") {
    // ~50 KB per side of similar width: the default product estimate
    // (~2.5 GB) would forbid a downstream auto-broadcast; the row-scaled
    // estimate (leftSize + |L|·rightRowWidth ≈ the side sum here) allows it
    val l = spark.range(2000L).select($"id", ($"id" % 50).as("key"),
      ($"id" * 1000).cast("timestamp").as("t"))
    val r = spark.range(2000L).select(($"id" % 50).as("rkey"),
      ($"id" * 900).cast("timestamp").as("rt"), ($"id" * 2).as("px"))
    val j = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
    val jStats = j.queryExecution.optimizedPlan.stats.sizeInBytes
    val lSize = l.queryExecution.optimizedPlan.stats.sizeInBytes
    val rSize = r.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(jStats <= (lSize + rSize) * 2,
      s"as-of stats $jStats must stay near sum($lSize, $rSize), not a product")
    // a downstream equi-join against a big side auto-broadcasts the
    // as-of result at PLAN time (no hint, no AQE needed)
    val big = spark.range(100000L).select($"id".as("id2"), ($"id" % 50).as("key"))
    val downstream = big.join(j.select($"id", $"key", $"px"), Seq("key"))
    assert(downstream.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      downstream.queryExecution.executedPlan.toString)
  }

  test("wide-right as-of does NOT plan-time broadcast downstream (r14 MEDIUM fix)") {
    // left: many NARROW rows; right: few WIDE rows. True output is one
    // row per LEFT row each carrying the wide right payload — the r12
    // `leftSize + rightSize` estimate missed the |L|·rightWidth term and
    // let a downstream join auto-broadcast a result ~20× the threshold.
    val wideCols = (1 to 60).map(i => ($"id" * i).as(s"w$i"))
    val l = spark.range(40000L).select(($"id" % 50).as("key"),
      ($"id" * 1000).cast("timestamp").as("t"))
    val rCols = ($"id" % 50).as("rkey") +:
      ($"id" * 900).cast("timestamp").as("rt") +: wideCols
    val r = spark.range(50L).select(rCols: _*)
    val j = AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
    val jStats = j.queryExecution.optimizedPlan.stats.sizeInBytes
    val lSize = l.queryExecution.optimizedPlan.stats.sizeInBytes
    val rSize = r.queryExecution.optimizedPlan.stats.sizeInBytes
    // the estimate must see the |L|·rightRowWidth blow-up, not the sum
    assert(jStats > (lSize + rSize) * 4,
      s"as-of stats $jStats must reflect |L|*rightWidth, got ~sum($lSize,$rSize)")
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> (2 * 1024 * 1024).toString) {
      // both downstream sides exceed 2 MB under honest stats → no
      // plan-time broadcast (the r12 estimate sat under the threshold
      // and would have broadcast the multi-MB as-of result)
      val big = spark.range(1000000L).select($"id".as("id2"), ($"id" % 50).as("key"))
      val downstream = big.join(j, Seq("key"))
      val planStr = downstream.queryExecution.executedPlan.toString
      assert(!planStr.contains("BroadcastHashJoin"), planStr)
    }
  }

  test("no pruning when every column is consumed (rule is a no-op)") {
    val df = AsOfJoin.asOfNative(leftDf, rightDf, "key", "rkey", "t", "rt")
    val optimized = df.queryExecution.optimizedPlan.toString
    // full-width consumer: the join's children stay unprojected
    assert(!optimized.contains("Project"), optimized)
  }

  test("asof_native is callable from raw SQL text and plans the native exec (r12)") {
    leftDf.createOrReplaceTempView("v_asof_l")
    rightDf.createOrReplaceTempView("v_asof_r")
    val viaSql = spark.sql(
      """SELECT id, rid, px
         FROM asof_native('v_asof_l', 'v_asof_r', 'key', 'rkey', 't', 'rt')""")
    assert(viaSql.queryExecution.executedPlan.toString.contains("AsOfJoinNative"))
    val got = viaSql.as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val viaApi = AsOfJoin.asOfNative(leftDf, rightDf, "key", "rkey", "t", "rt")
      .select($"id", $"rid", $"px")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == viaApi)
    // bad column name fails analysis with the side named
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM asof_native('v_asof_l','v_asof_r','nope','rkey','t','rt')")
        .collect()
    }
    assert(ex.getMessage.contains("nope"))
    // the 7th argument selects the direction (r12 forward merge)
    val fwd = spark.sql(
      """SELECT id, rid FROM asof_native('v_asof_l', 'v_asof_r',
         'key', 'rkey', 't', 'rt', 'forward')""")
      .as[(Long, Option[Long])].collect().toMap
    val fwdApi = AsOfJoin.asOfForwardNative(leftDf, rightDf, "key", "rkey", "t", "rt")
      .select($"id", $"rid").as[(Long, Option[Long])].collect().toMap
    assert(fwd == fwdApi)
    val badDir = intercept[Exception] {
      spark.sql("SELECT * FROM asof_native('v_asof_l','v_asof_r','key','rkey','t','rt','sideways')")
        .collect()
    }
    assert(badDir.getMessage.contains("sideways"))
  }

  test("forward native as-of matches the composed asOfForward row for row (r12)") {
    // composed asOfForward needs a tolerance; a huge one disables the
    // horizon so both compute the pure earliest-at-or-after semantics
    val native = AsOfJoin.asOfForwardNative(leftDf, rightDf, "key", "rkey", "t", "rt")
      .select($"id", $"rid", $"px")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val composed = AsOfJoin.asOfForward(leftDf, rightDf, "key", "rkey", "t", "rt",
        toleranceSeconds = 10L * 365 * 24 * 3600)
      .select($"id", $"asof.rid", $"asof.px")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(native == composed, s"native=$native composed=$composed")
    // semantics: earliest at-or-after, inclusive ties, null-pad misses
    assert(native(1L) == (Some(101L), Some(6.0))) // 10:00 → 10:30
    assert(native(2L) == (Some(100L), Some(5.0))) // 09:00 → 09:59
    assert(native(3L) == (Some(102L), Some(7.0))) // tie AT 12:00 (inclusive)
    assert(native(4L) == (None, None))            // key with no rights
    assert(native(5L) == (None, None))            // 11:00 key 10: no purchase after...
  }

  test("forward native: equal-ts tie winner matches composed across input orders (r12)") {
    val l = Seq((1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 11:30:00"))).toDF("id", "key", "t")
    val rRows = Seq(
      (200L, 10L, ts("2024-01-01 11:00:00"), "a"),
      (201L, 10L, ts("2024-01-01 11:00:00"), "b"),
      (202L, 10L, ts("2024-01-01 11:00:00"), "c"),
      (203L, 10L, ts("2024-01-01 12:00:00"), "late"))
    for (perm <- Seq(rRows, rRows.reverse, Seq(rRows(2), rRows(0), rRows(3), rRows(1)))) {
      val r = perm.toDF("rid", "rkey", "rt", "payload")
      val native = AsOfJoin.asOfForwardNative(l, r, "key", "rkey", "t", "rt")
        .select($"id", $"rid", $"payload").as[(Long, Long, String)]
        .collect().map(x => x._1 -> (x._2, x._3)).toMap
      val composed = AsOfJoin.asOfForward(l, r, "key", "rkey", "t", "rt",
          toleranceSeconds = 1000000L)
        .select($"id", $"asof.rid", $"asof.payload").as[(Long, Long, String)]
        .collect().map(x => x._1 -> (x._2, x._3)).toMap
      assert(native == composed, s"order $perm: native=$native composed=$composed")
      // left 2 (11:30) must skip the 11:00 tie group and take 12:00
      assert(native.exists { case (id, (rid, _)) => id == 2L && rid == 203L })
    }
  }

  test("forward native: nulls never match; cursor reuse across ascending lefts (r12)") {
    val l = Seq(
      (1L, Option(10L), Option(ts("2024-01-01 09:00:00"))),
      (2L, Option(10L), Option(ts("2024-01-01 09:30:00"))), // same winner reused
      (3L, Option.empty[Long], Option(ts("2024-01-01 09:00:00"))),
      (4L, Option(10L), Option.empty[java.sql.Timestamp]),
      (5L, Option(10L), Option(ts("2024-01-01 23:00:00")))) // past all rights
      .toDF("id", "key", "t")
    val r = Seq(
      (100L, Option(10L), Option(ts("2024-01-01 10:00:00"))),
      (101L, Option.empty[Long], Option(ts("2024-01-01 10:00:00"))),
      (102L, Option(10L), Option.empty[java.sql.Timestamp]))
      .toDF("rid", "rkey", "rt")
    val got = AsOfJoin.asOfForwardNative(l, r, "key", "rkey", "t", "rt")
      .select($"id", $"rid").as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> Some(100L), 2L -> Some(100L), 3L -> None,
      4L -> None, 5L -> None), got.toString)
  }

  test("map-typed right payload: native exec runs and ties deterministically") {
    // the composed op cannot take this input at all (xxhash64 rejects
    // MapType at analysis); the native tiebreak hashes the map value, so
    // the winner is a function of the data, not of partition/sort luck
    val l = Seq((1L, 10L, ts("2024-01-01 12:00:00"))).toDF("id", "key", "t")
    val rRows = Seq(
      (200L, 10L, ts("2024-01-01 11:00:00"), Map("k" -> 1)),
      (201L, 10L, ts("2024-01-01 11:00:00"), Map("k" -> 2)))
    val winners = Seq(rRows, rRows.reverse).map { perm =>
      val r = perm.toDF("rid", "rkey", "rt", "m")
      AsOfJoin.asOfNative(l, r, "key", "rkey", "t", "rt")
        .select($"rid").as[Long].head()
    }
    assert(winners.distinct.size == 1, s"winner depends on input order: $winners")
  }
}
