package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.Temporal

/** SURVEY.md §2.8 F1-F4 + §2.10 incremental semantics, mirroring the
  * reference's get_last_meeting_date branches (main.py:242-267).
  */
class TemporalSpec extends SparkTestBase {
  import spark.implicits._

  test("ISO-8601 offset parse honors the zone (%z semantics, main.py:263-265)") {
    val df = Seq(
      "2023-09-01T10:00:00-07:00", // = 17:00 UTC
      "2023-09-01T10:00:00+00:00",
      "not a timestamp").toDF("s")
    val out = df.select(
      date_format(Temporal.parseIsoOffset($"s"), "yyyy-MM-dd HH:mm:ss")).as[String]
      .collect().toSeq
    assert(out(0) == "2023-09-01 17:00:00") // shifted to UTC
    assert(out(1) == "2023-09-01 10:00:00")
    assert(out(2) == null) // null-safe, no exception
  }

  test("school-year start: Aug 1 of current year if month>6 else previous (main.py:242-249)") {
    val df = Seq("2023-09-15", "2023-03-15", "2023-07-01", "2023-06-30").toDF("d")
    val out = df.select(
      date_format(Temporal.schoolYearStart(to_date($"d")), "yyyy-MM-dd")).as[String]
      .collect().toSeq
    assert(out == Seq("2023-08-01", "2022-08-01", "2023-08-01", "2022-08-01"))
  }

  test("watermark: max+1 day when data present (main.py:251-267 branch 1)") {
    val df = Seq(
      Timestamp.valueOf("2023-09-01 10:00:00"),
      Timestamp.valueOf("2023-09-03 08:00:00")).toDF("ts")
    val out = df.transform(d =>
        Temporal.nextLoadDateWithFallback(d, "ts", to_date(lit("2023-10-01"))))
      .select(date_format($"next_date", "yyyy-MM-dd")).as[String].head()
    assert(out == "2023-09-04")
  }

  test("watermark: school-year fallback when table empty (branch 2)") {
    val df = Seq.empty[Timestamp].toDF("ts")
    val out = df.transform(d =>
        Temporal.nextLoadDateWithFallback(d, "ts", to_date(lit("2023-10-01"))))
      .select(date_format($"next_date", "yyyy-MM-dd")).as[String].head()
    assert(out == "2023-08-01")
  }

  test("tumbling 1-day windows bucket by UTC day") {
    val df = Seq(
      Timestamp.valueOf("2024-01-01 00:10:00"),
      Timestamp.valueOf("2024-01-01 23:59:59"),
      Timestamp.valueOf("2024-01-02 00:00:00")).toDF("ts")
    val out = Temporal.tumblingCounts(df, "ts", "1 day")
      .select(date_format($"window.start", "yyyy-MM-dd"), $"cnt")
      .as[(String, Long)].collect().toMap
    assert(out == Map("2024-01-01" -> 2L, "2024-01-02" -> 1L))
  }

  test("sessionize: gap > threshold starts a new session; boundary gap does not") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    val df = Seq(
      (1L, 1L, ts(0)), (1L, 2L, ts(100)),     // session 1
      (1L, 3L, ts(100 + 1800)),               // gap == 1800 → SAME session
      (1L, 4L, ts(100 + 1800 + 1801)),        // gap > 1800 → new session
      (2L, 5L, ts(0))                          // other user
    ).toDF("user_id", "event_id", "ts")
    val out = Temporal.sessionize(df, "user_id", "ts", "event_id", 1800)
      .select($"user_id", $"session_id", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 3L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("scd2: attribute runs collapse to versioned rows with validity bounds") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(h: Int) = new Timestamp(base + h * 3600L * 1000)
    val df = Seq(
      (1L, 1L, ts(0), "free"),
      (1L, 2L, ts(1), "free"),  // same value → same run
      (1L, 3L, ts(2), "pro"),   // change
      (1L, 4L, ts(3), "free"),  // change back → NEW version (not merged)
      (2L, 5L, ts(0), "pro")).toDF("user_id", "event_id", "ts", "plan")
    val out = Temporal.scd2History(df, "user_id", "plan", "ts", "event_id")
      .select($"user_id", $"plan", $"version", $"is_current")
      .as[(Long, String, Long, Boolean)].collect().toSet
    assert(out == Set(
      (1L, "free", 1L, false),
      (1L, "pro", 2L, false),
      (1L, "free", 3L, true),
      (2L, "pro", 1L, true)))
    // validity bounds chain: version n's valid_to == version n+1's valid_from
    val bounds = Temporal.scd2History(df, "user_id", "plan", "ts", "event_id")
      .filter($"user_id" === 1L).orderBy("version")
      .select($"valid_from".cast("long"), $"valid_to".cast("long"))
      .as[(Long, Option[Long])].collect()
    assert(bounds.sliding(2).forall {
      case Array((_, Some(to)), (from2, _)) => to == from2
      case _ => true
    })
    assert(bounds.last._2.isEmpty)
  }

  test("event funnel: stages advance only strictly forward in time") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // user 1: full ordered conversion
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")),
      (1L, "purchase", ts("2024-01-01 12:00:00")),
      // user 2: click BEFORE the first view → stage stops at 1
      (2L, "click", ts("2024-01-01 09:00:00")),
      (2L, "view", ts("2024-01-01 10:00:00")),
      // user 3: view + click, purchase before click → stage 2
      (3L, "view", ts("2024-01-01 08:00:00")),
      (3L, "purchase", ts("2024-01-01 08:30:00")),
      (3L, "click", ts("2024-01-01 09:00:00")),
      // user 4: never views → excluded from the funnel
      (4L, "purchase", ts("2024-01-01 10:00:00")),
      // user 1 noise: a second, later view must not move t1
      (1L, "view", ts("2024-01-01 23:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val out = Temporal.eventFunnel(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .select("user_id", "stage_reached")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 2L))
    // t1 is the FIRST view even with later views present
    val t1 = Temporal.eventFunnel(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .filter($"user_id" === 1L).select("t1")
      .as[java.sql.Timestamp].head()
    assert(t1 == ts("2024-01-01 10:00:00"))
  }

  test("retention cohorts: first week defines the cohort, offsets count distinct users") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")),  // week 0 cohort
      (1L, ts("2024-01-09 10:00:00")),  // week 1 → offset 1
      (1L, ts("2024-01-10 10:00:00")),  // same week, no double count
      (2L, ts("2024-01-02 10:00:00")),  // week 0 cohort, never returns
      (3L, ts("2024-01-08 10:00:00")),  // week 1 cohort
      (3L, ts("2024-01-22 10:00:00"))   // week 3 → offset 2
    ).toDF("user_id", "ts")
    val out = Temporal.retentionCohorts(events, "user_id", "ts", "2024-01-01")
      .select("cohort_week", "week_offset", "n_users")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set(
      (0L, 0L, 2L),   // users 1, 2 start in week 0
      (0L, 1L, 1L),   // only user 1 returns in week 1
      (1L, 0L, 1L),   // user 3 starts in week 1
      (1L, 2L, 1L)))  // user 3 returns two weeks later
  }

  test("snapshotDiff: added/removed/changed/unchanged incl. null transitions") {
    val old = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (5L, None: Option[String]), (6L, Some("x")), (7L, None: Option[String]))
      .toDF("k", "v")
    val nw = Seq(
      (1L, Some("a")),                // unchanged
      (2L, Some("B")),                // changed
      // 3 removed
      (4L, Some("d")),                // added
      (5L, Some("x")),                // null -> value: changed
      (6L, None: Option[String]),     // value -> null: changed
      (7L, None: Option[String]))     // null -> null: unchanged
      .toDF("k", "v")
    val out = graft.ops.Temporal.snapshotDiff(old, nw, "k", Seq("v"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added",
      5L -> "changed", 6L -> "changed", 7L -> "unchanged"))
    // column-boundary safety of the md5-of-md5s fingerprint: a separator
    // inside a value cannot shift the boundary — ("a|b","c") != ("a","b|c")
    val l = Seq((1L, "a|b", "c")).toDF("k", "x", "y")
    val r = Seq((1L, "a", "b|c")).toDF("k", "x", "y")
    val d = graft.ops.Temporal.snapshotDiff(l, r, "k", Seq("x", "y"))
      .as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "changed"))
  }

  test("topEventPaths: trigram counts respect per-key event-time order") {
    def ev(id: Long, u: Long, t: String, ty: String) =
      (id, u, Timestamp.valueOf(t), ty)
    val df = Seq(
      // user 1: A B C D → ABC, BCD
      ev(1, 1, "2024-01-01 10:00:00", "A"), ev(2, 1, "2024-01-01 10:01:00", "B"),
      ev(3, 1, "2024-01-01 10:02:00", "C"), ev(4, 1, "2024-01-01 10:03:00", "D"),
      // user 2: A B C → ABC (second vote)
      ev(5, 2, "2024-01-01 11:00:00", "A"), ev(6, 2, "2024-01-01 11:01:00", "B"),
      ev(7, 2, "2024-01-01 11:02:00", "C"),
      // user 3: equal timestamps — event_id breaks the tie: X Y Z, not Y X Z
      ev(8, 3, "2024-01-01 12:00:00", "X"), ev(9, 3, "2024-01-01 12:00:00", "Y"),
      ev(10, 3, "2024-01-01 12:00:00", "Z"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.ops.Temporal
      .topEventPaths(df, "user_id", "ts", "event_id", "event_type", k = 10)
      .as[(String, String, String, Long)].collect().toSeq
    assert(got.head == ("A", "B", "C", 2L)) // most frequent path first
    assert(got.toSet == Set(("A", "B", "C", 2L), ("B", "C", "D", 1L),
      ("X", "Y", "Z", 1L)))
  }

  test("scd2Lookup: facts land in the version containing their timestamp") {
    // key 1: A@10:00 -> B@12:00; lookups before/inside/after the boundary
    val dimSrc = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-01 10:00:00"), "A"),
      (2L, 1L, Timestamp.valueOf("2024-01-01 12:00:00"), "B"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val dim = graft.ops.Temporal
      .scd2History(dimSrc, "user_id", "event_type", "ts", "event_id")
      .select($"user_id".as("d_user"), $"event_type".as("dim_type"),
        $"version", $"valid_from", $"valid_to")
    val facts = Seq(
      (10L, 1L, Timestamp.valueOf("2024-01-01 11:59:59")), // inside v1
      (11L, 1L, Timestamp.valueOf("2024-01-01 12:00:00")), // boundary -> v2
      (12L, 1L, Timestamp.valueOf("2024-01-01 09:00:00")), // before v1 -> no match
      (13L, 2L, Timestamp.valueOf("2024-01-01 11:00:00"))) // unknown key
      .toDF("event_id", "user_id", "ts")
    val got = graft.ops.Temporal
      .scd2Lookup(facts, dim, "user_id", "d_user", "ts")
      .select("event_id", "dim_type").as[(Long, Option[String])]
      .collect().toMap
    assert(got == Map(10L -> Some("A"), 11L -> Some("B"),
      12L -> None, 13L -> None))
  }

  test("gapFillDaily: silent days appear with cnt 0; spans are per-key") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 11:00:00")),
      (1L, Timestamp.valueOf("2024-01-04 09:00:00")), // gap: Jan 2, 3
      (2L, Timestamp.valueOf("2024-02-10 00:00:00"))) // different span entirely
      .toDF("user_id", "ts")
    val got = graft.ops.Temporal.gapFillDaily(df, "user_id", "ts")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "2024-01-01", 2L), (1L, "2024-01-02", 0L),
      (1L, "2024-01-03", 0L), (1L, "2024-01-04", 1L),
      (2L, "2024-02-10", 1L)))
  }

  test("topEventPaths: a key with fewer than 3 events contributes nothing") {
    val df = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-01 10:00:00"), "A"),
      (2L, 1L, Timestamp.valueOf("2024-01-01 10:01:00"), "B"))
      .toDF("event_id", "user_id", "ts", "event_type")
    assert(graft.ops.Temporal
      .topEventPaths(df, "user_id", "ts", "event_id", "event_type").isEmpty)
  }

  test("transitionMatrix: a same-second pair orders by the event-id tie-break") {
    def ev(u: Long, t: String, ty: String, id: Long) = (u, Timestamp.valueOf(t), ty, id)
    val df = Seq(
      ev(1L, "2024-01-01 10:00:00", "A", 1L), ev(1L, "2024-01-01 10:01:00", "B", 2L),
      ev(1L, "2024-01-01 10:02:00", "A", 3L),
      ev(2L, "2024-01-01 11:00:00", "C", 4L), ev(2L, "2024-01-01 11:01:00", "A", 5L),
      // same second: event_id says Z then A, so the pair is (Z, A) — a
      // (ts, event_type) order would give (A, Z)
      ev(3L, "2024-01-01 12:00:00", "Z", 6L), ev(3L, "2024-01-01 12:00:00", "A", 7L))
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = Temporal.transitionMatrix(df, "user_id", "ts", "event_id", "event_type")
      .select("from_type", "to_type", "n_transitions")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("A", "B", 1L), ("B", "A", 1L), ("C", "A", 1L),
      ("Z", "A", 1L)))
  }

  test("lastTouchAttribution: a same-second touch ahead in event-id order attributes at zero lag") {
    def ev(u: Long, ty: String, t: String, id: Long) = (u, ty, Timestamp.valueOf(t), id)
    val df = Seq(
      ev(1L, "view", "2024-01-01 00:00:00", 1L),
      ev(1L, "click", "2024-01-01 01:00:00", 2L),
      ev(1L, "purchase", "2024-01-01 01:30:00", 3L), // ← click, 1800 s
      ev(1L, "purchase", "2024-01-03 12:00:00", 4L), // stale → null
      ev(2L, "purchase", "2024-01-01 00:30:00", 5L), // no touch → null
      // same second: the (ts, event_id) order puts the view first, so the
      // purchase is attributed to it ("purchase" < "view", so a
      // (ts, event_type) order would flip it)
      ev(3L, "view", "2024-01-01 02:00:00", 6L),
      ev(3L, "purchase", "2024-01-01 02:00:00", 7L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = Temporal.lastTouchAttribution(df, "user_id", "event_type", "ts",
        "event_id", conversionKind = "purchase", windowSeconds = 86400)
      .as[(Long, Long, Option[String], Option[Long])].collect().toSet
    assert(got == Set((1L, 3L, Some("click"), Some(1800L)), (1L, 4L, None, None),
      (2L, 5L, None, None), (3L, 7L, Some("view"), Some(0L))))
  }
}
