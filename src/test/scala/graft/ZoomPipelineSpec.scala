package graft

import java.nio.file.Files
import java.time.LocalDate

import graft.pipeline.ZoomPipeline
import graft.sources.PagedApi
import graft.sources.PagedApi.{ApiPage, FixtureClient}

/** End-to-end replay of the reference's flagship flow (SURVEY.md §3.2)
  * against Zoom-shaped JSON fixtures (FIXTURES.md §A): users snapshot,
  * watermarked meetings, anti-join-driven participants/settings, reverse
  * ETL with per-row isolation — then a full rerun asserting idempotence
  * (no dupes; anti-joins drain to zero).
  */
class ZoomPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def fixtures: Map[(String, Option[String]), Seq[ApiPage]] = Map(
    ("users", None) -> Seq(
      ApiPage(Seq(
        """{"id":"u1","first_name":"Ada","last_name":"L","email":"ada@x.org","type":1,"status":"active","pmi":123,"timezone":"UTC","dept":"eng","created_at":"2020-01-01T00:00:00Z","last_login_time":"2023-08-01T00:00:00Z","last_client_version":"5.1","verified":1}""",
        """{"id":"u2","email":"bob@x.org","type":2}"""), Some("1")),
      ApiPage(Seq(
        """{"id":"u3","email":"eve@x.org","type":1,"surprise_field":"dropped"}"""), None)),
    ("meetings", Some("2023-08-01")) -> Seq(
      ApiPage(Seq(
        """{"uuid":"m1","id":101,"topic":"math","start_time":"2023-08-01T10:00:00+00:00","duration":30}""",
        """{"uuid":"m2","id":102,"topic":"bio","start_time":"2023-08-01T11:00:00+00:00","duration":45}"""), None)),
    ("meetings", Some("2023-08-02")) -> Seq(
      ApiPage(Seq(
        """{"uuid":"m3","id":103,"topic":"chem","start_time":"2023-08-02T09:00:00+00:00","duration":60}"""), None)),
    ("participants", Some("m1")) -> Seq(
      ApiPage(Seq(
        """{"id":"p1","user_id":"u1","user_name":"Ada","join_time":"2023-08-01T10:01:00Z","leave_time":"2023-08-01T10:30:00Z"}"""), Some("1")),
      ApiPage(Seq(
        """{"id":"p2","user_id":"u2","user_name":"Bob","join_time":"2023-08-01T10:02:00Z","leave_time":"2023-08-01T10:31:00Z"}"""), None)),
    ("participants", Some("m2")) -> Seq(
      ApiPage(Seq(
        """{"id":"p3","user_id":"u1","user_name":"Ada","join_time":"2023-08-01T11:01:00Z","leave_time":"2023-08-01T11:40:00Z"}"""), None)),
    ("participants", Some("m3")) -> Seq(ApiPage(Seq.empty, None)),
    ("settings", Some("101")) -> Seq(
      ApiPage(Seq("""{"settings":{"enforce_login":true,"waiting_room":false,"authentication_name":"sso"}}"""), None)),
    ("settings", Some("102")) -> Seq(
      ApiPage(Seq("""{"settings":{}}"""), None)),
    ("settings", Some("103")) -> Seq(
      ApiPage(Seq("""{"settings":{"waiting_room":true}}"""), None)),
    ("groups", None) -> Seq(
      ApiPage(Seq(
        """{"id":"g1","name":"Students","total_members":2}""",
        """{"id":"g2","name":"Students","total_members":1}""",
        """{"id":"g3","name":"Staff","total_members":1}"""), None)),
    ("group_members", Some("g1")) -> Seq(
      ApiPage(Seq(
        """{"id":"u1","email":"ada@x.org","first_name":"Ada","last_name":"L","type":1}"""), Some("1")),
      ApiPage(Seq(
        """{"id":"u2","email":"bob@x.org","first_name":"Bob","last_name":"M","type":1}"""), None)),
    ("group_members", Some("g2")) -> Seq(
      ApiPage(Seq(
        """{"id":"u3","email":"eve@x.org","type":2}"""), None)),
    ("group_members", Some("g3")) -> Seq(ApiPage(Seq.empty, None))
  )

  private def freshPipeline(failFirstN: Int = 0) = {
    val wh = Files.createTempDirectory("zoomwh").toString
    val client = new FixtureClient(fixtures, failFirstN = failFirstN)
    (new ZoomPipeline(spark, client, wh, sleep = _ => ()), client)
  }

  test("users snapshot: fixed 13 columns, drift null-filled, extras dropped") {
    val (p, _) = freshPipeline()
    assert(p.loadUsers() == 3L)
    val users = p.table("users")
    assert(users.columns.length == 13)
    assert(!users.columns.contains("surprise_field"))
    val bob = users.filter($"id" === "u2").head()
    assert(bob.getAs[String]("email") == "bob@x.org")
    assert(bob.isNullAt(bob.fieldIndex("first_name"))) // absent → null
  }

  test("flagship §3.2 flow end-to-end, then rerun is a no-op (idempotence)") {
    val (p, client) = freshPipeline()
    val runDate = LocalDate.parse("2023-08-03")

    // meetings: watermark starts at school-year fallback (Aug 1); one call
    // loads every day before runDate and returns the newest
    assert(p.loadMeetings(runDate).contains(LocalDate.parse("2023-08-02")))
    assert(p.loadMeetings(runDate).isEmpty) // caught up → guard skip
    assert(p.table("meetings").count() == 3)

    // participants: anti-join processes all 3 meetings once, then drains
    assert(p.loadParticipants() == 3)
    assert(p.table("participants").count() == 3) // m3 had none
    val m1 = p.table("participants").filter($"meeting_uuid" === "m1")
    assert(m1.count() == 2) // union of 2 pages, literal key injected

    // settings: anti-join on numeric id; nested flatten with null defaults
    assert(p.loadMeetingSettings() == 3)
    val s = p.table("meeting_settings")
    assert(s.count() == 3)
    val s101 = s.filter($"meeting_id" === 101).head()
    assert(s101.getAs[Boolean]("enforce_login"))
    assert(s101.getAs[String]("authentication_name") == "sso")
    val s102 = s.filter($"meeting_id" === 102).head()
    assert(s102.isNullAt(s102.fieldIndex("waiting_room"))) // .get default → null

    // full rerun: nothing changes. 08-01 is loaded; 08-02, whose only
    // meeting m3 has no participants, wrote no day and is still pending, so
    // m3 alone is fetched again and writes nothing
    assert(p.loadMeetings(runDate).isEmpty)
    assert(p.table("participants").select("run_date").distinct().as[java.sql.Date].collect().toSeq ==
      Seq(java.sql.Date.valueOf("2023-08-01")))
    val before = client.fetchCount.get()
    assert(p.loadParticipants() == 1)
    assert(client.fetchCount.get() == before + 1) // m3's one empty page
    assert(p.loadMeetingSettings() == 0)
    assert(p.table("meetings").count() == 3)
    assert(p.table("participants").count() == 3)
    assert(p.table("meeting_settings").count() == 3)
  }

  test("numeric-looking meeting_uuid (123e4567…) round-trips; anti-join drains") {
    import org.apache.spark.sql.types.{DateType, LongType, StringType}
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    // digits and one `e`: partition-value inference would read it as a
    // decimal with a huge exponent; it is a data column of a run_date day
    val uuid = "123e4567000"
    val fx: Map[(String, Option[String]), Seq[ApiPage]] = Map(
      ("meetings", Some("2023-08-01")) -> Seq(ApiPage(Seq(
        s"""{"uuid":"$uuid","id":201,"topic":"math","start_time":"2023-08-01T10:00:00+00:00","duration":30}"""), None)),
      ("participants", Some(uuid)) -> Seq(ApiPage(Seq(
        """{"id":"p1","user_id":"u1","user_name":"Ada","join_time":"2023-08-01T10:01:00Z","leave_time":"2023-08-01T10:30:00Z"}"""), None)))
    val wh = Files.createTempDirectory("zoomwh").toString
    val p = new ZoomPipeline(spark, new FixtureClient(fx), wh, sleep = _ => ())
    failAfter(60.seconds) {
      assert(p.loadMeetings(LocalDate.parse("2023-08-02")).contains(LocalDate.parse("2023-08-01")))
      assert(p.loadParticipants() == 1)
      val parts = p.table("participants")
      assert(parts.schema("meeting_uuid").dataType == StringType)
      assert(parts.select("meeting_uuid", "id").as[(String, String)].collect().toSeq ==
        Seq((uuid, "p1")))
      assert(p.loadParticipants() == 0) // the anti-join drains to zero
      assert(p.loadMeetingSettings() == 1)
      assert(p.table("meeting_settings").schema("meeting_id").dataType == LongType)
      assert(p.table("meetings").schema("run_date").dataType == DateType)
    }
  }

  test("--users flow: groups snapshot, per-group members, A4 first-match pick") {
    val (p, _) = freshPipeline()
    // groups snapshot (S3 single-shot, main.py:125-135)
    assert(p.loadGroups() == 3L)
    assert(p.table("groups").count() == 3)

    // per-group member pages with parent-key injection (main.py:149-170)
    assert(p.loadGroupMembers() == 3L) // g1: 2 (two pages), g2: 1, g3: 0
    val members = p.table("group_members")
    assert(members.filter($"group_id" === "g1").count() == 2)
    assert(members.filter($"group_id" === "g2").count() == 1)
    assert(members.filter($"group_id" === "g1" && $"id" === "u2")
      .select("email").as[String].head() == "bob@x.org")

    // A4 first-match pick (_get_group_ids("Students")[0], main.py:186):
    // two groups named Students → deterministic first by sorted id
    assert(p.firstGroupId("Students").contains("g1"))
    assert(p.firstGroupId("Nonexistent").isEmpty)
    assert(p.groupIds() == Seq("g1", "g2", "g3"))

    // rerun converges: same counts, no duplicates (partition overwrite)
    assert(p.loadGroups() == 3L)
    assert(p.loadGroupMembers() == 3L)
    assert(p.table("group_members").count() == 3)

    // reverse ETL composes with the pick, mirroring create_student_accounts
    val students = Seq("new1@x.org", "new2@x.org").toDF("email")
    val target = p.firstGroupId("Students").get
    var added = List.empty[(String, String)]
    val (ok, failed) = p.createStudentAccounts(students, row =>
      added ::= (target, row.getAs[String]("email")))
    assert(ok == 2 && failed == 0)
    assert(added.toSet == Set(("g1", "new1@x.org"), ("g1", "new2@x.org")))
  }

  test("transient fetch failure is retried at page level; load still exact") {
    val (p, client) = freshPipeline(failFirstN = 1)
    assert(p.loadUsers() == 3L) // first fetch fails, retry succeeds, no dupes
    assert(client.fetchCount.get() == 2) // 2 successful page fetches
  }

  test("rate limit (429) pauses then proceeds without consuming a retry") {
    val client = new FixtureClient(fixtures, rateLimitEvery = 2)
    var slept = 0L
    val page = PagedApi.fetchWithRetry(client, "users", None, None,
      maxAttempts = 1, sleep = slept += _)
    // first call ok; make the second call hit the 429 then succeed
    PagedApi.fetchWithRetry(client, "users", None, Some("1"),
      maxAttempts = 1, sleep = slept += _)
    assert(slept > 0) // backoff happened though maxAttempts was 1
  }

  test("permanent rate limiting fails loudly instead of hanging forever") {
    val alwaysLimited = new PagedApi.PagedApiClient {
      def fetchPage(entity: String, key: Option[String], token: Option[String]) =
        throw new PagedApi.RateLimitedError(1)
    }
    val e = intercept[PagedApi.TransientApiError] {
      PagedApi.fetchWithRetry(alwaysLimited, "users", None, None,
        maxRateLimitPauses = 3, sleep = _ => ())
    }
    assert(e.getMessage.contains("rate-limited"))
  }

  test("runner: flag dispatch runs selected stage groups; notifier fires once on success") {
    import graft.pipeline.ZoomRunner
    val (p, _) = freshPipeline()
    var reports = List.empty[ZoomRunner.JobReport]
    val rec = new ZoomRunner.Notifier {
      def notify(r: ZoomRunner.JobReport): Unit = reports ::= r
    }
    val flags = ZoomRunner.parseFlags(Seq("--users", "--meetings"))
    val report = ZoomRunner.run(p, flags, LocalDate.parse("2023-08-03"), rec)
    assert(report.success && report.errorMessage.isEmpty)
    assert(report.stagesRun == Seq("load_users", "load_groups", "load_group_members",
      "load_meetings", "load_participants", "load_meeting_settings"))
    // per-stage elapsed time (timer.py:16-28): one entry per stage run
    assert(report.stageMs.map(_._1) == report.stagesRun)
    assert(report.stageMs.forall(_._2 >= 0))
    assert(reports.size == 1 && reports.head.subjectLine == "Zoom Connector - Success")
    assert(p.table("users").count() == 3 && p.table("meetings").count() == 3)
    // --accounts was NOT selected: no account stage ran
    assert(!report.stagesRun.contains("create_student_accounts"))
  }

  test("runner: a failing stage still notifies exactly once, with the error") {
    import graft.pipeline.ZoomRunner
    val broken = new ZoomPipeline(spark,
      new PagedApi.PagedApiClient {
        def fetchPage(e: String, k: Option[String], t: Option[String]) =
          throw new PagedApi.TransientApiError("api down")
      },
      Files.createTempDirectory("zoombroken").toString, sleep = _ => ())
    var reports = List.empty[ZoomRunner.JobReport]
    val rec = new ZoomRunner.Notifier {
      def notify(r: ZoomRunner.JobReport): Unit = reports ::= r
    }
    val report = ZoomRunner.run(broken, ZoomRunner.JobFlags(users = true),
      LocalDate.parse("2023-08-03"), rec)
    assert(!report.success)
    assert(report.errorMessage.exists(_.contains("api down")))
    assert(reports.size == 1 && reports.head.subjectLine == "Zoom Connector - Error")
    assert(report.bodyText.contains("encountered an error"))
  }

  test("runner: unknown flags fail loudly like argparse") {
    import graft.pipeline.ZoomRunner
    intercept[IllegalArgumentException] { ZoomRunner.parseFlags(Seq("--oops")) }
    assert(ZoomRunner.parseFlags(Seq("--all")) ==
      ZoomRunner.JobFlags(users = true, accounts = true, meetings = true))
  }

  test("reverse ETL isolates per-row failures (main.py:188-194)") {
    val (p, _) = freshPipeline()
    val students = Seq("ada@x.org", "bad@x.org", "eve@x.org").toDF("email")
    val (ok, failed) = p.createStudentAccounts(students, row => {
      if (row.getAs[String]("email").startsWith("bad")) sys.error("409 exists")
    })
    assert(ok == 2 && failed == 1)
  }

  /** One day of `n` meetings (ids beyond the int range), each with two
    * participant pages and one settings record. */
  private def dayOf(n: Int): Map[(String, Option[String]), Seq[ApiPage]] =
    dayWith((1 to n).map(i => f"m$i%02d"))

  /** One day of meetings with these uuids; the i-th (from 0) has id
    * `firstId` + i. */
  private def dayWith(uuids: Seq[String], day: String = "2023-08-01",
                      firstId: Long = 3000000001L): Map[(String, Option[String]), Seq[ApiPage]] = {
    val ids = uuids.indices.map(firstId + _)
    def part(p: Int) =
      s"""{"id":"p$p","user_id":"u$p","user_name":"U$p","meeting_uuid":"stale","join_time":"${day}T10:0$p:00Z"}"""
    val meetings = uuids.zip(ids).map { case (u, id) =>
      s"""{"uuid":"$u","id":$id,"topic":"t","start_time":"${day}T10:00:00+00:00","duration":30}"""
    }
    Map[(String, Option[String]), Seq[ApiPage]](
      ("meetings", Some(day)) -> Seq(ApiPage(meetings, None))) ++
      uuids.map(u => ("participants", Option(u)) ->
        Seq(ApiPage(Seq(part(1), part(2)), Some("1")), ApiPage(Seq(part(3)), None))) ++
      ids.map(id => ("settings", Option(id.toString)) ->
        Seq(ApiPage(Seq("""{"settings":{"waiting_room":true}}"""), None)))
  }

  test("keyed loads write one job per batch: 3 and 30 keys launch the same jobs") {
    def load(n: Int): Int = {
      val wh = Files.createTempDirectory("zoomwh").toString
      val p = new ZoomPipeline(spark, new FixtureClient(dayOf(n)), wh, sleep = _ => ())
      assert(p.loadMeetings(LocalDate.parse("2023-08-02")).isDefined)
      val jobs = jobsLaunched {
        assert(p.loadParticipants() == n)
        assert(p.loadMeetingSettings() == n)
      }
      val parts = p.table("participants")
      assert(parts.count() == 3L * n)
      // the key column, not the JSON's meeting_uuid, is the meeting_uuid
      assert(parts.filter($"meeting_uuid" === "m01").count() == 3)
      assert(p.table("meeting_settings").select("meeting_id").as[Long].collect().sorted.toSeq ==
        (1 to n).map(3000000000L + _))
      // each table holds the day in one file
      for (t <- Seq("participants", "meeting_settings"))
        assert(new java.io.File(wh, s"$t/run_date=2023-08-01").list().count(_.startsWith("part-")) == 1, t)
      jobs
    }
    assert(load(3) == load(30))
  }

  /** Each key its own unit, as group members are loaded. */
  private def perKey(keys: String*): Seq[(String, Seq[String])] = keys.map(k => k -> Seq(k))

  test("loadKeyed: batches end at the bound, never inside a key; rows are the same") {
    val (p, _) = freshPipeline()
    val records = Map("a" -> Seq("1", "2"), "b" -> Seq.empty, "c" -> Seq("3"), "d" -> Seq("4", "5", "6"))
    def run(bound: Long): (Int, Seq[(String, String)]) = {
      val out = Files.createTempDirectory("keyed").toString
      var writes = 0
      p.loadKeyed(perKey(records.keys.toSeq.sorted: _*), bound)(records) { batch =>
        writes += 1
        batch.write.mode("overwrite").partitionBy("key").parquet(out)
      }
      (writes, spark.read.parquet(out).select("key", "value").as[(String, String)]
        .collect().toSeq.sorted)
    }
    val (oneBatch, rows) = run(ZoomPipeline.BatchChars)
    assert(oneBatch == 1 && rows.size == 6)
    assert(run(1) == (3, rows)) // a, c and d alone; b has no records
    assert(run(3) == (2, rows)) // a..c = 3 characters, then d
  }

  test("loadKeyed: a fetch failure writes the keys before it; a failed write is not repeated") {
    val (p, _) = freshPipeline()
    var written = Seq.empty[Seq[String]]
    val e = intercept[PagedApi.TransientApiError] {
      p.loadKeyed(perKey("a", "b", "c"))(k =>
        if (k == "b") throw new PagedApi.TransientApiError("b down") else Seq(s"{$k}")
      )(batch => written :+= batch.select("key").as[String].collect().toSeq)
    }
    assert(e.getMessage == "b down" && written == Seq(Seq("a")))

    var writes = 0
    intercept[IllegalStateException] { // the first key's batch fails inside the loop
      p.loadKeyed(perKey("a", "b"), bound = 1)(k => Seq(k)) { _ =>
        writes += 1
        throw new IllegalStateException("disk")
      }
    }
    assert(writes == 1)

    // every key empty: the empty frame is written once; no keys: nothing
    var empties = Seq.empty[Long]
    p.loadKeyed(perKey("a", "b"))(_ => Nil)(batch => empties :+= batch.count())
    p.loadKeyed(perKey())(_ => Nil)(batch => empties :+= batch.count())
    assert(empties == Seq(0L))
  }

  test("a failing participants key leaves the days before it; a rerun completes") {
    import graft.pipeline.ZoomRunner
    // 08-01: m01..m03; 08-02: m04..m06, of which m05 keeps failing
    val fx = dayOf(3) ++ dayWith(Seq("m04", "m05", "m06"), "2023-08-02", 3000000004L)
    val healthy = new FixtureClient(fx)
    val failing = new PagedApi.PagedApiClient {
      def fetchPage(e: String, k: Option[String], t: Option[String]) =
        if (e == "participants" && k.contains("m05")) throw new PagedApi.TransientApiError("m05 down")
        else healthy.fetchPage(e, k, t)
    }
    val wh = Files.createTempDirectory("zoomwh").toString
    val runDate = LocalDate.parse("2023-08-03")
    val report = ZoomRunner.run(new ZoomPipeline(spark, failing, wh, sleep = _ => ()),
      ZoomRunner.JobFlags(meetings = true), runDate, _ => ())
    assert(!report.success && report.errorMessage.exists(_.contains("m05 down")))
    assert(report.stagesRun == Seq("load_meetings"))

    // the complete day before the failing key, and nothing of its own day
    // (m04 was fetched but its day did not complete)
    val p = new ZoomPipeline(spark, healthy, wh, sleep = _ => ())
    assert(p.table("participants").select("meeting_uuid").distinct().as[String].collect().sorted.toSeq ==
      Seq("m01", "m02", "m03"))
    assert(p.loadParticipants() == 3) // the whole of 08-02: m04, m05 and m06
    assert(p.loadParticipants() == 0) // no day is pending
    val parts = p.table("participants")
    assert(parts.count() == 18)
    assert(parts.select("meeting_uuid", "id").distinct().count() == 18)
  }

  /** Fixture client that records every (entity, key) it is asked for. */
  private class RecordingClient(fx: Map[(String, Option[String]), Seq[ApiPage]])
      extends PagedApi.PagedApiClient {
    private val inner = new FixtureClient(fx)
    var requests = Vector.empty[(String, Option[String])]
    def fetchPage(e: String, k: Option[String], t: Option[String]): ApiPage = {
      requests :+= ((e, k))
      inner.fetchPage(e, k, t)
    }
    def keys(entity: String): Seq[Option[String]] = requests.collect { case (`entity`, k) => k }
  }

  test("anti-joins list processed keys: 3 and 40 processed meetings launch the same jobs") {
    // 40 partitions pass Spark's 32-path threshold for a parallel listing job
    def rerun(n: Int): Int = {
      val wh = Files.createTempDirectory("zoomwh").toString
      val p = new ZoomPipeline(spark, new FixtureClient(dayOf(n)), wh, sleep = _ => ())
      assert(p.loadMeetings(LocalDate.parse("2023-08-02")).isDefined)
      assert(p.loadParticipants() == n && p.loadMeetingSettings() == n)
      jobsLaunched {
        assert(p.loadParticipants() == 0)
        assert(p.loadMeetingSettings() == 0)
      }
    }
    assert(rerun(3) == rerun(40))
  }

  test("uncommitted staging and _temporary directories do not mark a meeting processed") {
    val client = new RecordingClient(dayWith(Seq("m1", "m9")))
    val wh = Files.createTempDirectory("zoomwh").toString
    val p = new ZoomPipeline(spark, client, wh, sleep = _ => ())
    assert(p.loadMeetings(LocalDate.parse("2023-08-02")).isDefined)
    // what a job that died before its commit leaves behind
    val staged = java.nio.file.Paths.get(wh, "participants", ".spark-staging-x", "run_date=2023-08-01")
    Files.createDirectories(staged)
    Files.write(staged.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    Files.createDirectories(java.nio.file.Paths.get(wh, "participants", "_temporary", "0", "run_date=2023-08-01"))
    Files.createDirectories(java.nio.file.Paths.get(wh, "meeting_settings", "_temporary", "0", "run_date=2023-08-01"))

    assert(p.loadParticipants() == 2)
    assert(p.loadMeetingSettings() == 2)
    assert(client.keys("participants").distinct == Seq(Some("m1"), Some("m9")))
    assert(p.table("participants").select("meeting_uuid").distinct().as[String].collect().sorted.toSeq ==
      Seq("m1", "m9"))
    assert(p.loadParticipants() == 0 && p.loadMeetingSettings() == 0)
  }

  test("a base64 meeting_uuid with '/', '+' and '==' round-trips; the anti-join drains") {
    val uuid = "aB3/x+Yz9Qk7/Lw=="
    val wh = Files.createTempDirectory("zoomwh").toString
    val p = new ZoomPipeline(spark, new FixtureClient(dayWith(Seq(uuid))), wh, sleep = _ => ())
    assert(p.loadMeetings(LocalDate.parse("2023-08-02")).isDefined)
    assert(p.loadParticipants() == 1)
    assert(p.table("participants").select("meeting_uuid").distinct().as[String].collect().toSeq ==
      Seq(uuid))
    // a data column: the table root holds the day's directory only
    assert(new java.io.File(wh, "participants").list().filter(_.contains("=")).toSeq == Seq("run_date=2023-08-01"))
    assert(p.loadParticipants() == 0)
  }

  test("a meeting without uuid or id is skipped by both keyed stages; no null key is fetched") {
    val fx = dayOf(1) + (("meetings", Some("2023-08-01")) -> Seq(ApiPage(Seq(
      """{"uuid":"m01","id":3000000001,"topic":"t","start_time":"2023-08-01T10:00:00+00:00","duration":30}""",
      """{"topic":"drifted","start_time":"2023-08-01T12:00:00+00:00"}"""), None)))
    val client = new RecordingClient(fx)
    val wh = Files.createTempDirectory("zoomwh").toString
    val p = new ZoomPipeline(spark, client, wh, sleep = _ => ())
    assert(p.loadMeetings(LocalDate.parse("2023-08-02")).isDefined)
    assert(p.table("meetings").count() == 2)
    assert(p.loadMeetingSettings() == 1)
    assert(p.loadParticipants() == 1)
    assert(client.keys("settings") == Seq(Some("3000000001")))
    assert(client.keys("participants").distinct == Seq(Some("m01")))
    assert(p.table("meeting_settings").select("meeting_id").as[Long].collect().toSeq == Seq(3000000001L))
    assert(p.loadMeetingSettings() == 0 && p.loadParticipants() == 0)
  }

  test("a group without an id is skipped by the group lookups and the members load") {
    val client = new RecordingClient(fixtures + (("groups", None) -> Seq(ApiPage(Seq(
      """{"id":"g2","name":"Students","total_members":1}""",
      """{"name":"Students","total_members":5}""",
      """{"id":"g1","name":"Students","total_members":2}"""), None))))
    val p = new ZoomPipeline(spark, client, Files.createTempDirectory("zoomwh").toString, sleep = _ => ())
    assert(p.loadGroups() == 3L)
    assert(p.groupIds() == Seq("g1", "g2"))
    assert(p.firstGroupId("Students").contains("g1"))
    assert(p.loadGroupMembers() == 3L)
    assert(client.keys("group_members").distinct == Seq(Some("g1"), Some("g2")))
  }

  /** A recording client that fails a second fetch of the same meetings
    * day, so a run that loops on a day fails. */
  private def guarded(fx: Map[(String, Option[String]), Seq[ApiPage]]) = new RecordingClient(fx) {
    override def fetchPage(e: String, k: Option[String], t: Option[String]): ApiPage = {
      if (e == "meetings" && keys("meetings").contains(k)) sys.error(s"meetings $k fetched twice")
      super.fetchPage(e, k, t)
    }
  }

  test("runner: a day without meetings is stepped over, never fetched twice") {
    import graft.pipeline.ZoomRunner
    val fx: Map[(String, Option[String]), Seq[ApiPage]] = Map(
      ("meetings", Some("2023-08-01")) -> Seq(ApiPage(Seq(
        """{"uuid":"m1","id":101,"topic":"t","start_time":"2023-08-01T10:00:00+00:00","duration":30}"""), None)),
      ("meetings", Some("2023-08-03")) -> Seq(ApiPage(Seq(
        """{"uuid":"m3","id":103,"topic":"t","start_time":"2023-08-03T10:00:00+00:00","duration":30}"""), None)))
    val wh = Files.createTempDirectory("zoomwh").toString
    val runDate = LocalDate.parse("2023-08-05")
    val first = guarded(fx)
    val p = new ZoomPipeline(spark, first, wh, sleep = _ => ())
    val report = ZoomRunner.run(p, ZoomRunner.JobFlags(meetings = true), runDate, _ => ())
    assert(report.success, report.errorMessage)
    assert(p.table("meetings").select("uuid").as[String].collect().sorted.toSeq == Seq("m1", "m3"))
    assert(first.keys("meetings") ==
      Seq("2023-08-01", "2023-08-02", "2023-08-03", "2023-08-04").map(Option(_)))

    val second = guarded(fx)
    val again = ZoomRunner.run(new ZoomPipeline(spark, second, wh, sleep = _ => ()),
      ZoomRunner.JobFlags(meetings = true), runDate, _ => ())
    assert(again.success, again.errorMessage)
    assert(second.keys("meetings") == Seq(Some("2023-08-04")))
    assert(p.table("meetings").count() == 2)
  }

  test("runner: a day whose only meeting has no start_time is fetched once") {
    import graft.pipeline.ZoomRunner
    val client = guarded(Map(("meetings", Some("2023-08-01")) -> Seq(ApiPage(Seq(
      """{"uuid":"m1","id":101,"topic":"t","duration":30}"""), None))))
    val p = new ZoomPipeline(spark, client, Files.createTempDirectory("zoomwh").toString, sleep = _ => ())
    val report = ZoomRunner.run(p, ZoomRunner.JobFlags(meetings = true), LocalDate.parse("2023-08-03"), _ => ())
    assert(report.success, report.errorMessage)
    assert(client.keys("meetings") == Seq(Some("2023-08-01"), Some("2023-08-02")))
    assert(p.table("meetings").select("uuid").as[String].collect().toSeq == Seq("m1"))
  }

  test("runner: a meeting listed on 08-01 that starts on 08-02 in UTC does not skip 08-02") {
    import graft.pipeline.ZoomRunner
    val fx: Map[(String, Option[String]), Seq[ApiPage]] = Map(
      ("meetings", Some("2023-08-01")) -> Seq(ApiPage(Seq(
        """{"uuid":"m1","id":101,"topic":"t","start_time":"2023-08-01T20:30:00-05:00","duration":30}"""), None)),
      ("meetings", Some("2023-08-02")) -> Seq(ApiPage(Seq(
        """{"uuid":"m2","id":102,"topic":"t","start_time":"2023-08-02T10:00:00-05:00","duration":30}"""), None)))
    val wh = Files.createTempDirectory("zoomwh").toString
    def run(runDate: String) = {
      val client = guarded(fx)
      val report = ZoomRunner.run(new ZoomPipeline(spark, client, wh, sleep = _ => ()),
        ZoomRunner.JobFlags(meetings = true), LocalDate.parse(runDate), _ => ())
      assert(report.success, report.errorMessage)
      client.keys("meetings")
    }
    assert(run("2023-08-02") == Seq(Some("2023-08-01")))
    assert(run("2023-08-03") == Seq(Some("2023-08-02")))
    val p = new ZoomPipeline(spark, new FixtureClient(fx), wh, sleep = _ => ())
    assert(p.table("meetings").select("uuid").as[String].collect().sorted.toSeq == Seq("m1", "m2"))
  }

  /** Raised by [[stopAt]] at its first fetch of its entity. */
  private class FirstFetch extends RuntimeException

  /** A client that throws [[FirstFetch]] when `entity` is first fetched,
    * so a load counts only the work before that fetch. */
  private def stopAt(entity: String, fx: Map[(String, Option[String]), Seq[ApiPage]]) = new PagedApi.PagedApiClient {
    private val inner = new FixtureClient(fx)
    def fetchPage(e: String, k: Option[String], t: Option[String]): ApiPage =
      if (e == entity) throw new FirstFetch else inner.fetchPage(e, k, t)
  }

  test("loadMeetings starts no Spark job before its first fetch, nor when caught up") {
    val fx = dayOf(3)
    val wh = Files.createTempDirectory("zoomwh").toString
    val p = new ZoomPipeline(spark, new FixtureClient(fx), wh, sleep = _ => ())
    val runDate = LocalDate.parse("2023-08-02")
    val stopped = new ZoomPipeline(spark, stopAt("meetings", fx), wh, sleep = _ => ())
    // empty warehouse: the school-year fallback
    assert(jobsLaunched { intercept[FirstFetch](stopped.loadMeetings(runDate)) } == 0)
    assert(p.loadMeetings(runDate).contains(LocalDate.parse("2023-08-01")))
    // a loaded day: the watermark is its run_date partition
    assert(jobsLaunched { intercept[FirstFetch](stopped.loadMeetings(runDate.plusDays(3))) } == 0)
    assert(jobsLaunched { assert(p.loadMeetings(runDate).isEmpty) } == 0)
  }

  test("loadParticipants and loadMeetingSettings start no Spark job before their first fetch") {
    val fx = dayOf(3)
    val wh = Files.createTempDirectory("zoomwh").toString
    assert(new ZoomPipeline(spark, new FixtureClient(fx), wh, sleep = _ => ())
      .loadMeetings(LocalDate.parse("2023-08-02")).isDefined)
    val participants = new ZoomPipeline(spark, stopAt("participants", fx), wh, sleep = _ => ())
    val settings = new ZoomPipeline(spark, stopAt("settings", fx), wh, sleep = _ => ())
    assert(jobsLaunched { intercept[FirstFetch](participants.loadParticipants()) } == 0)
    assert(jobsLaunched { intercept[FirstFetch](settings.loadMeetingSettings()) } == 0)
  }

  test("loadUsers, loadGroups and loadGroupMembers start no Spark job before their first fetch") {
    val wh = Files.createTempDirectory("zoomwh").toString
    for (entity <- Seq("users", "groups"))
      assert(jobsLaunched {
        intercept[FirstFetch] {
          val p = new ZoomPipeline(spark, stopAt(entity, fixtures), wh, sleep = _ => ())
          if (entity == "users") p.loadUsers() else p.loadGroups()
        }
      } == 0, entity)
    assert(new ZoomPipeline(spark, new FixtureClient(fixtures), wh, sleep = _ => ()).loadGroups() == 3L)
    val members = new ZoomPipeline(spark, stopAt("group_members", fixtures), wh, sleep = _ => ())
    assert(jobsLaunched { intercept[FirstFetch](members.loadGroupMembers()) } == 0)
  }

  test("a --users run with a 3-day meetings catch-up launches only its 6 writes; group lookups launch none") {
    import graft.pipeline.ZoomRunner
    val fx = fixtures.filter { case ((e, _), _) => Set("users", "groups", "group_members")(e) } ++ daysOf(3)
    val p = new ZoomPipeline(spark, new FixtureClient(fx), Files.createTempDirectory("zoomwh").toString,
      sleep = _ => ())
    var report: ZoomRunner.JobReport = null
    val jobs = jobsLaunched {
      report = ZoomRunner.run(p, ZoomRunner.JobFlags(users = true, meetings = true), LocalDate.parse("2023-08-04"), _ => ())
    }
    assert(report.success, report.errorMessage)
    // users, groups, group_members, one meetings batch, participants, settings
    assert(jobs == 6)
    assert(jobsLaunched {
      assert(p.groupIds() == Seq("g1", "g2", "g3"))
      assert(p.firstGroupId("Students").contains("g1"))
    } == 0)
    assert(p.table("users").count() == 3 && p.table("groups").count() == 3 && p.table("group_members").count() == 3)
    for (t <- Seq("meetings", "participants", "meeting_settings")) assert(p.table(t).count() == 3, t)
  }

  test("groupIds reads the ids a Spark read of the groups files gives") {
    import org.apache.spark.sql.functions.col
    val wh = Files.createTempDirectory("zoomwh").toString
    val root = s"$wh/groups"
    // two part files: a null id, a null name, duplicate names and a
    // duplicate id; then a file without `name` and one without `id`
    Seq(("g2", "Students"), (null, "Students"), ("g1", null)).toDF("id", "name").coalesce(1).write.parquet(root)
    Seq(("g3", "Staff"), ("g0", "Students"), ("g1", "Students")).toDF("id", "name").coalesce(1)
      .write.mode("append").parquet(root)
    Seq("g9").toDF("id").coalesce(1).write.mode("append").parquet(root)
    Seq("Students").toDF("name").coalesce(1).write.mode("append").parquet(root)
    val names = new java.io.File(root).list().toSeq
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 4, names)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    Files.write(java.nio.file.Paths.get(root, "part-9.parquet._COPYING_"), Array[Byte](1, 2, 3))

    def onSpark(name: Option[String]): Seq[String] = {
      val g = spark.read.schema("id STRING, name STRING").parquet(root)
      name.fold(g)(n => g.filter(col("name") === n))
        .filter(col("id").isNotNull).select("id").as[String].collect().sorted.toSeq
    }
    assert(onSpark(None) == Seq("g0", "g1", "g1", "g2", "g3", "g9"))
    assert(onSpark(Some("Students")) == Seq("g0", "g1", "g2"))
    val p = new ZoomPipeline(spark, new FixtureClient(Map.empty), wh, sleep = _ => ())
    for (n <- Seq(None, Some("Students"), Some("Staff"), Some("Nobody")))
      assert(p.groupIds(n) == onSpark(n), n)
    assert(p.firstGroupId("Students").contains("g0"))
    val empty = new ZoomPipeline(spark, new FixtureClient(Map.empty), Files.createTempDirectory("zoomwh").toString)
    assert(empty.groupIds() == Seq.empty && empty.firstGroupId("Students").isEmpty)
  }

  test("a meetings catch-up failing on day k keeps the days before it; a rerun fetches from day k") {
    val fx = daysOf(5)
    val runDate = LocalDate.parse("2023-08-06")
    val failDay = "2023-08-03"
    val failing = new RecordingClient(fx) {
      override def fetchPage(e: String, k: Option[String], t: Option[String]): ApiPage =
        if (e == "meetings" && k.contains(failDay)) {
          requests :+= ((e, k))
          throw new PagedApi.TransientApiError(s"$failDay down")
        } else super.fetchPage(e, k, t)
    }
    val wh = Files.createTempDirectory("zoomwh").toString
    def committed(root: String) =
      new java.io.File(root, "meetings").list().filter(_.startsWith("run_date=")).sorted.toSeq
    val jobs = jobsLaunched {
      val e = intercept[PagedApi.TransientApiError] {
        new ZoomPipeline(spark, failing, wh, sleep = _ => ()).loadMeetings(runDate)
      }
      assert(e.getMessage.contains(s"$failDay down"))
    }
    assert(jobs == 1) // the days before the failing one, in one batch
    assert(failing.keys("meetings").distinct == Seq("2023-08-01", "2023-08-02", failDay).map(Option(_)))
    assert(committed(wh) == Seq("run_date=2023-08-01", "run_date=2023-08-02"))

    val rerun = new RecordingClient(fx)
    val p = new ZoomPipeline(spark, rerun, wh, sleep = _ => ())
    assert(p.loadMeetings(runDate).contains(LocalDate.parse("2023-08-05")))
    assert(rerun.keys("meetings") == Seq(failDay, "2023-08-04", "2023-08-05").map(Option(_)))
    assert(jobsLaunched { assert(p.loadMeetings(runDate).isEmpty) } == 0)
    assert(rerun.keys("meetings").size == 3) // caught up: nothing fetched

    val whole = Files.createTempDirectory("zoomwh").toString
    val uninterrupted = new ZoomPipeline(spark, new FixtureClient(fx), whole, sleep = _ => ())
    assert(jobsLaunched { assert(uninterrupted.loadMeetings(runDate).contains(LocalDate.parse("2023-08-05"))) } == 1)
    assert(committed(wh) == committed(whole) && committed(wh).size == 5)
    def rows(q: ZoomPipeline) = q.table("meetings").collect().map(_.toString).sorted.toSeq
    assert(rows(p) == rows(uninterrupted))
  }

  /** `days` days from 2023-08-01 with one meeting each (`d01`, `d02`, …),
    * each with one participant and one settings record. */
  private def daysOf(days: Int): Map[(String, Option[String]), Seq[ApiPage]] =
    (1 to days).flatMap { d =>
      val (day, uuid, id) = (LocalDate.parse("2023-08-01").plusDays(d - 1L).toString, f"d$d%02d", 4000000000L + d)
      Seq[((String, Option[String]), Seq[ApiPage])](
        ("meetings", Some(day)) -> Seq(ApiPage(Seq(
          s"""{"uuid":"$uuid","id":$id,"topic":"t","start_time":"${day}T10:00:00+00:00","duration":30}"""), None)),
        ("participants", Some(uuid)) -> Seq(ApiPage(Seq(
          s"""{"id":"p1","user_id":"u1","user_name":"U1","join_time":"${day}T10:01:00Z"}"""), None)),
        ("settings", Some(id.toString)) -> Seq(ApiPage(Seq("""{"settings":{"waiting_room":true}}"""), None)))
    }.toMap

  /** Files read by the file scans of the queries `body` runs. */
  private def filesRead(body: => Unit): Long = {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val files = new java.util.concurrent.atomic.AtomicLong
    val l = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        files.addAndGet(collect(qe.executedPlan) { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    files.get
  }

  test("a daily run on a 4-day and a 40-day warehouse: same jobs, same files read") {
    import graft.pipeline.ZoomRunner
    // 40 days pass Spark's 32-path threshold for a parallel listing job
    def daily(days: Int): (Int, Long) = {
      val first = LocalDate.parse("2023-08-01")
      val p = new ZoomPipeline(spark, new FixtureClient(daysOf(days + 1)),
        Files.createTempDirectory("zoomwh").toString, sleep = _ => ())
      def run(runDate: LocalDate) = {
        val report = ZoomRunner.run(p, ZoomRunner.JobFlags(meetings = true), runDate, _ => ())
        assert(report.success, report.errorMessage)
      }
      run(first.plusDays(days.toLong))
      var files = 0L
      val jobs = jobsLaunched { files = filesRead(run(first.plusDays(days + 1L))) }
      // caught up: both keyed stages list and stop
      assert(jobsLaunched {
        assert(p.loadParticipants() == 0)
        assert(p.loadMeetingSettings() == 0)
      } == 0)
      assert(p.table("meetings").count() == days + 1)
      assert(p.table("participants").count() == days + 1)
      assert(p.table("meeting_settings").count() == days + 1)
      (jobs, files)
    }
    val (jobs, files) = daily(4)
    // the three writes; the keyed stages read the day's keys on the driver
    assert(jobs == 3 && files == 0)
    assert(daily(40) == (jobs, files))
  }

  test("the day's meetings are deduped and written in one job, with no Exchange") {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val retried = """{"uuid":"m02","id":3000000002,"topic":"t","start_time":"2023-08-01T10:00:00+00:00","duration":30}"""
    val fx = dayOf(3) + (("meetings", Some("2023-08-01")) -> Seq(
      ApiPage(dayOf(3)(("meetings", Some("2023-08-01"))).head.records :+ retried, Some("1")),
      ApiPage(Seq(retried), None)))
    val p = new ZoomPipeline(spark, new FixtureClient(fx), Files.createTempDirectory("zoomwh").toString,
      sleep = _ => ())
    var plans = Vector.empty[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans :+= qe.executedPlan.treeString
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val jobs = try jobsLaunched {
      assert(p.loadMeetings(LocalDate.parse("2023-08-02")).contains(LocalDate.parse("2023-08-01")))
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    assert(plans.size == 1 && plans.head.contains("InsertIntoHadoopFsRelationCommand"))
    assert(!plans.head.contains("Exchange"), plans.head)
    assert(jobs == 1)
    assert(p.table("meetings").select("uuid").as[String].collect().sorted.toSeq == Seq("m01", "m02", "m03"))
  }

  test("the driver's school-year fallback matches Temporal.schoolYearStart in every month") {
    import org.apache.spark.sql.functions.{col, date_format, to_date}
    val dates = Seq("2024-01-31", "2024-02-29", "2024-03-01", "2024-04-15", "2024-05-31", "2024-06-30",
      "2024-07-01", "2024-08-01", "2024-09-15", "2024-10-31", "2024-11-30", "2024-12-31")
    val onSpark = dates.toDF("d")
      .select(date_format(graft.ops.Temporal.schoolYearStart(to_date(col("d"))), "yyyy-MM-dd"))
      .as[String].collect().toSeq
    assert(dates.map(d => ZoomPipeline.schoolYearStart(LocalDate.parse(d)).toString) == onSpark)
    assert(onSpark.distinct == Seq("2023-08-01", "2024-08-01"))
  }

  test("loadKeyed: a batch never splits a day; a failure writes the complete days before it") {
    val (p, _) = freshPipeline()
    val days = Seq("d1" -> Seq("a", "b"), "d2" -> Seq("c"), "d3" -> Seq("d", "e"))
    def run(bound: Long, fail: String = ""): Seq[Seq[(String, String)]] = {
      var written = Seq.empty[Seq[(String, String)]]
      try p.loadKeyed(days, bound)(k => if (k == fail) throw new PagedApi.TransientApiError(k) else Seq(k))(
        batch => written :+= batch.select("unit", "key").as[(String, String)].collect().toSeq)
      catch { case _: PagedApi.TransientApiError => () }
      written
    }
    val all = Seq("d1" -> "a", "d1" -> "b", "d2" -> "c", "d3" -> "d", "d3" -> "e")
    assert(run(ZoomPipeline.BatchChars) == Seq(all))
    assert(run(1) == Seq(all.take(2), all.slice(2, 3), all.drop(3))) // one day per batch
    assert(run(2) == Seq(all.take(2), all.drop(2))) // d1 reaches the bound; d2 and d3 then
    assert(run(ZoomPipeline.BatchChars, fail = "e") == Seq(all.take(3))) // d3's d is dropped
    assert(run(ZoomPipeline.BatchChars, fail = "b").isEmpty)
  }

  test("a participants or settings table in the per-meeting layout fails loudly") {
    for ((table, old) <- Seq("participants" -> "meeting_uuid=m01", "meeting_settings" -> "meeting_id=3000000001")) {
      val wh = Files.createTempDirectory("zoomwh").toString
      val p = new ZoomPipeline(spark, new FixtureClient(dayOf(1)), wh, sleep = _ => ())
      assert(p.loadMeetings(LocalDate.parse("2023-08-02")).isDefined)
      Files.createDirectories(java.nio.file.Paths.get(wh, table, old))
      val e = intercept[IllegalStateException] {
        if (table == "participants") p.loadParticipants() else p.loadMeetingSettings()
      }
      assert(e.getMessage.contains(s"$table/$old"), e.getMessage)
      assert(!Files.exists(java.nio.file.Paths.get(wh, table, "run_date=2023-08-01")))
    }
  }

  test("a meeting without participants on a loaded day is not fetched again; an empty day is") {
    // 08-01: m1 with participants, m2 without; 08-02: m3 without
    val fx = dayWith(Seq("m1", "m2")) ++ dayWith(Seq("m3"), "2023-08-02", 3000000003L) ++
      Seq("m2", "m3").map(u => ("participants", Option(u)) -> Seq(ApiPage(Seq.empty, None)))
    val client = new RecordingClient(fx)
    val p = new ZoomPipeline(spark, client, Files.createTempDirectory("zoomwh").toString, sleep = _ => ())
    while (p.loadMeetings(LocalDate.parse("2023-08-03")).isDefined) ()
    assert(p.loadParticipants() == 3)
    assert(p.loadParticipants() == 1) // 08-02 wrote no day: m3 again, m2 not
    assert(client.keys("participants").count(_.contains("m1")) == 2) // its two pages, once
    assert(client.keys("participants").count(_.contains("m2")) == 1)
    assert(client.keys("participants").count(_.contains("m3")) == 2)
    assert(p.table("participants").select("meeting_uuid").distinct().as[String].collect().toSeq == Seq("m1"))
  }

  test("a meeting listed on two days is loaded under each day") {
    val fx = dayWith(Seq("m1")) ++ dayWith(Seq("m1"), "2023-08-02")
    val client = new RecordingClient(fx)
    val p = new ZoomPipeline(spark, client, Files.createTempDirectory("zoomwh").toString, sleep = _ => ())
    while (p.loadMeetings(LocalDate.parse("2023-08-03")).isDefined) ()
    assert(p.table("meetings").count() == 2)
    assert(p.loadParticipants() == 2 && p.loadMeetingSettings() == 2)
    assert(client.keys("settings") == Seq(Some("3000000001"), Some("3000000001")))
    val parts = p.table("participants")
    assert(parts.count() == 6)
    assert(parts.groupBy("run_date").count().as[(java.sql.Date, Long)].collect().sortBy(_._1.toString).toSeq ==
      Seq(java.sql.Date.valueOf("2023-08-01") -> 3L, java.sql.Date.valueOf("2023-08-02") -> 3L))
    assert(p.table("meeting_settings").select("meeting_id").as[Long].collect().toSeq ==
      Seq(3000000001L, 3000000001L))
  }

  test("the keyed stages fetch the distinct non-null keys a Spark read of the day gives") {
    import org.apache.spark.sql.functions.col
    val wh = Files.createTempDirectory("zoomwh").toString
    val day = s"$wh/meetings/run_date=2023-08-01"
    val base64 = "aB3/x+Yz9Qk7/Lw=="
    def meeting(uuid: String, id: java.lang.Long) = org.apache.spark.sql.Row(uuid, id, "t", null, 30)
    def write(rows: org.apache.spark.sql.Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), graft.schemas.Schemas.meetings)
    // two part files, the second a retried page that repeats two meetings
    write(meeting("m2", 3000000002L), meeting(base64, 3000000003L), meeting(null, 3000000004L))
      .coalesce(1).write.parquet(day)
    write(meeting("m2", 3000000002L), meeting(base64, 3000000003L), meeting("m1", null),
      meeting("m5", Int.MaxValue + 1L)).coalesce(1).write.mode("append").parquet(day)
    // a third part file without an id column
    write(meeting("m6", 3000000006L)).select("uuid", "topic").coalesce(1).write.mode("append").parquet(day)
    val names = new java.io.File(day).list().toSeq
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 3, names)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    Files.write(java.nio.file.Paths.get(day, "part-9.parquet._COPYING_"), Array[Byte](1, 2, 3))

    def onSpark(key: String): Seq[String] =
      spark.read.schema(graft.schemas.Schemas.meetings).parquet(day).select(col(key).cast("string"))
        .filter(col(key).isNotNull).distinct().as[String].collect().toSeq
    val uuids = onSpark("uuid").sorted
    val ids = onSpark("id").map(_.toLong).sorted
    assert(uuids == Seq("m1", "m2", "m5", "m6", base64).sorted)
    assert(ids == Seq(3000000002L, 3000000003L, 3000000004L, Int.MaxValue + 1L).sorted)

    val fx = dayWith(Seq("m1", "m2"), "2023-08-02")
    val client = new RecordingClient(fx)
    val p = new ZoomPipeline(spark, client, wh, sleep = _ => ())
    assert(p.loadParticipants() == uuids.size && p.loadMeetingSettings() == ids.size)
    assert(client.keys("participants").distinct == uuids.map(Some(_)))
    assert(client.keys("settings") == ids.map(id => Some(id.toString)))

    // a loaded day's files are not opened again: a daily run succeeds over
    // a file there that is not Parquet
    Files.write(java.nio.file.Paths.get(day, "part-99999.parquet"), Array[Byte](1, 2, 3))
    val before = client.keys("participants").size
    val report = graft.pipeline.ZoomRunner.run(p, graft.pipeline.ZoomRunner.JobFlags(meetings = true),
      LocalDate.parse("2023-08-03"), _ => ())
    assert(report.success, report.errorMessage)
    assert(client.keys("participants").drop(before).distinct == Seq(Some("m1"), Some("m2")))
    assert(new java.io.File(wh, "participants").list().filter(_.contains("=")).sorted.toSeq ==
      Seq("run_date=2023-08-01", "run_date=2023-08-02"))
  }
}
