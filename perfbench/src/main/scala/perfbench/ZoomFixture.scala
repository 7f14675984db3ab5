package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.ZoomPipeline
import graft.sources.PagedApi.{ApiPage, PagedApiClient, RateLimitedError, TransientApiError}

/** A seeded, in-memory Zoom API for the `zoom_ingest` workload.
  *
  * Serves users, groups, group members, meetings per day, participants per
  * meeting (token pages of 300 records) and per-meeting settings. Every page
  * is built up front from `seed`, so the same seed serves byte-identical
  * pages and the timed region spends no time making data.
  *
  * Failures are injected at a fixed rate, decided by a hash of (seed,
  * request, attempt): an attempt fails with a transient error with
  * probability [[ZoomFixture.ErrorRate]], or with a 429 with probability
  * [[ZoomFixture.RateLimitRate]], unless the previous attempt of the same
  * request failed. No request fails twice in a row, so the engine's retry
  * (3 attempts) always succeeds and the expected warehouse content is exact.
  */
final class ZoomFixture(seed: Long, firstDay: LocalDate, days: Int,
                        meetingsPerDay: Int, participantsPerMeeting: Int, tracer: Tracer)
    extends PagedApiClient {
  import ZoomFixture._

  private val rng = new scala.util.Random(seed)
  private val pages = mutable.HashMap.empty[(String, Option[String]), Vector[Vector[String]]]
  private val attempts = mutable.HashMap.empty[(String, Option[String], Option[String]), (Int, Boolean)]

  // Sizes are fixed so every seed asks the same amount of work; the seed
  // decides the content and which attempts fail. The users, groups and
  // failure rates are the benchmark's own choice, not production figures.
  val users: Int = 500
  val groupNames: Seq[String] = Seq("Students", "Staff", "Teachers")
  val members: Seq[Int] = Seq(150, 250, 320)
  /** Participant count of every meeting, per day. */
  val participants: Vector[Vector[Int]] = Vector.fill(days, meetingsPerDay)(participantsPerMeeting)

  // counters of the sources layer (one fixture serves one cycle)
  var fetches = 0L
  var retries = 0L
  var rateLimits = 0L
  var backoffMs = 0L
  var bytesServed = 0L
  var fetchNs = 0L
  var keysFetched = 0L
  /** Start of every keyed fetch loop iteration (first page of a key). */
  val keyStarts = mutable.ArrayBuffer.empty[Long]

  private def paged(entity: String, key: Option[String], records: Seq[String]): Unit =
    pages((entity, key)) =
      if (records.isEmpty) Vector(Vector.empty) else records.grouped(PageSize).map(_.toVector).toVector

  paged("users", None, (0 until users).map { i =>
    s"""{"id":"u$i","first_name":"First$i","last_name":"Last$i","email":"user$i@school.org",""" +
      s""""type":${1 + rng.nextInt(2)},"status":"active","pmi":${1000000000L + i},"timezone":"America/Chicago",""" +
      s""""dept":"D${rng.nextInt(12)}","created_at":"2024-0${1 + rng.nextInt(9)}-15T10:00:00Z",""" +
      s""""last_login_time":"2025-07-${10 + rng.nextInt(20)}T08:00:00Z","last_client_version":"5.17.${rng.nextInt(9)}","verified":1}"""
  })
  paged("groups", None, groupNames.zip(members).zipWithIndex.map { case ((name, n), g) =>
    s"""{"id":"g$g","name":"$name","total_members":$n}"""
  })
  members.zipWithIndex.foreach { case (n, g) =>
    paged("group_members", Some(s"g$g"), (0 until n).map { i =>
      s"""{"id":"u${rng.nextInt(users)}_$i","email":"member$g.$i@school.org","first_name":"M$i","last_name":"G$g","type":1}"""
    })
  }
  private var meetingId = 80000000000L + rng.nextInt(1000000)
  participants.zipWithIndex.foreach { case (counts, d) =>
    val day = firstDay.plusDays(d).toString
    val meetings = counts.zipWithIndex.map { case (n, m) =>
      meetingId += 1 + rng.nextInt(50)
      // Zoom meeting UUIDs are base64 of 16 bytes ("aDYlohsHRtCd4ii1uC2+hA==")
      val uuid = java.util.Base64.getEncoder.encodeToString(Array.fill(16)(rng.nextInt(256).toByte))
      paged("participants", Some(uuid), (0 until n).map { p =>
        val h = 7 + rng.nextInt(10)
        s"""{"id":"p$p","user_id":"${rng.nextInt(users)}","user_name":"Student $p","device":"${Devices(rng.nextInt(Devices.size))}",""" +
          f""""ip_address":"10.0.${rng.nextInt(256)}.${rng.nextInt(256)}","join_time":"${day}T$h%02d:0${rng.nextInt(6)}:00Z",""" +
          f""""leave_time":"${day}T$h%02d:5${rng.nextInt(6)}:00Z"}"""
      })
      paged("settings", Some(meetingId.toString), Seq(
        s"""{"settings":{"enforce_login":${rng.nextBoolean()},"enforce_login_domains":"school.org",""" +
          s""""authentication_domains":"school.org","authentication_name":"Sign in","meeting_authentication":${rng.nextBoolean()},""" +
          s""""waiting_room":${rng.nextBoolean()}}}"""))
      f"""{"uuid":"$uuid","id":$meetingId,"topic":"Class $m","start_time":"${day}T${7 + m % 10}%02d:${rng.nextInt(60)}%02d:00Z","duration":${30 + rng.nextInt(60)}}"""
    }
    paged("meetings", Some(day), meetings)
  }

  def meetingsUpTo(day: Int): Int = participants.take(day).map(_.size).sum
  def participantsUpTo(day: Int): Long = participants.take(day).flatten.map(_.toLong).sum
  def memberRows: Long = members.map(_.toLong).sum

  def fetchPage(entity: String, key: Option[String], token: Option[String]): ApiPage =
    tracer.span("sources", s"fetch $entity") {
      val t0 = System.nanoTime()
      try {
        val req = (entity, key, token)
        val (n, lastFailed) = attempts.getOrElse(req, (0, false))
        val u = if (lastFailed) 1.0 else draw(req, n)
        attempts(req) = (n + 1, u < ErrorRate + RateLimitRate)
        if (u < ErrorRate) { retries += 1; throw new TransientApiError(s"injected 503 for $req") }
        if (u < ErrorRate + RateLimitRate) { rateLimits += 1; throw new RateLimitedError(1000) }
        fetches += 1
        if (token.isEmpty && key.isDefined && entity != "meetings") {
          keysFetched += 1
          keyStarts += t0
        }
        val all = pages.getOrElse((entity, key), Vector(Vector.empty))
        val idx = token.fold(0)(_.toInt)
        bytesServed += all(idx).map(_.length.toLong).sum
        ApiPage(all(idx), if (idx + 1 < all.size) Some((idx + 1).toString) else None)
      } finally fetchNs += System.nanoTime() - t0
    }

  /** The pipeline's sleep hook: backoff is recorded, never slept. */
  def sleep(ms: Long): Unit = backoffMs += ms

  private def draw(req: (String, Option[String], Option[String]), attempt: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.stringHash(s"$seed|$req|$attempt")
    (h.toLong & 0xffffffffL) / 4294967296.0
  }
}

object ZoomFixture {
  val PageSize = 300
  val ErrorRate = 0.05
  val RateLimitRate = 0.05
  private val Devices = Vector("Windows", "Mac", "iOS", "Android", "Chromebook")
}

/** The engine's pipeline with every load stage timed. `ZoomRunner.run`
  * calls these overrides, so the stage times are those of the real job.
  */
final class TimedPipeline(spark: SparkSession, client: ZoomFixture, warehouse: String,
                          tracer: Tracer)
    extends ZoomPipeline(spark, client, warehouse, sleep = client.sleep) {
  /** Seconds per stage since the last [[takeStages]]. */
  private val stages = mutable.LinkedHashMap.empty[String, Double]
  /** Milliseconds of every keyed fetch-and-write iteration: from the first
    * page of one key to the first page of the next, or to the stage end. */
  val keyIterationsMs = mutable.ArrayBuffer.empty[Double]

  private def timed[T](stage: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val firstKey = client.keyStarts.size
    try tracer.span("pipeline", stage)(body)
    finally {
      val t1 = System.nanoTime()
      stages(stage) = stages.getOrElse(stage, 0.0) + (t1 - t0) / 1e9
      val starts = client.keyStarts.drop(firstKey)
      keyIterationsMs ++= starts.zip(starts.drop(1) :+ t1).map { case (a, b) => (b - a) / 1e6 }
    }
  }

  def takeStages(): Seq[(String, Double)] = { val s = stages.toSeq; stages.clear(); s }

  override def loadUsers(): Long = timed("load_users")(super.loadUsers())
  override def loadGroups(): Long = timed("load_groups")(super.loadGroups())
  override def loadGroupMembers(): Long = timed("load_group_members")(super.loadGroupMembers())
  override def loadMeetings(runDate: LocalDate): Option[LocalDate] =
    timed("load_meetings")(super.loadMeetings(runDate))
  override def loadParticipants(): Int = timed("load_participants")(super.loadParticipants())
  override def loadMeetingSettings(): Int = timed("load_meeting_settings")(super.loadMeetingSettings())
}
