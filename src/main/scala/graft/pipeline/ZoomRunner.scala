package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}

/** Job selection + completion notification — the reference's entry-point
  * contract (SURVEY.md §2.9 C5/C6):
  *
  *  - flag dispatch mirrors `main()` (/root/reference/main.py:337-349 with
  *    the argparse flags of /root/reference/config.py:9-25): `--users`
  *    runs users + groups + group members, `--meetings` the meetings →
  *    participants → settings chain, `--accounts` the reverse-ETL account
  *    creation, `--all` everything. The account stage runs last, after
  *    the loads (the reference runs it between them; it reads only the
  *    groups the users stages load), so a failing account stage leaves the
  *    other selected stages as they run without it;
  *  - the whole run executes under try/finally and a [[Notifier]] receives
  *    one success-or-error [[JobReport]] (/root/reference/main.py:352-360
  *    + mailer.py:56-62) — subject/body shape preserved, transport
  *    pluggable (an SMTP notifier is a deployment concern; the engine
  *    guarantees the hook fires exactly once with the failure detail).
  */
object ZoomRunner {

  /** One run's outcome — the mailer's subject/body content as data.
    * `stageMs` is each completed stage's wall time, the reference's
    * `@elapsed` (timer.py:16-28). */
  case class JobReport(jobName: String, success: Boolean,
                       errorMessage: Option[String], elapsedMs: Long,
                       stagesRun: Seq[String], stageMs: Seq[(String, Long)] = Nil) {
    /** mailer.py:25-35 formatting. */
    def subjectLine: String =
      s"$jobName - ${if (success) "Success" else "Error"}"
    def bodyText: String =
      if (success) s"$jobName completed successfully."
      else s"$jobName encountered an error.\n${errorMessage.getOrElse("")}"
  }

  /** Completion hook (mailer.py analog). Implementations must not throw. */
  trait Notifier { def notify(report: JobReport): Unit }

  /** Default: log the report (the engine ships no SMTP transport). */
  class LogNotifier extends Notifier {
    override def notify(r: JobReport): Unit =
      org.apache.log4j.Logger.getLogger(getClass)
        .info(s"${r.subjectLine}: ${r.bodyText} (${r.elapsedMs} ms, stages=${r.stagesRun.mkString(",")}, " +
          s"stage_ms=${r.stageMs.map { case (name, ms) => s"$name:$ms" }.mkString(",")})")
  }

  case class JobFlags(users: Boolean = false, accounts: Boolean = false,
                      meetings: Boolean = false) {
    def any: Boolean = users || accounts || meetings
  }

  /** `--users --accounts --meetings --all` (config.py:9-25); unknown flags
    * fail loudly like argparse does.
    */
  def parseFlags(args: Seq[String]): JobFlags = {
    val known = Set("--users", "--accounts", "--meetings", "--all")
    args.find(!known.contains(_)).foreach(bad =>
      throw new IllegalArgumentException(s"unknown flag: $bad (expected ${known.mkString(", ")})"))
    val all = args.contains("--all")
    JobFlags(
      users = all || args.contains("--users"),
      accounts = all || args.contains("--accounts"),
      meetings = all || args.contains("--meetings"))
  }

  /** Run the selected stage groups; ALWAYS notify exactly once. Returns
    * the report (also handed to the notifier). `students`/`create` feed
    * the reverse-ETL stage when `--accounts` is selected.
    */
  def run(pipeline: ZoomPipeline, flags: JobFlags, runDate: LocalDate,
          notifier: Notifier = new LogNotifier,
          jobName: String = "Zoom Connector",
          students: () => DataFrame = () => null,
          create: Row => Unit = _ => ()): JobReport = {
    val t0 = System.nanoTime()
    val stages = Seq.newBuilder[(String, Long)]
    def stage(name: String)(body: => Unit): Unit = {
      val s0 = System.nanoTime()
      body
      stages += name -> (System.nanoTime() - s0) / 1000000
    }
    val error: Option[String] =
      try {
        if (flags.users) {
          stage("load_users") { pipeline.loadUsers() }
          stage("load_groups") { pipeline.loadGroups() }
          stage("load_group_members") { pipeline.loadGroupMembers() }
        }
        if (flags.meetings) {
          // the reference loads one day per invocation (main.py:213-215);
          // one call loads every day up to the run date instead
          stage("load_meetings") { pipeline.loadMeetings(runDate) }
          stage("load_participants") { pipeline.loadParticipants() }
          stage("load_meeting_settings") { pipeline.loadMeetingSettings() }
        }
        if (flags.accounts) stage("create_student_accounts") {
          val df = students()
          if (df != null) pipeline.createStudentAccounts(df, create)
        }
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
      }
    val ran = stages.result()
    val report = JobReport(jobName, error.isEmpty, error,
      (System.nanoTime() - t0) / 1000000, ran.map(_._1), ran)
    notifier.notify(report)
    report
  }
}
