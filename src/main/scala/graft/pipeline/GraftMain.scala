package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.sources.PagedApi.PagedApiClient

/** cluster entrypoint — the deployment analog of the reference's
  * `ENTRYPOINT python main.py` (/root/reference/Dockerfile:14 +
  * main.py:337-349), re-expressed as a spark-submit main:
  *
  * {{{
  * spark-submit --class graft.pipeline.GraftMain graft.jar \
  *   --users --meetings --warehouse s3a://bucket/zoom --client-class com.example.ZoomHttpClient
  * }}}
  *
  * Flags are [[ZoomRunner.parseFlags]]'s reference set (`--users`,
  * `--accounts`, `--meetings`, `--all`); `--warehouse` is the table root
  * (any Hadoop filesystem); `--client-class` names a no-arg
  * [[PagedApiClient]] implementation, loaded reflectively — the HTTP
  * transport stays a deployment concern exactly as SMTP does
  * ([[ZoomRunner.LogNotifier]]), so the engine jar ships zero
  * credentials and zero vendored clients. `--run-date` (ISO, optional)
  * pins the meetings watermark date for reproducible backfills.
  *
  * The session is [[graft.Session.cluster]], NOT hardcoded local:
  * master, shuffle partitions, and memory come from spark-submit /
  * cluster defaults; only the graft extensions and the confs the engine's
  * operators rely on (AQE + skew-join handling) are set, and only as
  * session confs a submit-time `--conf` still overrides.
  *
  * `--accounts` (and so `--all`) fails: [[PagedApiClient]] has no call that
  * creates an account, so there is no account-creation transport to run
  * the reverse ETL with. The other selected stages run first, as they do
  * without it ([[ZoomRunner.run]] runs the account stage last); then the
  * account stage fails, the report names the missing transport, and the
  * exit code is 1.
  */
object GraftMain {
  final case class Cli(flags: ZoomRunner.JobFlags, warehouse: String,
                       clientClass: String, runDate: LocalDate)

  def parse(args: Array[String]): Cli = {
    val (opts, flagArgs) = {
      val o = scala.collection.mutable.Map.empty[String, String]
      val f = Seq.newBuilder[String]
      var i = 0
      while (i < args.length) {
        args(i) match {
          case k @ ("--warehouse" | "--client-class" | "--run-date") =>
            if (i + 1 >= args.length)
              throw new IllegalArgumentException(s"$k needs a value")
            o(k) = args(i + 1); i += 2
          case other => f += other; i += 1
        }
      }
      (o, f.result())
    }
    val flags = ZoomRunner.parseFlags(flagArgs)
    if (!flags.any)
      throw new IllegalArgumentException(
        "nothing selected: pass --users, --accounts, --meetings or --all")
    Cli(flags,
      opts.getOrElse("--warehouse",
        throw new IllegalArgumentException("--warehouse is required")),
      opts.getOrElse("--client-class",
        throw new IllegalArgumentException("--client-class is required")),
      opts.get("--run-date").map(LocalDate.parse)
        .getOrElse(LocalDate.now(java.time.ZoneOffset.UTC)))
  }

  /** Build-run-report; factored from `main` so specs can drive it without
    * a JVM exit. Returns the process exit code (0 success / 1 failure —
    * the reference's try/except main contract).
    */
  def runCli(spark: SparkSession, cli: Cli,
             notifier: ZoomRunner.Notifier = new ZoomRunner.LogNotifier): Int = {
    val client = Class.forName(cli.clientClass)
      .getDeclaredConstructor().newInstance().asInstanceOf[PagedApiClient]
    val pipeline = new ZoomPipeline(spark, client, cli.warehouse)
    val report = ZoomRunner.run(pipeline, cli.flags, cli.runDate, notifier,
      students = () => throw new UnsupportedOperationException(
        "create_student_accounts needs an account-creation transport, and PagedApiClient has no create call"))
    if (report.success) 0 else 1
  }

  def main(args: Array[String]): Unit = {
    val cli = parse(args)
    val spark = graft.Session.cluster("graft-zoom")
    // Not try/finally around sys.exit: System.exit never returns (it halts
    // the JVM while shutdown hooks run), so a finally there is dead code
    // and stop() would silently rely on Spark's own shutdown hook. Stop
    // first, then exit; a runCli throw still reaches the finally.
    val code =
      try runCli(spark, cli)
      finally spark.stop()
    sys.exit(code)
  }
}
