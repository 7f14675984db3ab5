package graft

import graft.pipeline.{GraftMain, ZoomRunner}
import graft.sources.PagedApi.{ApiPage, PagedApiClient}

/** The spark-submit entrypoint: CLI parse, reflective client load, the
  * exactly-once success/failure exit contract.
  */
class GraftMainSpec extends SparkTestBase {

  test("parse: flags, warehouse, client-class, pinned run date") {
    val cli = GraftMain.parse(Array("--users", "--meetings",
      "--warehouse", "/tmp/wh", "--client-class", "x.Y",
      "--run-date", "2023-08-01"))
    assert(cli.flags == ZoomRunner.JobFlags(users = true, meetings = true))
    assert(cli.warehouse == "/tmp/wh" && cli.clientClass == "x.Y")
    assert(cli.runDate == java.time.LocalDate.parse("2023-08-01"))
  }

  test("parse: missing selection / warehouse / value fail loudly") {
    intercept[IllegalArgumentException] {
      GraftMain.parse(Array("--warehouse", "/w", "--client-class", "x.Y"))
    }
    intercept[IllegalArgumentException] {
      GraftMain.parse(Array("--all", "--client-class", "x.Y"))
    }
    intercept[IllegalArgumentException] {
      GraftMain.parse(Array("--all", "--warehouse"))
    }
    intercept[IllegalArgumentException] {
      GraftMain.parse(Array("--bogus", "--warehouse", "/w", "--client-class", "x.Y"))
    }
  }

  test("runCli: reflective client, users stages run, exit 0, one report") {
    val wh = java.nio.file.Files.createTempDirectory("graftmain").toString
    val reports = scala.collection.mutable.ArrayBuffer.empty[ZoomRunner.JobReport]
    val code = GraftMain.runCli(spark,
      GraftMain.Cli(ZoomRunner.JobFlags(users = true), wh,
        classOf[GraftMainSpec.EmptyClient].getName,
        java.time.LocalDate.parse("2023-08-01")),
      notifier = r => { reports += r; () })
    assert(code == 0)
    assert(reports.map(_.stagesRun) ==
      Seq(Seq("load_users", "load_groups", "load_group_members")))
  }

  test("runCli: a failing stage reports the error and exits 1") {
    val wh = java.nio.file.Files.createTempDirectory("graftmain2").toString
    val reports = scala.collection.mutable.ArrayBuffer.empty[ZoomRunner.JobReport]
    val code = GraftMain.runCli(spark,
      GraftMain.Cli(ZoomRunner.JobFlags(users = true), wh,
        classOf[GraftMainSpec.ExplodingClient].getName,
        java.time.LocalDate.parse("2023-08-01")),
      notifier = r => { reports += r; () })
    assert(code == 1)
    assert(reports.size == 1 && !reports.head.success)
    assert(reports.head.errorMessage.exists(_.contains("boom")))
  }

  test("runCli: --accounts fails after the other selected stages, naming the missing transport") {
    val users = Seq("load_users", "load_groups", "load_group_members")
    val meetings = Seq("load_meetings", "load_participants", "load_meeting_settings")
    for ((flags, ran) <- Seq(
        ZoomRunner.JobFlags(accounts = true) -> Nil,
        ZoomRunner.parseFlags(Seq("--all")) -> (users ++ meetings))) {
      val wh = java.nio.file.Files.createTempDirectory("graftmain3").toString
      val reports = scala.collection.mutable.ArrayBuffer.empty[ZoomRunner.JobReport]
      val code = GraftMain.runCli(spark,
        GraftMain.Cli(flags, wh, classOf[GraftMainSpec.EmptyClient].getName,
          java.time.LocalDate.parse("2023-08-03")),
        notifier = r => { reports += r; () })
      assert(code == 1, flags)
      assert(reports.size == 1 && !reports.head.success, flags)
      assert(reports.head.errorMessage.exists(_.contains("account-creation transport")), reports.head.errorMessage)
      assert(reports.head.stagesRun == ran, flags)
    }
  }
}

object GraftMainSpec {
  /** No-arg client every entity of which is empty — the reflective-load
    * shape GraftMain instantiates in a real deployment. */
  class EmptyClient extends PagedApiClient {
    def fetchPage(entity: String, key: Option[String],
                  token: Option[String]): ApiPage = ApiPage(Seq.empty, None)
  }

  class ExplodingClient extends PagedApiClient {
    def fetchPage(entity: String, key: Option[String],
                  token: Option[String]): ApiPage =
      throw new RuntimeException("boom")
  }
}
