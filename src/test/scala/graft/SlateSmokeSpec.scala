package graft

/** Driver-parity guard (VERDICT r7 #8 / process defect #4).
  *
  * In round 7 four queries errored AT THE DRIVER and silently vanished
  * from CORRECTNESS_r07.json — the repo's own tests never executed the
  * full declared slate, so a never-green query (`asof_next_purchase`)
  * could ship. This spec is the loud in-repo equivalent of the driver
  * run: EVERY `SparkEntry.queries` entry must execute end-to-end at
  * sf0.001, and the oracle map must stay in sync with the query map.
  * A query that cannot run here has no business being declared.
  */
class SlateSmokeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("every declared query executes at sf0.001 (no silent driver drops)") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, sf).collect(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(300)}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries error at sf0.001:\n${failures.mkString("\n")}")
  }

  // every query reads through Tables.load, which takes each table's schema
  // from its Parquet footer on the driver instead of an inference job
  test("Tables: the footer schema of every table equals spark.read.parquet's") {
    withSQLConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      Tables.names.foreach { t =>
        val file = s"$sf/$t.parquet"
        assert(Tables.footerSchema(spark, file) == spark.read.parquet(file).schema, t)
      }
    }
  }

  test("Tables: loading every table of a fresh directory launches no Spark job") {
    import java.nio.file.{Files, Paths}
    val fresh = Files.createTempDirectory("tables")
    Tables.names.foreach(t => Files.copy(Paths.get(sf, s"$t.parquet"), fresh.resolve(s"$t.parquet")))
    assert(jobsLaunched(Tables.names.foreach(Tables.load(spark, fresh.toString, _))) == 0)
    Tables.names.filterNot(_ == "events").foreach { t =>
      assert(Tables.load(spark, fresh.toString, t).schema == spark.read.parquet(s"$fresh/$t.parquet").schema, t)
    }
    assert(Tables.load(spark, fresh.toString, "orders").count() == Tables.load(spark, sf, "orders").count())
  }

  test("oracle keys are a subset of query keys (no orphaned oracle SQL)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a matching query: $orphans")
  }

  test("no query name collides across registries (Map ++ silently drops)") {
    // round-11 incident: a second `dow_seasonality` landed in QAggWindow
    // and the Map literal silently kept only one of the pair — the new
    // query appeared green because the OLD query+oracle pair ran instead
    val regs = Seq(
      "QScanJoin" -> QScanJoin.queries, "QAggWindow" -> QAggWindow.queries,
      "QTemporal" -> QTemporal.queries, "QDedup" -> QDedup.queries,
      "QVector" -> QVector.queries, "QTextCuration" -> QTextCuration.queries,
      "QMultimodal" -> QMultimodal.queries, "QScale" -> QScale.queries)
    val declared = regs.flatMap { case (r, m) => m.keySet.toSeq.map(_ -> r) }
    val dupes = declared.groupBy(_._1).filter(_._2.size > 1)
      .map { case (k, rs) => s"$k in ${rs.map(_._2).mkString("+")}" }
    assert(dupes.isEmpty, s"colliding query names: ${dupes.mkString(", ")}")
    assert(declared.size == SparkEntry.queries.size)
    // a duplicate INSIDE one Map literal collapses before runtime sees
    // it — scan the registry sources for repeated declaration keys
    val keyRe = """"([a-z0-9_]+)" -> \(\(s, dir""".r
    val srcDir = new java.io.File("src/main/scala/graft/queries")
    val srcDupes = srcDir.listFiles().filter(_.getName.endsWith(".scala"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val keys = try keyRe.findAllMatchIn(src.mkString).map(_.group(1)).toSeq
        finally src.close()
        keys.groupBy(identity).filter(_._2.size > 1).keys
          .map(k => s"${f.getName}: $k")
      }
    assert(srcDupes.isEmpty,
      s"duplicate keys inside one registry literal: ${srcDupes.mkString(", ")}")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
