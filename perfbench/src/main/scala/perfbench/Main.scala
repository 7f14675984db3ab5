package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.pipeline.ZoomRunner

/** One benchmark process: set up, warm up, run timed cycles of one
  * workload, check the outputs, write the record.
  *
  * A single client thread issues each operation after the previous one
  * finished (closed loop, one client) against `local[cpus]`.
  *
  * Each cycle starts from fresh state, makes a first pass, then a fixed
  * number of repeats, so every cycle does the same work on every commit:
  *  - zoom_ingest: a multi-day backfill into an empty warehouse, then
  *    one-day daily runs (the repeat) on the warehouse it built
  *    ([[Measured]]);
  *  - llm_heavy, slate_floor: the query list over a fresh copy of the
  *    corpus under a new path (relation cache and shared stores cold),
  *    then [[Repeats]] times the same list on that copy (stores warm).
  * The repeats keep getting faster as the JIT warms, so their number is
  * fixed rather than filled to a deadline: a median over a speed-dependent
  * number of repeats would favour the faster commit.
  *
  * Usage: Main <workload> <seconds> <trace 0|1> <seed> <dataDir> <workDir>
  *             <queryListFile|-> <outFile> <cpus>
  */
object Main {
  /** The size of one zoom_ingest cycle. */
  final case class Shape(backfillDays: Int, dailyRuns: Int, meetingsPerDay: Int, participantsPerMeeting: Int)
  // a day as in the production probe: 20 meetings of about 40 participants
  val Measured = Shape(backfillDays = 2, dailyRuns = 2, meetingsPerDay = 20, participantsPerMeeting = 40)
  val WarmUp = Shape(backfillDays = 1, dailyRuns = 2, meetingsPerDay = 4, participantsPerMeeting = 40)
  val FirstDay: LocalDate = LocalDate.parse("2025-08-01") // a school-year start
  val Repeats = 4 // warm passes of a query cycle
  val WarmPasses = 2 // sequential warm-up passes of a query workload

  final case class Cycle(traced: Boolean, firstS: Double, repeatS: Seq[Double], opsMs: Seq[Double])

  final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                  val dataDir: String, val work: String, val queries: Seq[String]) {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]

    def check(what: String)(ok: => Boolean): Unit = {
      attempted += 1
      val outcome = try { if (ok) None else Some(what) } catch { case e: Throwable => Some(s"$what: $e") }
      outcome.foreach { f => failed += 1; failures += f }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seconds, trace, seed, dataDir, work, queryFile, outFile, cpus) = args
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    tracer.attach(spark.sparkContext)
    val listeners = (new SparkCounters(tracer), new PlanPhases(tracer))
    val queries =
      if (queryFile == "-") Nil
      else Files.readAllLines(Paths.get(queryFile)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
    val run = new Run(spark, tracer, seed.toLong, dataDir, work, queries)

    // a cycle returns its measurements and its output checks, which run
    // after tracing is off so their Spark jobs stay out of the counters
    val cycle: Int => (Cycle, () => Unit) = workload match {
      case "zoom_ingest" =>
        zoomCycle(run, s"$work/zoom-warm", WarmUp)._2()
        c => zoomCycle(run, s"$work/zoom-$c", Measured)
      case "llm_heavy" | "slate_floor" =>
        warmQueries(run, cpus.toInt)
        c => (queryCycle(run, copyCorpus(dataDir, s"$work/corpus-$c")), () => ())
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // timed region: whole cycles until --seconds have passed. A traced run
    // makes three cycles: traced, untraced, traced, whose mean positions
    // match, so a steady speed-up over the run cancels out of the
    // traced-against-untraced comparison.
    val firstOpMs = System.currentTimeMillis()
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    def measure(traced: Boolean): Unit = {
      Trace.set(spark, tracer, traced, listeners)
      val (measured, checks) = cycle(cycles.size)
      Trace.set(spark, tracer, on = false, listeners)
      checks()
      cycles += measured
    }
    if (trace == "1") Seq(true, false, true).foreach(measure)
    else {
      val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
      do measure(traced = false) while (System.nanoTime() < deadline)
    }
    val record = ListMap(
      "first_op_epoch_ms" -> firstOpMs,
      "peak_rss_mb" -> peakRssMb,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "failures" -> run.failures,
      "cycles" -> cycles,
      "counts" -> run.counts,
      "oracle_sql" -> ListMap.from(queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, ""))),
      "layers" -> ListMap.from(layerMetrics(tracer, cycles.count(_.traced))))
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    json.writeValue(new java.io.File(outFile), record)
    if (trace == "1") json.writeValue(new java.io.File(s"$work/trace.json"), tracer.allSpans)
    spark.stop()
  }

  /** A fresh warehouse: backfill, then daily runs. Returns the timings and
    * the exact-content checks of the warehouse the cycle built.
    */
  def zoomCycle(run: Run, warehouse: String, shape: Shape): (Cycle, () => Unit) = {
    import run._
    import shape._
    val client = new ZoomFixture(seed, FirstDay, backfillDays + dailyRuns, meetingsPerDay, participantsPerMeeting, tracer)
    val pipeline = new TimedPipeline(spark, client, warehouse, tracer)
    val quiet = new ZoomRunner.Notifier { def notify(r: ZoomRunner.JobReport): Unit = () }
    def invoke(day: Int, flags: ZoomRunner.JobFlags): Double = {
      val t0 = System.nanoTime()
      val report = ZoomRunner.run(pipeline, flags, FirstDay.plusDays(day.toLong), quiet)
      val s = (System.nanoTime() - t0) / 1e9
      pipeline.takeStages().foreach { case (stage, secs) => tracer.add(s"pipeline.${stage}_s", secs) }
      check(s"runner report for day $day: ${report.errorMessage.getOrElse("")}")(report.success)
      s
    }
    // the backfill loads every entity; a daily run is the incremental
    // meetings -> participants -> settings chain for one new day
    val backfillS = invoke(backfillDays, ZoomRunner.JobFlags(users = true, meetings = true))
    val daily = (1 to dailyRuns).map(d => invoke(backfillDays + d, ZoomRunner.JobFlags(meetings = true)))

    tracer.add("sources.fetches", client.fetches.toDouble)
    tracer.add("sources.fetch_s", client.fetchNs / 1e9)
    tracer.add("sources.retries", client.retries.toDouble)
    tracer.add("sources.rate_limit_pauses", client.rateLimits.toDouble)
    tracer.add("sources.backoff_ms", client.backoffMs.toDouble)
    tracer.add("pipeline.keys_processed", client.keysFetched.toDouble)
    val (files, bytes) = dataFiles(warehouse)
    tracer.add("pipeline.files_written", files.toDouble)
    tracer.add("pipeline.bytes_written", bytes.toDouble)
    tracer.add("pipeline.bytes_per_input_byte", bytes.toDouble / client.bytesServed)

    (Cycle(tracer.enabled, backfillS, daily, pipeline.keyIterationsMs.toSeq),
      () => checkWarehouse(run, pipeline, client, backfillDays + dailyRuns))
  }

  def checkWarehouse(run: Run, p: TimedPipeline, client: ZoomFixture, days: Int): Unit = {
    import run.check
    val meetings = client.meetingsUpTo(days).toLong
    check("users rows")(p.table("users").count() == client.users)
    check("groups rows")(p.table("groups").count() == client.groupNames.size)
    check("group_members rows")(p.table("group_members").count() == client.memberRows)
    check("meetings rows")(p.table("meetings").count() == meetings)
    check("meetings.uuid unique")(p.table("meetings").select("uuid").distinct().count() == meetings)
    check("participants rows")(p.table("participants").count() == client.participantsUpTo(days))
    check("participants (meeting_uuid, id) unique")(
      p.table("participants").select("meeting_uuid", "id").distinct().count() == client.participantsUpTo(days))
    check("meeting_settings rows")(p.table("meeting_settings").count() == meetings)
    check("meeting_settings.meeting_id unique")(
      p.table("meeting_settings").select("meeting_id").distinct().count() == meetings)
    check("participants anti-join drained")(
      p.table("meetings").join(p.table("participants"), col("uuid") === col("meeting_uuid"), "left_anti").count() == 0)
    check("meeting_settings anti-join drained")(
      p.table("meetings").join(p.table("meeting_settings"), col("id") === col("meeting_id"), "left_anti").count() == 0)
  }

  /** Untimed warm-up over the warm-up corpus: one pass on `cpus` threads
    * at once writes each result for the oracle compare and compiles every
    * query's code; then [[WarmPasses]] passes issue one query at a time, as
    * the timed cycle does, so the JIT reaches steady code before timing.
    */
  def warmQueries(run: Run, cpus: Int): Unit = {
    import run._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try queries.map { q =>
      pool.submit(new Runnable {
        def run(): Unit =
          try SparkEntry.queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$work/results/$q")
          catch { case e: Throwable => failures.synchronized(failures += s"$q: ${e.toString.take(300)}") }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    spark.catalog.clearCache()
    for (_ <- 1 to WarmPasses; q <- queries) {
      try SparkEntry.queries(q)(spark, dataDir).count()
      catch { case _: Throwable => () } // the timed passes record failures
      spark.catalog.clearCache()
    }
  }

  def queryCycle(run: Run, dir: String): Cycle = {
    import run._
    def pass(): Seq[Double] = queries.map { q =>
      val t0 = System.nanoTime()
      var built = 0L
      val n = try tracer.span("queries", q) {
        val df = tracer.span("queries", "build")(SparkEntry.queries(q)(spark, dir))
        built = System.nanoTime()
        tracer.span("queries", "action")(df.count())
      } catch { case e: Throwable => failures += s"$q: ${e.toString.take(300)}"; -1L }
      val t1 = System.nanoTime()
      if (built > 0) {
        tracer.add("queries.build_s", (built - t0) / 1e9)
        tracer.add("queries.action_s", (t1 - built) / 1e9)
      }
      spark.catalog.clearCache()
      attempted += 1
      if (n < 0) failed += 1
      counts.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += n
      (t1 - t0) / 1e6
    }
    val cold = pass()
    val warm = Seq.fill(Repeats)(pass())
    Cycle(tracer.enabled, cold.sum / 1000, warm.map(_.sum / 1000), warm.flatten)
  }

  def copyCorpus(from: String, to: String): String = {
    Files.createDirectories(Paths.get(to))
    Files.list(Paths.get(from)).iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { f =>
      Files.copy(f, Paths.get(to).resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    to
  }

  /** Data files (not checksums or markers) under a warehouse, and their bytes. */
  def dataFiles(root: String): (Long, Long) = {
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Per-layer metrics per traced cycle; task times as percentiles. */
  def layerMetrics(tracer: Tracer, tracedCycles: Int): Seq[(String, Double)] =
    if (tracedCycles == 0) Nil
    else {
      val tasks = tracer.sampled("ops.task_ms").sorted
      (tracer.counters ++ tracer.selfSeconds.toSeq.map { case (layer, s) => s"self.${layer}_s" -> s })
        .map { case (k, v) => k -> v / tracedCycles } ++
        Seq("ops.task_ms_p50" -> percentile(tasks, 0.5), "ops.task_ms_max" -> tasks.lastOption.getOrElse(0.0))
    }

  def percentile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt))

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
