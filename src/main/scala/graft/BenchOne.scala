package graft

/** Dev tool: time one declared query (optionally print its formatted plan,
  * or a per-SQL-execution profile — composite queries like the curation
  * pipeline fire many executions: persists, localCheckpoints, convergence
  * aggregates, the final count; `profile` attributes wall time to each).
  * A comma-separated name list times the queries SEQUENTIALLY in one
  * session per run — the harness for shared in-slate artifacts
  * (Graph.coFulfillmentEdges), where the question is the combined cost.
  * Usage: runMain graft.BenchOne <queryName[,name2,...]> [sfDir] [explain] [profile]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.contains("explain")
    val doProfile = args.contains("profile")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_EVENTLOG=<dir>: write the Spark event log for offline
    // stage/SQL-metric attribution (the r17 optimization loop's profiler
    // when the interactive console can't host a code path). Off for the
    // driver's bench; purely observational.
    val eventLogDir = sys.env.get("SPARK_GRAFT_EVENTLOG")
    val spark = Session.local(cpus, eventLogDir.toSeq.flatMap(d =>
      Seq("spark.eventLog.enabled" -> "true", "spark.eventLog.dir" -> d)): _*)
    spark.sparkContext.setLogLevel("WARN")
    val allNames = name.split(',').toSeq
    // explain/profile cover EVERY name in a comma list (ADVICE r12: only
    // the head was resolved, so `a,b explain` silently explained just `a`)
    if (doExplain) allNames.foreach { n =>
      if (allNames.size > 1) println(s"[bench_one] === explain: $n ===")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    if (doProfile) allNames.foreach { n =>
      val fn = SparkEntry.queries(n)
      if (allNames.size > 1) println(s"[bench_one] === profile: $n ===")
      // Warm once so the profile measures steady-state, then record every
      // SQL execution (id, duration, first line of its description).
      try { fn(spark, sfDir).count(); spark.catalog.clearCache() }
      catch { case _: Throwable => () }
      val execs = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
      val done = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.put(s.executionId, (s.time, s.description.linesIterator.nextOption().getOrElse("").take(100)))
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
            Option(execs.remove(s.executionId)).foreach { case (t0, d) =>
              done.synchronized { done += ((s.executionId, s.time - t0, d)) }
            }
          case _ => ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      fn(spark, sfDir).count()
      // The listener bus is async; a fixed sleep can cut off the trailing
      // (typically largest) execution's End event under load. Poll until
      // every Start has seen its End, bounded at 15 s, and say so if the
      // drain was incomplete — an under-reported profile must not look
      // complete. "Empty" must be observed TWICE with a grace gap: a Start
      // event can still be queued on the bus when count() returns, so a
      // single empty observation can race ahead of it and silently drop
      // that execution from the totals.
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var stableEmpty = 0
      while (stableEmpty < 2 && System.nanoTime() < deadline) {
        if (execs.isEmpty) { stableEmpty += 1; Thread.sleep(300) }
        else { stableEmpty = 0; Thread.sleep(100) }
      }
      spark.sparkContext.removeSparkListener(l)
      spark.catalog.clearCache()
      if (!execs.isEmpty)
        println(s"[profile] WARN ${execs.size} execution(s) never delivered " +
          "their end event within 15s — totals below UNDER-report")
      done.sortBy(_._1).foreach { case (id, ms, d) =>
        println(f"[profile] exec=$id%-4d ${ms}%6d ms  $d")
      }
      println(f"[profile] total across ${done.size} executions: ${done.map(_._2).sum} ms")
    }
    // three timed runs: first includes planning+codegen, later runs are
    // warm. Cache is cleared between runs (Bench does the same after every
    // query), so a persist() inside the query is re-materialized each run —
    // the warm number reflects what the slate actually pays. A name LIST
    // runs each query in sequence inside the run (clearCache between
    // queries, like the slate) and reports the combined wall too.
    val names = allNames
    // SPARK_GRAFT_BENCH_RUNS: run count (default 3) — the 100× probes
    // run 2 to fit a wall-clock budget (run1 cold, run2 warm)
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    for (i <- 1 to nRuns) {
      val t0 = System.nanoTime()
      names.foreach { n =>
        val q0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, sfDir).count()
        println(f"[bench_one] $n run$i: ${(System.nanoTime() - q0) / 1e9}%.2f s ($rows rows)")
        spark.catalog.clearCache()
      }
      if (names.size > 1)
        println(f"[bench_one] combined(${names.size} queries) run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
