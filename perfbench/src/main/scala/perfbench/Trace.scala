package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `layer` is the engine module the span's code
  * belongs to (sources, pipeline, queries, plans, ops); `parent` is the id
  * of the span that was open when this one started (0 = none). Times are
  * nanoseconds since the tracer was created.
  */
final case class Span(id: Int, layer: String, name: String, parent: Int,
                      startNs: Long, var endNs: Long)

/** In-memory spans and counters for one benchmark process, written as JSON
  * at exit. When disabled, `span` runs its body and records nothing, so an
  * untraced run pays one branch per call.
  *
  * Spans are opened only from the single client thread. Spark jobs become
  * child spans through the `perfbench.span` local property: Spark copies the
  * submitting thread's local properties into every job it starts, and the
  * [[SparkCounters]] listener reads the parent id back from the job event.
  */
final class Tracer {
  @volatile var enabled = false
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val names = mutable.HashMap.empty[Int, String]
  private val counterValues = mutable.LinkedHashMap.empty[String, Double]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var sc: SparkContext = _

  val SpanProperty = "perfbench.span"

  def attach(context: SparkContext): Unit = sc = context

  def nowNs: Long = System.nanoTime() - t0

  /** Epoch milliseconds (as Spark events carry them) on the span clock. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochNs - t0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = Span(nextId, layer, name, stack.headOption.fold(0)(_.id), nowNs, -1L)
        nextId += 1
        spans += s
        names(s.id) = s"$layer.$name"
        s
      }
      stack = s :: stack
      if (sc != null) sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = nowNs
        stack = stack.tail
        if (sc != null) sc.setLocalProperty(SpanProperty, stack.headOption.fold(null: String)(_.id.toString))
      }
    }

  /** Record a finished interval from another thread (a Spark job). */
  def closed(layer: String, name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    synchronized {
      spans += Span(nextId, layer, name, parent, startNs, endNs)
      nextId += 1
    }

  def spanName(id: Int): Option[String] = synchronized(names.get(id))

  def add(name: String, v: Double): Unit =
    if (enabled) synchronized { counterValues(name) = counterValues.getOrElse(name, 0.0) + v }

  def sample(name: String, v: Double): Unit =
    if (enabled) synchronized { samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v }

  def counters: Seq[(String, Double)] = synchronized(counterValues.toSeq)

  def sampled(name: String): Seq[Double] = synchronized(samples.get(name).fold(Seq.empty[Double])(_.toSeq))

  /** Seconds per layer not covered by the layer's child spans. */
  def selfSeconds: Map[String, Double] = synchronized {
    val children = spans.groupBy(_.parent)
    spans.toSeq.filter(_.endNs >= 0).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil).toSeq
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.endNs - s.startNs - covered).toDouble
      }.sum / 1e9
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) total += b - from
      end = math.max(end, b)
    }
    total
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)
}

/** Spark job, stage and task counters for the `ops` layer, plus the jobs
  * each span launched. Registered only in traced cycles.
  */
final class SparkCounters(tracer: Tracer) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    jobStart.put(e.jobId, (tracer.fromEpochMs(e.time), parent))
    tracer.add("ops.jobs", 1)
    if (tracer.spanName(parent).contains("queries.build")) tracer.add("queries.eager_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (start, parent) =>
      tracer.closed("ops", s"job ${e.jobId}", parent, start, tracer.fromEpochMs(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    tracer.add("ops.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tracer.add("ops.tasks", 1)
    tracer.sample("ops.task_ms", e.taskInfo.duration.toDouble)
    val m = e.taskMetrics
    if (m != null) {
      tracer.add("ops.executor_run_ms", m.executorRunTime.toDouble)
      tracer.add("ops.executor_cpu_ms", m.executorCpuTime / 1e6)
      tracer.add("ops.gc_ms", m.jvmGCTime.toDouble)
      tracer.add("ops.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      tracer.add("ops.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      tracer.add("ops.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => tracer.add("ops.sql_executions", 1)
    case _ => ()
  }
}

/** Analysis, optimization and physical-planning time of every action,
  * from the phase tracker of its QueryExecution (`plans` layer).
  */
final class PlanPhases(tracer: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => tracer.add(s"plans.${p}_ms", s.durationMs.toDouble))
    }
  }
}

object Trace {
  /** Turn tracing on or off between cycles: the listeners exist only while
    * tracing is on, so untraced cycles run exactly as without the benchmark.
    */
  def set(spark: SparkSession, tracer: Tracer, on: Boolean,
          listeners: (SparkCounters, PlanPhases)): Unit = {
    val (counters, phases) = listeners
    if (on && !tracer.enabled) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(phases)
    } else if (!on && tracer.enabled) {
      drain(spark)
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(phases)
    }
    tracer.enabled = on
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
}
