package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbench.Shim
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-op counters for traced passes.
  *
  * Driver-side spans (op, construct, execute, direct layer calls) are
  * opened by the benchmark around its calls into the engine. Spark jobs,
  * Catalyst phases and stream micro-batches arrive as listener events;
  * they become spans of the op that was running, and their parent is the
  * innermost driver span of that op containing their start. Everything is
  * kept in memory and written once at the end of the run.
  *
  * While tracing is off no listener is registered and `span` is a plain
  * call, so untraced passes pay nothing.
  */
final class Tracer(spark: SparkSession) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  /** Epoch milliseconds on the driver's monotonic clock. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  final class Span(val id: Int, var parent: Int, val op: String,
      val name: String, val start: Double, val async: Boolean) {
    var end: Double = Double.NaN
    val attrs = mutable.LinkedHashMap.empty[String, Any]
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
      "op" -> op, "name" -> name, "start_ms" -> start, "end_ms" -> end) ++ attrs
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil // driver-thread stack
  @volatile private var curOp: String = null
  private val counters =
    mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private var enabled = false

  private def newSpan(parent: Int, op: String, name: String, start: Double,
      async: Boolean = false): Span = spans.synchronized {
    val s = new Span(spans.size, parent, op, name, start, async)
    spans += s
    s
  }

  def add(op: String, key: String, v: Double): Unit =
    if (op != null) counters.synchronized {
      val m = counters.getOrElseUpdate(op, mutable.LinkedHashMap.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }

  private def keepMax(op: String, key: String, v: Double): Unit =
    if (op != null) counters.synchronized {
      val m = counters.getOrElseUpdate(op, mutable.LinkedHashMap.empty)
      m(key) = math.max(m.getOrElse(key, v), v)
    }

  /** Times `body` as a child of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = newSpan(open.headOption.map(_.id).getOrElse(-1), curOp, name, nowMs)
      open = s :: open
      try body
      finally {
        s.end = nowMs
        open = open.tail
        add(curOp, s"span.$name.ms", s.end - s.start)
        add(curOp, s"span.$name.n", 1)
      }
    }

  /** Runs one op and returns its result with its wall seconds. In a
    * traced pass the listener bus is drained after the timed region, so
    * every event of this op is attributed before the next op starts. */
  def op[A](opId: String)(body: => A): (A, Double) = {
    curOp = opId
    val from = spans.synchronized(spans.size)
    try {
      val t0 = System.nanoTime()
      val r = span("op")(body)
      val dt = (System.nanoTime() - t0) / 1e9
      (r, dt)
    } finally {
      if (enabled) {
        Shim.drainListenerBus(spark.sparkContext)
        settle(opId, from)
      }
      curOp = null
    }
  }

  /** Parents this op's asynchronous spans to the innermost driver span
    * containing their start, counts jobs per parent span name, and
    * counts the op wall that some Spark job covers. */
  private def settle(op: String, from: Int): Unit = {
    val mine = spans.synchronized(spans.drop(from).filter(_.op == op).toSeq)
    val driver = mine.filterNot(_.async)
    mine.filter(_.async).foreach { s =>
      val host = driver.filter(h => h.start <= s.start && s.start <= h.end)
      if (host.nonEmpty) {
        val h = host.maxBy(_.start)
        s.parent = h.id
        if (s.name == "spark.job") add(op, s"jobs_in.${h.name}", 1)
      }
    }
    driver.find(_.name == "op").foreach { o =>
      val jobs = mine.filter(_.name == "spark.job")
        .map(j => (math.max(j.start, o.start), math.min(j.end, o.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var reach = Double.NegativeInfinity
      jobs.foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) covered += b - lo
        reach = math.max(reach, b)
      }
      add(op, "sched.job_covered_ms", covered)
    }
  }

  private def asyncSpan(name: String, start: Double, end: Double,
      attrs: (String, Any)*): Span = {
    val s = newSpan(-1, curOp, name, start, async = true)
    s.end = end
    s.attrs ++= attrs
    s
  }

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = curOp
      if (op != null) {
        val s = asyncSpan("spark.job", e.time.toDouble, Double.NaN,
          "job_id" -> e.jobId)
        jobSpan.synchronized(jobSpan(e.jobId) = s)
        stageOp.synchronized(e.stageIds.foreach(stageOp(_) = op))
        add(op, "sched.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.synchronized(jobSpan.remove(e.jobId))
        .foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageOp.synchronized(stageOp.get(e.stageInfo.stageId).orNull),
        "sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.synchronized(stageOp.get(e.stageId).orNull)
      val m = e.taskMetrics
      if (op != null && m != null) {
        add(op, "sched.tasks", 1)
        add(op, "task.run_ms", m.executorRunTime)
        add(op, "task.cpu_ns", m.executorCpuTime)
        add(op, "task.gc_ms", m.jvmGCTime)
        add(op, "task.deserialize_ms", m.executorDeserializeTime)
        add(op, "scan.bytes", m.inputMetrics.bytesRead)
        add(op, "scan.records", m.inputMetrics.recordsRead)
        add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(op, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(op, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add(op, "spill.disk_bytes", m.diskBytesSpilled)
      }
    }
  }

  private object plans extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        asyncSpan(s"catalyst.$phase", p.startTimeMs.toDouble,
          p.endTimeMs.toDouble)
        add(curOp, s"catalyst.${phase}_ms", p.durationMs)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private object streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val op = curOp
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      add(op, "stream.batches", 1)
      add(op, "stream.input_rows", p.numInputRows.toDouble)
      d.foreach { case (k, v) => add(op, s"stream.${k}_ms", v) }
      keepMax(op, "stream.state_rows",
        p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      keepMax(op, "stream.state_bytes",
        p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      asyncSpan("stream.trigger", start,
        start + d.getOrElse("triggerExecution", 0.0), "batch_id" -> p.batchId)
    }
  }

  /** Registers (or removes) the listeners; spans and counters persist. */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
      spark.streams.addListener(streams)
    } else {
      Shim.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
      spark.streams.removeListener(streams)
    }
    enabled = on
  }

  def countersOf(op: String): Map[String, Double] =
    counters.synchronized(counters.get(op).map(_.toMap).getOrElse(Map.empty))

  def spanMaps: Seq[Map[String, Any]] = spans.synchronized(spans.toSeq.map(_.toMap))
}
