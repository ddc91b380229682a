package perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchAccess, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts gathered inside one span. Times are seconds, sizes bytes. */
final class Counts {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def apply(k: String): Double = v.getOrElse(k, 0.0)
}

/** One traced interval: a layer boundary crossed by the benchmark. */
final class Span(val id: Int, val name: String, val parent: Int, val op: String,
    val exec: Int, val start: Long) {
  @volatile var end: Long = 0L
  val counts = new Counts
  def seconds: Double = (end - start) / 1e9
}

/** Spark-side counters, attributed to the span whose job group the job
  * carries (or, for events without one, to the innermost open span; the
  * bus is drained before a span closes, so no event leaks into the
  * next one).
  */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val jobSpan = mutable.HashMap[Int, Span]()
  private val jobStages = mutable.HashMap[Int, Seq[Int]]()
  private val submitted = mutable.HashSet[Int]()

  private def spanOf(props: java.util.Properties): Span = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.flatMap(tracer.byGroup).getOrElse(tracer.current)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = s
    jobStages(e.jobId) = e.stageIds
    if (s != null) s.counts.add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val s = jobSpan.remove(e.jobId).orNull
    val stages = jobStages.remove(e.jobId).getOrElse(Nil)
    if (s != null) s.counts.add("stages_skipped", stages.count(id => !submitted(id)).toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
    val s = spanOf(e.properties)
    if (s != null) s.counts.add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = tracer.current
    val span = jobSpanForStage(e.stageId).getOrElse(s)
    if (span == null) return
    val c = span.counts
    c.add("tasks", 1)
    if (e.reason != Success) c.add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("task_s", m.executorRunTime / 1e3)
      c.add("cpu_s", m.executorCpuTime / 1e9)
      c.add("gc_s", m.jvmGCTime / 1e3)
      c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("spill_bytes", m.diskBytesSpilled.toDouble)
      c.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      c.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      val i = e.taskInfo
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      c.add("sched_delay_s", math.max(0L, delay) / 1e3)
    }
  }

  private def jobSpanForStage(stageId: Int): Option[Span] =
    jobStages.collectFirst { case (job, st) if st.contains(stageId) => jobSpan.get(job) }.flatten
}

/** SQL executions finished inside a span, with their Catalyst
  * optimizer and planner time.
  */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val s = tracer.current
    if (s != null) {
      s.counts.add("sql_executions", 1)
      val phases = qe.tracker.phases
      val ms = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      s.counts.add("sql_plan_s", ms / 1e3)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Keeps spans in memory; [[write]] dumps them at the end of the run.
  * While attached, it registers a SparkListener and a
  * QueryExecutionListener and tags every job with the open span's job
  * group; detached, `span` only runs its body, so untraced passes carry
  * no tracing work.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  @volatile var current: Span = null
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val listener = new SpanListener(this)
  private val planListener = new PlanListener(this)
  private var sessions = List.empty[SparkSession]
  var attached = false
  var execCounter = 0

  def byGroup(g: String): Option[Span] = Option(groups.get(g))

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    PerfbenchAccess.drain(sc)
    sc.removeSparkListener(listener)
    sessions.foreach(_.listenerManager.unregister(planListener))
    sessions = Nil
    attached = false
  }

  /** Sessions are per execution; each one gets the plan listener. */
  def watch(s: SparkSession): Unit = if (attached) {
    s.listenerManager.register(planListener)
    sessions ::= s
  }

  def newExec(): Int = { execCounter += 1; execCounter }

  def span[T](name: String, op: String, exec: Int)(f: => T): T =
    if (!attached) f else traced(name, op, exec)(f)

  private def traced[T](name: String, op: String, exec: Int)(f: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), op, exec, System.nanoTime())
    spans += s
    stack = s :: stack
    current = s
    val group = s"perfbench-span-${s.id}"
    groups.put(group, s)
    sc.setJobGroup(group, s"$op/$name", interruptOnCancel = false)
    val compile0 = CodeGenerator.compileTime
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try f
    finally {
      s.end = System.nanoTime()
      s.counts.add("codegen_compile_s", (CodeGenerator.compileTime - compile0) / 1e9)
      s.counts.add("codegen_classes", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble)
      PerfbenchAccess.drain(sc)
      stack = stack.tail
      current = stack.headOption.orNull
      parent match {
        case Some(p) => sc.setJobGroup(s"perfbench-span-${p.id}", s"${p.op}/${p.name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def write(path: String, extra: Map[String, Any]): Unit = {
    val rows = spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op, "exec" -> s.exec,
        "start_ns" -> s.start, "end_ns" -> s.end, "counts" -> s.counts.v.toMap)
    }
    Main.writeJson(path, extra + ("spans" -> rows.toSeq))
  }
}
