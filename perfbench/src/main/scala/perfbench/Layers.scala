package perfbench

import org.apache.spark.sql.SparkSession
import graft.Tables
import Main.{median, OpStats}

/** Per-layer metrics of a traced run, aggregated over a workload's
  * operations: for each operation the median over its traced warm
  * executions, summed over operations.
  */
object Layers {
  private val Build = Set("build")
  private val Plan = Set("plan")
  private val Action = Set("exec", "sink")
  private val Root = Set("op")

  def aggregate(tr: Tracer, stats: Seq[OpStats], sinks: Seq[(Long, Int)]): Map[String, Double] = {
    val byExec = tr.spans.groupBy(_.exec)
    def spans(ex: Int, names: Set[String]) = byExec.getOrElse(ex, Nil).filter(s => names(s.name))
    def dur(names: Set[String])(ex: Int): Double = spans(ex, names).map(_.seconds).sum
    def cnt(names: Set[String], k: String)(ex: Int): Double = spans(ex, names).map(_.counts(k)).sum
    def sumOps(ops: Seq[OpStats])(f: Int => Double): Double =
      ops.map(st => median(st.warmExecs.toSeq.map(f))).sum
    val ok = stats.filterNot(_.broken)
    def all(f: Int => Double) = sumOps(ok)(f)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    val wall = all(dur(Root))
    val buildS = all(dur(Build))
    val planS = all(dur(Plan))
    val execS = all(dur(Action))
    val buildJobs = all(cnt(Build, "jobs"))
    val execJobs = all(cnt(Action, "jobs"))
    val stages = all(cnt(Action, "stages"))
    val skipped = all(cnt(Action, "stages_skipped"))
    val taskS = all(cnt(Action, "task_s"))
    val cold = ok.filter(_.coldExec >= 0)
    val coldWall = cold.map(st => dur(Root)(st.coldExec)).sum
    val warmOfCold = sumOps(cold)(dur(Root))
    def cache(k: String) = ok.map(st => median(st.cache.toSeq.map(_(k)))).sum
    val programs = ok.filter(_.op.kind != "query")
    val queries = ok.filter(_.op.kind == "query")
    val untraced = ok.map(st => median(st.warm.toSeq)).sum
    val tracedTotal = ok.map(st => median(st.tracedWarm.toSeq)).sum
    val countS = queries.map(st => median(st.counted.toSeq)).sum
    val noopS = queries.map(st => median(st.warm.toSeq)).sum

    Map(
      "build.s" -> buildS,
      "build.jobs" -> buildJobs,
      "build.tasks" -> all(cnt(Build, "tasks")),
      "build.share" -> ratio(buildS, wall),
      "plan.s" -> planS,
      "plan.share" -> ratio(planS, wall),
      "codegen.compile_s" -> cold.map(st => cnt(Root, "codegen_compile_s")(st.coldExec)).sum,
      "codegen.classes" -> cold.map(st => cnt(Root, "codegen_classes")(st.coldExec)).sum,
      "codegen.cold_minus_warm_s" -> (coldWall - warmOfCold),
      "exec.s" -> execS,
      "exec.jobs" -> execJobs,
      "exec.stages" -> stages,
      "exec.stages_skipped" -> skipped,
      "exec.tasks" -> all(cnt(Action, "tasks")),
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> all(cnt(Action, "cpu_s")),
      "exec.gc_s" -> all(cnt(Action, "gc_s")),
      "exec.sched_delay_s" -> all(cnt(Action, "sched_delay_s")),
      "exec.core_util" -> ratio(taskS, execS * Main.Cores),
      "exec.shuffle_read_mb" -> all(cnt(Action, "shuffle_read_bytes")) / 1e6,
      "exec.shuffle_write_mb" -> all(cnt(Action, "shuffle_write_bytes")) / 1e6,
      "exec.spill_mb" -> all(cnt(Action, "spill_bytes")) / 1e6,
      "exec.failed_tasks" -> all(cnt(Action, "failed_tasks")),
      "exec.count_prune_ratio" -> ratio(countS, noopS),
      "cache.frames" -> cache("frames"),
      "cache.mem_mb" -> cache("mem_mb"),
      "cache.disk_mb" -> cache("disk_mb"),
      "cache.release_s" -> cache("release_s"),
      "pipe.s" -> sumOps(programs)(dur(Root)),
      "sink.s" -> all(dur(Set("sink"))),
      "sink.mb" -> sinks.map(_._1).sum / 1e6,
      "sink.files" -> sinks.map(_._2).sum.toDouble,
      "waste.build_jobs_frac" -> ratio(buildJobs, buildJobs + execJobs),
      "waste.stages_skipped_frac" -> ratio(skipped, stages + skipped),
      "trace.untraced_warm_total_s" -> untraced,
      "trace.traced_warm_total_s" -> tracedTotal,
      "trace.overhead_s" -> (tracedTotal - untraced))
  }

  /** `tables` layer: median time (and jobs) of opening each input table
    * through graft.Tables in a fresh session, summed over the tables.
    */
  def tables(spark: SparkSession, tr: Tracer, workload: String, in: Inputs): Map[String, Double] = {
    val dir = if (workload == "corpus_x10") in.corpus else in.base
    val opens: Seq[(String, SparkSession => Any)] =
      Workloads.tables(workload).map(t => t -> ((s: SparkSession) => Tables.table(s, dir, t))) ++
        (if (workload == "gate_board") Seq("text" -> ((s: SparkSession) => Tables.text(s, in.text))) else Nil)
    tr.attach()
    val perTable = opens.map { case (name, open) =>
      val runs = (1 to 3).map { _ =>
        val ex = tr.newExec()
        tr.span("tables.open", name, ex)(open(spark.newSession()))
        tr.spans.last
      }
      (median(runs.map(_.seconds)), median(runs.map(_.counts("jobs"))))
    }
    tr.detach()
    Map("tables.open_s" -> perTable.map(_._1).sum, "tables.open_jobs" -> perTable.map(_._2).sum)
  }

  /** Bench's host calibration: a fixed 200M-step xorshift loop, in ms,
    * on `threads` threads at once.
    */
  def calibrate(threads: Int): Double = {
    def burn(iters: Long): Long = {
      var x = 88172645463325252L; var i = 0L
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    val sink = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(_ => new Thread(() => { sink.addAndGet(burn(200000000L)); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
}
