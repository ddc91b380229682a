package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.{GraftCache, ScaleSoak}
import graft.examples.TfIdfBench

/** Peak heap in use right after a collection, since the last reset:
  * collections the JVM reports while the window is open, and `gc()`.
  */
object HeapWatch {
  @volatile var peakBytes = 0L
  def reset(): Unit = peakBytes = 0L
  private def record(used: Long): Unit = synchronized { if (used > peakBytes) peakBytes = used }

  /** A full collection, with the heap in use after it recorded. */
  def gc(): Unit = {
    System.gc()
    record(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, h: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            record(used)
          }
      }, null, null)
    case _ =>
  }
}

/** Sums the input bytes tasks read. */
final class InputMeter extends SparkListener {
  @volatile var bytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized { bytes += e.taskMetrics.inputMetrics.bytesRead }
}

/** Entry point of the benchmark JVM. Modes:
  *  - `prepare`: generate the corpus_x10 tables and the text corpora;
  *  - `run`: run one workload (first runs, cold pass, warm passes) and,
  *    with `--trace 1`, the traced passes and layer probes.
  * Every mode writes one JSON object to `--out`.
  */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    HeapWatch.install()
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val work = arg("work")
    val base = arg("base")
    args("mode") match {
      case "prepare" => prepare(work, base, arg("data"), arg("out"))
      case "run" => run(args, work, base)
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** Session settings of the gate board (Bench): local[4], AQE on,
    * small listener retention, no GraftSession.tuneFor. `work` is the
    * process's scratch directory (Spark local dirs, outputs).
    */
  def session(work: String): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ui.retainedExecutions", "8")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "100")
    .config("spark.ui.retainedTasks", "2000")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  def secondsOf(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Writes a result or trace file: Scala maps, sequences and options. */
  def writeJson(path: String, v: Any): Unit = {
    new java.io.File(path).getAbsoluteFile.getParentFile.mkdirs()
    mapper.writeValue(new java.io.File(path), v)
  }

  /** Session build plus a warm-up query on a plan no operation uses. */
  def setup(work: String, base: String): (SparkSession, Map[String, Any]) = {
    val t0 = System.nanoTime()
    val spark = session(work)
    spark.sparkContext.setLogLevel("WARN")
    val start = secondsOf(t0)
    val t1 = System.nanoTime()
    val n = spark.read.parquet(s"$base/nation.parquet")
    val r = spark.read.parquet(s"$base/region.parquet")
    n.join(r, n("n_regionkey") === r("r_regionkey")).groupBy("r_name").count()
      .write.format("noop").mode("overwrite").save()
    val warmup = secondsOf(t1)
    (spark, Map("session_start_s" -> start, "warmup_s" -> warmup,
      "ready_ms" -> System.currentTimeMillis()))
  }

  def dirBytes(path: String): (Long, Int) = {
    val files = Option(new java.io.File(path)).filter(_.exists).toSeq.flatMap { f =>
      if (f.isFile) Seq(f)
      else java.nio.file.Files.walk(f.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toSeq
    }.filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    (files.map(_.length).sum, files.size)
  }

  /** Generates every workload's inputs once per checkout. */
  def prepare(work: String, base: String, data: String, out: String): Unit = {
    val spark = session(work)
    spark.sparkContext.setLogLevel("WARN")
    val gen = mutable.LinkedHashMap[String, Any]()
    val corpus = s"$data/corpus_x${Workloads.CorpusFactor}"
    val t0 = System.nanoTime()
    ScaleSoak.buildScaled(spark, base, corpus, Workloads.CorpusFactor)
    gen("corpus_x10") = Map("s" -> secondsOf(t0), "mb" -> dirBytes(corpus)._1 / 1e6)
    (0 until Workloads.TextVariants).foreach { v =>
      val path = s"$data/text/corpus_v$v.txt"
      new java.io.File(path).getParentFile.mkdirs()
      val t1 = System.nanoTime()
      val bytes = TfIdfBench.generateCorpus(path + ".tmp", Workloads.TextBytes, seed = 1000L + v)
      java.nio.file.Files.move(java.nio.file.Paths.get(path + ".tmp"), java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      gen(s"text/v$v") = Map("s" -> secondsOf(t1), "mb" -> bytes / 1e6)
    }
    spark.stop()
    writeJson(out, gen)
  }

  final class OpStats(val op: Op) {
    var cold: Option[Double] = None
    val warm = mutable.ArrayBuffer[Double]()
    val tracedWarm = mutable.ArrayBuffer[Double]()
    val counted = mutable.ArrayBuffer[Double]()
    var digest: String = null
    var inputBytes = 0L
    var attempts = 0
    var errors = 0
    var error: String = null
    var coldExec = -1
    val warmExecs = mutable.ArrayBuffer[Int]()
    val cache = mutable.ArrayBuffer[Map[String, Double]]()
    val heapMb = mutable.ArrayBuffer[Double]()
    def broken: Boolean = error != null
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def run(args: Map[String, String], work: String, base: String): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.get("trace").contains("1")
    val in = Inputs(base, s"${args("data")}/corpus_x${Workloads.CorpusFactor}", args.getOrElse("text", ""),
      s"$work/out")

    val (spark, setupStats) = setup(work, base)
    val sc = spark.sparkContext
    // --ops replaces the workload's operations by graded queries over
    // its inputs ("sample" = Workloads.boardSample), for one-off analysis
    // runs; those have no recorded digests, so no check pass.
    val custom = args.get("ops").filter(_.nonEmpty)
    val ops = custom match {
      case Some(list) =>
        val dir = if (workload == "corpus_x10") in.corpus else in.base
        val names = if (list == "sample") Workloads.boardSample else Workloads.graded(list.split(",").toSeq)
        names.map(Workloads.query(_, dir))
      case None => Workloads.ops(workload, in)
    }
    val stats = ops.map(o => o.name -> new OpStats(o)).toMap
    val rnd = new scala.util.Random(seed)
    val tracer = new Tracer(spark)
    val phaseOf = mutable.HashMap[Int, String]()

    def release(st: OpStats, record: Boolean): Unit = {
      val frames = GraftCache.pendingCount
      val (mem, disk) = if (record) {
        val info = sc.getRDDStorageInfo
        (info.map(_.memSize).sum / 1e6, info.map(_.diskSize).sum / 1e6)
      } else (0.0, 0.0)
      val t0 = System.nanoTime()
      GraftCache.releaseAll()
      spark.catalog.clearCache()
      if (record) st.cache += Map("frames" -> frames.toDouble, "mem_mb" -> mem, "disk_mb" -> disk,
        "release_s" -> secondsOf(t0))
      quiesce()
    }

    /** Lets the next execution start from the same state: the released
      * blocks gone (unpersist is asynchronous) and the heap collected.
      */
    def quiesce(): Unit = {
      val deadline = System.nanoTime() + 2000000000L
      while (sc.getRDDStorageInfo.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      HeapWatch.gc()
    }

    def fail(st: OpStats, e: Throwable): Unit = {
      st.errors += 1
      st.error = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
    }

    /** One timed execution in a fresh session; None if it threw. */
    def execute(st: OpStats, phase: String, count: Boolean = false): Option[Double] = {
      val op = st.op
      st.attempts += 1
      val s = spark.newSession()
      tracer.watch(s)
      val ex = tracer.newExec()
      phaseOf(ex) = phase
      HeapWatch.reset()
      val t0 = System.nanoTime()
      val result = try {
        tracer.span("op", op.name, ex) {
          val p = tracer.span(if (op.kind == "program") "pipe" else "build", op.name, ex)(op.build(s))
          if (tracer.attached) tracer.span("plan", op.name, ex)(p.plan())
          tracer.span(if (op.sink.isDefined) "sink" else "exec", op.name, ex) {
            if (count) p.count() else p.act()
          }
        }
        Some(secondsOf(t0))
      } catch { case e: Throwable => fail(st, e); None }
      release(st, tracer.attached)
      if (phase != "count") st.heapMb += HeapWatch.peakBytes / 1e6
      System.err.println(s"[perfbench] $phase ${op.name} ${result.map(x => f"$x%.3f").getOrElse(st.error)}")
      if (tracer.attached && phase == "warm") st.warmExecs += ex
      if (phase == "cold") st.coldExec = ex
      result
    }

    def shuffled: Seq[OpStats] = rnd.shuffle(ops.map(o => stats(o.name))).filterNot(_.broken)

    // First runs (untimed): each operation once, digesting its output.
    // They also take the JVM's first-use costs (class loading, JIT) out
    // of the cold pass. Analysis runs (--ops) have no digests to check.
    shuffled.foreach { st =>
      st.attempts += 1
      try {
        val p = st.op.build(spark.newSession())
        if (custom.isEmpty) st.digest = p.check() else p.act()
      } catch { case e: Throwable => fail(st, e) }
      release(st, record = false)
    }
    val sinks = ops.flatMap(_.sink).map(dirBytes)

    // Cold pass: each operation in a fresh session with Spark's codegen
    // cache emptied, so it pays code generation and compilation again;
    // the bytes of input it reads are counted.
    val meter = new InputMeter
    sc.addSparkListener(meter)
    if (traced) tracer.attach()
    shuffled.foreach { st =>
      PerfbenchAccess.drain(sc)
      val before = meter.bytes
      PerfbenchAccess.clearCodegenCache()
      st.cold = execute(st, "cold")
      PerfbenchAccess.drain(sc)
      st.inputBytes = meter.bytes - before
    }
    tracer.detach()
    sc.removeSparkListener(meter)

    // Warm loop: whole passes in a seeded order, at least the workload's
    // minimum, and another only while it is expected to end within
    // `seconds`. In a traced run, passes alternate untraced and traced.
    val minPasses = Workloads.minPasses(workload)
    val loop0 = System.nanoTime()
    var passes = 0
    def more = passes < minPasses ||
      secondsOf(loop0) * (passes + (if (traced) 2 else 1)) / passes <= seconds
    while (more) {
      val tracedPass = traced && passes % 2 == 1
      if (tracedPass) tracer.attach()
      shuffled.foreach { st =>
        execute(st, "warm").foreach(w => if (tracedPass) st.tracedWarm += w else st.warm += w)
      }
      tracer.detach()
      passes += 1
    }
    val loopSeconds = secondsOf(loop0)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup" -> setupStats, "passes" -> passes, "warm_loop_s" -> loopSeconds)

    if (traced) {
      // .count() against the noop sink, on the query operations.
      val queries = ops.filter(_.kind == "query").map(o => stats(o.name)).filterNot(_.broken)
      rnd.shuffle(queries).foreach(st => execute(st, "count", count = true).foreach(st.counted += _))
      val layers = Layers.aggregate(tracer, ops.map(o => stats(o.name)), sinks)
      val tables = Layers.tables(spark, tracer, workload, in)
      val kernels = Kernels.run(spark, in.corpus)
      val host = Map("host.calib_1t_ms" -> Layers.calibrate(1), "host.calib_nt_ms" -> Layers.calibrate(Cores))
      result("layers") = layers ++ tables ++ kernels ++ host ++
        Map("session.start_s" -> setupStats("session_start_s"), "session.warmup_s" -> setupStats("warmup_s"))
      result("count_vs_noop") = queries.map(st => Map("op" -> st.op.name,
        "count_s" -> median(st.counted.toSeq), "noop_s" -> median(st.warm.toSeq)))
      tracer.write(args("trace-file"), Map("workload" -> workload, "seed" -> seed,
        "phases" -> phaseOf.map { case (k, v) => k.toString -> v }))
    }

    result("ops") = ops.map { o =>
      val st = stats(o.name)
      Map("name" -> o.name, "kind" -> o.kind, "pack" -> Workloads.pack(o.name), "cold_s" -> st.cold,
        "warm_s" -> st.warm.toSeq, "heap_mb" -> st.heapMb.toSeq,
        "traced_warm_s" -> st.tracedWarm.toSeq, "digest" -> st.digest, "input_bytes" -> st.inputBytes,
        "attempts" -> st.attempts, "errors" -> st.errors, "error" -> st.error)
    }
    result("peak_heap_mb") = ops.map(o => median(stats(o.name).heapMb.toSeq)).max
    writeJson(args("out"), result)
    spark.stop()
  }
}
