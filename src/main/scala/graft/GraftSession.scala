package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The session policy of every graft main and of the test session, in
  * one place ([[builder]]), plus the scale-right partition sizing that
  * `ScaleSoak` alone applies on top of it ([[tuneFor]]).
  *
  * [[builder]] sets what each run shares: the master (`local[cpus]`
  * unless `SparkConf` already names one), one shuffle partition per
  * core, AQE on, UTC, no UI, small listener retention and WARN logging.
  * `SPARK_GRAFT_CPUS` (default 4) is its only input.
  *
  * [[tuneFor]] turns the round-6 soak finding (NOTES_r6
  * "Partition-sizing findings") into code. Only `ScaleSoak` calls it;
  * the board, the oracle dump and the other mains run without it.
  *
  * What the 1000× rung measured: the pair pipelines' shingle
  * aggregations spill when the shuffle is statically sized for the
  * core count (q51 139 s, q68 195 s at 5M docs on 16 static
  * partitions), and AQE with `initialPartitionNum` sized for the DATA
  * fixes it (63 s / 51 s) — but a high initial count then taxes every
  * CACHED pipeline, because by default a persisted frame materializes
  * with the UNcoalesced final-stage partitioning (AQE must keep cached
  * output partitioning stable), so downstream stages pay thousands of
  * tiny tasks (q87 warm 3.7 s → 29 s at 100×).
  *
  * Both halves have public levers, which [[tuneFor]] applies together:
  *
  *  1. `spark.sql.adaptive.coalescePartitions.initialPartitionNum` is
  *     sized from the INPUT BYTES actually being processed: one shuffle
  *     partition per [[TargetInputBytesPerPartition]] (4 MB) of
  *     compressed input, floored at the cluster parallelism, capped at
  *     4096. Big inputs get enough partitions not to spill; small
  *     inputs keep the core-count default.
  *  2. `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`
  *     lets AQE coalesce THROUGH the cache boundary, so persisted
  *     frames hold data-sized partitions instead of pinning the
  *     initial count — removing the trap that made high-initial
  *     configs regress cached pipelines. (The alternative — eagerly
  *     `repartition()` every frame GraftCache persists — costs an
  *     extra full shuffle per persist; the conf gets the same result
  *     for free.)
  *
  * On a real cluster the same two settings are correct for the same
  * reasons — there, extra initial partitions are parallelism rather
  * than scheduling overhead, which only widens the win.
  */
object GraftSession {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus(env: Map[String, String]): Int = env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** A master already in `SparkConf` (`spark-submit --master`,
    * `-Dspark.master`) wins over `local[cpus]`.
    */
  def masterFor(confMaster: Option[String], cpus: Int): String =
    confMaster.getOrElse(s"local[$cpus]")

  /** Everything [[builder]] sets for a session named `appName` on `n`
    * local threads; `sysConf` supplies a master set outside the program.
    */
  def conf(appName: String, sysConf: SparkConf = new SparkConf(),
      n: Int = cpus(sys.env)): SparkConf =
    new SparkConf(loadDefaults = false).setAppName(appName)
      .setMaster(masterFor(sysConf.getOption("spark.master"), n))
      .set("spark.sql.shuffle.partitions", n.toString)
      .set("spark.sql.adaptive.enabled", "true")
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      // The status listeners retain up to 1000 SQL executions and their
      // stage/task state even with the UI off; across a 200+ query
      // sweep (600+ executions, thousands of stages) the single
      // listener thread falls behind and the event bus fills, at which
      // point EVENT PRODUCERS BLOCK inside query execution — measured
      // as a flat ~0.3-1.5 s inflation on every late-sweep measurement
      // (chaos-harness re-measures; host calibration stayed flat, heap
      // and code-cache levers changed nothing). Keep retained state
      // tiny so listener processing stays O(small) for the whole run.
      .set("spark.sql.ui.retainedExecutions", "8")
      .set("spark.ui.retainedJobs", "100")
      .set("spark.ui.retainedStages", "100")
      .set("spark.ui.retainedTasks", "2000")
      .set("spark.log.level", "WARN")

  /** The one session builder: callers add only their own settings and
    * call `getOrCreate()`.
    */
  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder().config(conf(appName))

  /** One shuffle partition per this many bytes of compressed input.
    * Parquet→shuffle expansion (snappy decode ~3-5×, then the
    * shingle/signature blowup another ~2-3×) turns a 4 MB input slice
    * into tens of MB of in-flight aggregation state — comfortably in
    * memory. Calibrated against the round-6 grid: 1.4 GB of scaled
    * input ran fastest at 512 initial partitions (≈ 2.7 MB/partition);
    * 96 (≈ 15 MB/partition) was ~18% slower; static 16 spilled and
    * read 2-4× slower.
    */
  val TargetInputBytesPerPartition: Long = 4L << 20

  /** Initial-partition cap: far above any local tier, and on a cluster
    * 4096 × 4 MB ≈ 16 GB of input per AQE stage before the cap binds —
    * at 100 TB the input is partitioned by the source scan anyway and
    * this knob only governs mid-plan shuffles, where AQE coalescing
    * (now cache-transparent) sizes the actual task counts.
    */
  val MaxInitialPartitions: Int = 4096

  /** The sizing rule, as a pure function (unit-tested): partitions =
    * clamp(bytes / 4 MB, parallelism, 4096).
    */
  def initialPartitionsFor(inputBytes: Long, parallelism: Int): Int = {
    val byData = (inputBytes / TargetInputBytesPerPartition) + 1
    math.min(MaxInitialPartitions.toLong, math.max(parallelism.toLong, byData)).toInt
  }

  /** Recursive byte count of a file or directory (0 if absent) —
    * local-filesystem sizing for the soak/bench tiers; on a cluster
    * the catalog or `FileStatus` sums serve the same number.
    */
  def pathBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Apply the scale-right defaults to `spark` for the given input
    * paths: cache-transparent AQE coalescing plus an
    * `initialPartitionNum` sized from the inputs' on-disk bytes.
    * Returns the chosen initial partition count. Runtime confs only —
    * safe on a live session; affects plans compiled after the call.
    */
  def tuneFor(spark: SparkSession, inputPaths: String*): Int = {
    val n = initialPartitionsFor(inputPaths.map(pathBytes).sum,
      spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", n.toString)
    // Once AQE may size partitions EVERYWHERE (including into persisted
    // frames, per the conf above), the advisory size is the lever that
    // bounds per-task deserialized state — BUT it only governs when
    // parallelismFirst is off: the default (true) coalesces to
    // totalBytes/parallelism, which at a multi-GB shuffle on 16 cores
    // is ~128 MB partitions. The pair pipelines carry wide aggregation
    // rows (shingle-set arrays: ~5-10x deserialized expansion off the
    // shuffle bytes), and partitions that size OOMed an 8 GB local
    // driver at the 1000x soak tier the moment the cache boundary
    // stopped shielding them. parallelismFirst=false + a 16 MB
    // advisory keeps in-flight state bounded at ~1-3 GB for 16 threads
    // while staying far above the 1 MB floor where task-scheduling
    // overhead dominates; small inputs still coalesce to few
    // partitions, so the local gate loses nothing.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    n
  }
}
