package graft

import org.apache.spark.sql.SparkSession

/** Scale-right execution defaults, shipped as code instead of env
  * knobs — the round-6 soak finding
  * (NOTES_r6 "Partition-sizing findings") turned into the default.
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
  * Both halves have public levers, applied together here:
  *
  *  1. `spark.sql.adaptive.coalescePartitions.initialPartitionNum` is
  *     sized from the INPUT BYTES actually being processed
  *     ([[tuneFor]]): one shuffle partition per
  *     [[TargetInputBytesPerPartition]] (4 MB) of compressed input,
  *     floored at the cluster parallelism, capped at 4096. Big
  *     inputs get enough partitions not to spill; small inputs keep
  *     the core-count default.
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
