package graft

import org.apache.spark.sql.functions._

/** The one session builder (its settings, its master choice, its cpus
  * default) and `tuneFor`'s partition sizing (NOTES_r6 findings as
  * code): the sizing rule itself, and the cache-boundary behavior the
  * rule depends on — with `canChangeCachedPlanOutputPartitioning` set, a
  * persisted frame's partitioning is AQE-coalesced instead of pinning
  * the initial partition count through the cache.
  */
class GraftSessionSpec extends SparkSpec {

  // Reads confs only: no second SparkContext, no job.
  test("builder applies the shared settings; the test session is built by it") {
    import GraftSession._
    val none = new org.apache.spark.SparkConf(loadDefaults = false)
    val shared = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.ui.retainedExecutions" -> "8",
      "spark.ui.retainedJobs" -> "100",
      "spark.ui.retainedStages" -> "100",
      "spark.ui.retainedTasks" -> "2000",
      "spark.log.level" -> "WARN")
    assert(conf("graft-x", none, 7).getAll.toMap === shared ++ Map(
      "spark.app.name" -> "graft-x",
      "spark.master" -> "local[7]",
      "spark.sql.shuffle.partitions" -> "7"))
    val n = cpus(sys.env)
    val live = spark.sparkContext.getConf
    (shared ++ Map("spark.app.name" -> "graft-test", "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n.toString)).foreach { case (k, v) =>
      assert(live.get(k) === v, k)
    }
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString === "WARN")
  }

  test("builder: a master already in SparkConf wins over local[cpus]; cpus default 4") {
    import GraftSession._
    assert(masterFor(None, 6) === "local[6]")
    assert(masterFor(Some("spark://head:7077"), 6) === "spark://head:7077")
    val submitted = new org.apache.spark.SparkConf(loadDefaults = false).setMaster("yarn")
    assert(conf("graft-x", submitted).get("spark.master") === "yarn")
    assert(cpus(Map.empty) === 4)
    assert(cpus(Map("SPARK_GRAFT_CPUS" -> "16")) === 16)
  }

  test("initialPartitionsFor clamps between parallelism and the cap") {
    import GraftSession.initialPartitionsFor
    // small inputs keep the core-count default
    assert(initialPartitionsFor(0L, 16) === 16)
    assert(initialPartitionsFor(10L << 20, 16) === 16)
    // the round-6 grid's 1000x tier: 1.4 GB of parquet -> ~350
    // partitions, the same decade as the measured-fastest 512
    // (2.7 MB/partition) and well clear of the 2-4x-slower static 16
    assert(initialPartitionsFor(1400L << 20, 16) === 351)
    // cap binds at 4096 no matter the input
    assert(initialPartitionsFor(1L << 50, 16) === 4096)
    // parallelism floor wins over tiny data
    assert(initialPartitionsFor(1L << 20, 96) === 96)
  }

  test("pathBytes sums a parquet directory and returns 0 for absent paths") {
    assert(GraftSession.pathBytes("/nonexistent/graft/nowhere") === 0L)
    val docs = GraftSession.pathBytes(s"$sf001/documents.parquet")
    assert(docs > 0L)
    // directory sum dominates any single file in it
    assert(GraftSession.pathBytes(sf001) >= docs)
  }

  test("tuneFor lets AQE coalesce persisted-frame partitioning through the cache") {
    // Without the cache-boundary conf, a persisted aggregate
    // materializes with the UNcoalesced final stage — initPn partitions
    // — and every downstream stage pays that many tasks (the q87
    // regression mechanism from the round-6 grid). With tuneFor's
    // defaults the cached output is coalesced to data size.
    val pinned = spark.newSession()
    pinned.conf.set("spark.sql.adaptive.enabled", "true")
    pinned.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "64")
    val dfPinned = pinned.range(1000).toDF("id")
      .groupBy((col("id") % 10).as("k")).count().persist()
    dfPinned.count()
    val pinnedParts = dfPinned.rdd.getNumPartitions
    dfPinned.unpersist(blocking = false)

    val tuned = spark.newSession()
    GraftSession.tuneFor(tuned) // no inputs -> floor = parallelism
    tuned.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "64")
    val dfTuned = tuned.range(1000).toDF("id")
      .groupBy((col("id") % 10).as("k")).count().persist()
    dfTuned.count()
    val tunedParts = dfTuned.rdd.getNumPartitions
    dfTuned.unpersist(blocking = false)

    // kilobytes of data: AQE coalesces to ~1 partition when allowed
    assert(pinnedParts === 64,
      s"expected the default cache boundary to pin initPn=64, got $pinnedParts")
    assert(tunedParts < 8,
      s"expected AQE-coalesced cached partitioning under tuneFor, got $tunedParts")
  }
}
