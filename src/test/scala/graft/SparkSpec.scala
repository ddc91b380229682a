package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's single test JVM).
  */
object TestSession {
  lazy val spark: SparkSession = GraftSession.builder("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf001 = "/root/testdata/sf0.001"

  /** Spark jobs `body` launches, counted under a unique job group
    * through the public status tracker. The tracker is fed by the
    * listener bus, so a marker job in a second group runs after `body`:
    * once the tracker lists the marker, it has seen every earlier job.
    */
  def jobsIn(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobsIn-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "counted", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty) {
      assert(System.nanoTime() < deadline, "status tracker never listed the marker job")
      Thread.sleep(2)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
