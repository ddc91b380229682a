package graft

import org.apache.spark.sql.functions._

/** Before/after measurement for the wedge-join skew lever
  * ([[graft.operators.Graph.degreeRelabel]]) on a DELIBERATELY
  * hub-skewed graph — the input class the adaptive orientation in
  * `triangleCounts` exists for, and one the replicated-trade-graph
  * soak ladder cannot produce (disjoint replicas keep every degree
  * bounded at its sf0.1 value).
  *
  * The graph is deterministic (no RNG): `nBase` background edges
  * `(i·7919 mod n, i·2654435761 mod n)` — BOTH endpoints
  * multiplicatively scattered (two coprime multipliers), near-uniform
  * degree on each side — plus one mid-id hub (`n/2`) wired to every
  * `stride`-th node. The hub sits mid-range on purpose: under naive
  * id-order canonicalization a MID id has neighbors on both sides, so
  * the wedge join enumerates below·above ≈ (deg/2)² candidate pairs
  * under a single join key (the one-task straggler); a max-id hub
  * would accidentally dodge the blowup by having no out-edges at all.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.SkewBench [nNodes] [nBase] [stride]"
  * Prints one JSON line: naive (orientByDegree=false) vs adaptive
  * wall seconds and the wedge counts that explain them. Recorded in
  * NOTES_r11.md; re-run anywhere, the graph is a pure function of the
  * three ints.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 200000L
    val nBase = if (args.length > 1) args(1).toLong else 400000L
    val stride = if (args.length > 2) args(2).toLong else 10L
    // Driver memory cannot be set from the builder once the local-mode
    // JVM is running — launch with enough heap instead (SPARK_DRIVER_MEM,
    // or spark-submit --driver-memory); the repo's default heap suffices
    // for the documented (n, nBase, stride) sizes.
    val spark = GraftSession.builder("graft-skewbench").getOrCreate()
    val hub = n / 2
    val base = spark.range(nBase).select(
      pmod(col("id") * 7919L, lit(n)).as("a"),
      pmod(col("id") * 2654435761L, lit(n)).as("b"))
    val spokes = spark.range(n / stride).select(
      lit(hub).as("a"), (col("id") * stride).as("b"))
    val canon = base.unionAll(spokes)
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    canon.persist().count()

    def time(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def run(orient: Boolean): (Double, Long) = {
      val (sec, nTri) = time {
        graft.operators.Graph.triangleCounts(canon, orientByDegree = orient)
          .agg(sum(col("n_tri"))).collect().head.getLong(0)
      }
      GraftCache.releaseAll()
      (sec, nTri)
    }
    // adaptive first (cold penalty lands on the lever, not the naive)
    val (adaptiveSec, triA) = run(orient = true)
    val (adaptiveWarmSec, _) = run(orient = true)
    val (naiveSec, triN) = run(orient = false)
    require(triA == triN, s"triangle mass diverged: $triA vs $triN")
    val hubDeg = n / stride
    println(s"""{"metric":"skew_lever","n_nodes":$n,"n_edges":${canon.count()},""" +
      s""""hub_degree":$hubDeg,"naive_sec":$naiveSec,""" +
      s""""adaptive_sec":$adaptiveSec,"adaptive_warm_sec":$adaptiveWarmSec,""" +
      s""""tri_mass":$triA}""")
    spark.stop()
  }
}
