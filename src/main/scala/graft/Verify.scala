package graft
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder("graft-verify").getOrCreate()
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated name substrings); the
    // driver never sets it, so the gate always runs the full board.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // Wipe stale query outputs from a reused outDir: check.py grades
    // every q* subdirectory it finds, so a leftover result from an
    // OLDER build would be compared against the CURRENT oracle and
    // report phantom failures (or worse, phantom passes).
    // Scope the wipe to the queries THIS invocation will regenerate:
    // a SPARK_GRAFT_ONLY dev-subset run must not hollow out committed
    // outputs it isn't going to rewrite (full runs still wipe every
    // q* dir, including queries since removed from the board).
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("q"))
      .filter(f => only.forall(_.exists(f.getName.contains)))
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // drop the frames THIS query persisted — 240+ queries otherwise
        // accrete unreachable cache entries across the whole gate run
        // (Bench and ScaleSoak already release per query)
        GraftCache.releaseAll()
      }
    }
    new ObjectMapper().writeValue(new java.io.File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.asJava)
    spark.stop()
  }
}
