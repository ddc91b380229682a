package graft.examples

/** CLI entry point for the end-to-end corpus-cleaning pipeline:
  *
  *   sbt "runMain graft.examples.CleanCorpus <documents.parquet> <outDir> [qualityMin] [jaccard]"
  *
  * Reads a (doc_id, text, ...) parquet table, runs
  * [[CorpusPipeline.clean]] (quality gate → exact dedup → MinHash+LSH
  * near-dedup keeping cluster representatives) and writes the cleaned
  * ids + metadata as parquet. The session is [[graft.GraftSession]]'s,
  * `local[SPARK_GRAFT_CPUS]` by default; on a cluster, submit the same
  * main with `spark-submit --master <url>` and the pipeline scales as
  * described in [[CorpusPipeline]].
  */
object CleanCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CleanCorpus <documents.parquet> <outDir> [qualityMin] [jaccardThreshold]")
    val (in, out) = (args(0), args(1))
    val qualityMin = if (args.length > 2) args(2).toDouble else 0.5
    val jaccard = if (args.length > 3) args(3).toDouble else 0.6
    val spark = graft.GraftSession.builder("graft-clean-corpus").getOrCreate()
    val docs = spark.read.parquet(in)
    val cleaned = CorpusPipeline.clean(docs, qualityMin, jaccard)
    cleaned.write.mode("overwrite").parquet(out)
    // drop the pipeline's internal persisted frames now that the
    // terminal action ran — a long-lived session stays storage-flat
    graft.GraftCache.releaseAll()
    println(s"[clean] ${docs.count()} documents in -> ${spark.read.parquet(out).count()} kept at $out")
    spark.stop()
  }
}
