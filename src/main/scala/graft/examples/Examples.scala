package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipe

/** The reference's example programs re-expressed over this library —
  * proof that a user of the reference can port their pipelines 1:1.
  * Each function returns the result frame/pipe so specs can assert on
  * it; [[ExamplesMain]] runs them like the originals.
  */
object Examples {

  /** Word count — `/root/reference/examples/wc.py:11-17`:
    * text → flat_map(split) → fold_by(word, +) → sort_by(-count).
    * Typed-DSL form (closure-compatible with the reference's lambdas).
    */
  def wordCountTyped(spark: SparkSession, path: String): Pipe[(String, Int)] = {
    import spark.implicits._
    Pipe.text(spark, path)
      .flatMap(_.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty).map(w => (w, 1)))
      .foldBy(_._1) { case ((w, a), (_, b)) => (w, a + b) }
      .map { case (_, wc) => wc }
      .sortBy { case (_, n) => -n }
  }

  /** Word count, DataFrame-first form — what the same pipeline should
    * look like when Catalyst is allowed to optimize it.
    */
  def wordCountDF(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("line")
      .select(explode(split(lower(col("line")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))

  /** tf-idf — `/root/reference/benchmarks/tf-idf-dampr.py:9-21`:
    * per-word document frequency over line-documents, idf =
    * log(1 + n_docs / df), broadcast of the doc count (the reference's
    * `memory=True` cross). The reference treats each line as a doc.
    */
  def tfIdf(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.textFile(path).toDF("line")
      .withColumn("doc_id", monotonically_increasing_id())
    val tok = lines.select(col("doc_id"),
      explode(array_distinct(filter(split(lower(col("line")), "\\s+"), w => w =!= ""))).as("word"))
    val df = tok.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = lines.agg(count(lit(1)).as("n_docs"))
    df.crossJoin(broadcast(n))
      .select(col("word"), (log(lit(1.0) + col("n_docs") / col("df"))).as("idf"))
  }

  /** Multi-output shared-DAG run — `/root/reference/examples/word-stats.py:12-41`:
    * one cached token pipeline feeding four outputs (total count, top
    * words, per-length counts, average word length), computed with the
    * upstream shared via `cache()` instead of the reference's
    * `Graph.union` stage dedup.
    */
  def wordStats(spark: SparkSession, path: String): (Long, Array[(String, Long)], Array[(Int, Long)], Double) = {
    import spark.implicits._
    val words = spark.read.textFile(path)
      .flatMap(_.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
      .cache()
    val total = words.count()
    val top = words.groupByKey(identity).count().toDF("w", "n")
      .orderBy(col("n").desc, col("w")).as[(String, Long)].take(5)
    val byLen = words.map(_.length).groupByKey(identity).count().collect().sortBy(_._1)
    val avgLen = words.map(_.length.toDouble).reduce(_ + _) / math.max(total, 1L)
    (total, top, byLen, avgLen)
  }
}

/** Runnable form — `sbt "runMain graft.examples.ExamplesMain <textPath>"`:
  * word count (sunk as TSV like `examples/wc.py:17`), tf-idf, and the
  * multi-output word-stats run.
  */
object ExamplesMain {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(sys.error("usage: ExamplesMain <textPath>"))
    val spark = graft.GraftSession.builder("graft-examples").getOrCreate()
    val out = java.nio.file.Files.createTempDirectory("graft_wc").toString
    Examples.wordCountTyped(spark, path).sinkTsv(s"$out/wc")
    println(s"[examples] wordcount sunk to $out/wc")
    Examples.tfIdf(spark, path).orderBy(org.apache.spark.sql.functions.col("idf"))
      .show(5, truncate = false)
    val (total, top, _, avgLen) = Examples.wordStats(spark, path)
    println(f"[examples] words=$total top=${top.take(3).mkString(",")} avgLen=$avgLen%.3f")
    spark.stop()
  }
}
