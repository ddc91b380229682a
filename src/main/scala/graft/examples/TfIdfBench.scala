package graft.examples

import java.io.{BufferedWriter, FileWriter}

/** Reproduction of the reference's benchmark design
  * (`/root/reference/benchmarks/run.sh`: 5.3 MB Shakespeare corpus
  * duplicated 1x/4x/20x/500x, document-frequency + IDF workload,
  * wall-clock timed). Zero-egress environment → deterministic seeded
  * corpus (FIXTURES.md §3) instead of the download; same byte scale.
  *
  * Usage: `SPARK_GRAFT_CPUS=<cores> sbt "runMain graft.examples.TfIdfBench <targetMB>"`
  * Prints one JSON line: corpus size, wordcount secs, tf-idf secs,
  * MB/s for each.
  */
object TfIdfBench {

  /** Deterministic text generator: zipf-ish draws over a fixed 20k-word
    * vocabulary, ~12 words/line — shaped like prose, reproducible.
    */
  def generateCorpus(path: String, targetBytes: Long, seed: Long = 42L): Long = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.tabulate(20000)(i => s"w${java.lang.Integer.toString(i, 36)}")
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    var written = 0L
    val sb = new StringBuilder(256)
    while (written < targetBytes) {
      sb.setLength(0)
      var i = 0
      while (i < 12) {
        // zipf-ish: square the uniform draw to skew toward low ranks
        val u = rnd.nextDouble()
        val idx = (u * u * vocab.length).toInt.min(vocab.length - 1)
        if (i > 0) sb.append(' ')
        sb.append(vocab(idx))
        i += 1
      }
      sb.append('\n')
      written += sb.length
      w.write(sb.toString)
    }
    w.close()
    written
  }

  def main(args: Array[String]): Unit = {
    val mb = args.headOption.map(_.toInt).getOrElse(100)
    val dir = java.nio.file.Files.createTempDirectory("graft_tfidf").toString
    val corpus = s"$dir/corpus.txt"
    val t0 = System.nanoTime()
    val bytes = generateCorpus(corpus, mb.toLong << 20)
    val genSec = (System.nanoTime() - t0) / 1e9

    val spark = graft.GraftSession.builder("graft-tfidf").getOrCreate()
    val cores = spark.sparkContext.defaultParallelism
    def time(f: => Long): (Double, Long) = {
      val t = System.nanoTime(); val n = f; ((System.nanoTime() - t) / 1e9, n)
    }
    val (wcSec, nWords) = time(Examples.wordCountDF(spark, corpus).count())
    val (tiSec, nIdf) = time(Examples.tfIdf(spark, corpus).count())
    val mbD = bytes / 1e6
    println(f"""{"corpus_mb":$mbD%.1f,"gen_sec":$genSec%.1f,"cores":$cores,"wordcount_sec":$wcSec%.2f,"wordcount_mb_s":${mbD / wcSec}%.1f,"distinct_words":$nWords,"tfidf_sec":$tiSec%.2f,"tfidf_mb_s":${mbD / tiSec}%.1f,"idf_rows":$nIdf}""")
    spark.stop()
    new java.io.File(corpus).delete()
  }
}
