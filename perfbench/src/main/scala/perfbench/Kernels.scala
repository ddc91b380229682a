package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.{ArrayDotKernel, CleanLenKernel, HyperplaneKernel, Md5Hash, SortedArrayKernel}

/** Direct timings of graft's public kernel functions on inputs drawn
  * from the corpus tables: nanoseconds per call (median of `Rounds`
  * rounds) and the number of calls per round.
  */
object Kernels {
  val Rounds = 5
  val Docs = 2000
  val Vectors = 2000
  val Dim = 64
  val Planes = 16
  val Tables = 8

  @volatile private var sink = 0L

  private def perCall(calls: Int)(body: => Long): Double = {
    val ns = (1 to Rounds).map { _ =>
      val t0 = System.nanoTime()
      sink += body
      (System.nanoTime() - t0).toDouble / calls
    }.sorted
    ns(Rounds / 2)
  }

  def run(spark: SparkSession, corpusDir: String): Map[String, Double] = {
    val texts = spark.read.parquet(s"$corpusDir/documents.parquet")
      .orderBy(col("doc_id")).select(col("text")).limit(Docs).collect().map(_.getString(0))
    val vecs = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .orderBy(col("vec_id")).select(col("embedding").cast("array<double>")).limit(Vectors)
      .collect().map(r => r.getSeq[Double](0).toArray)

    val docs = texts.map(UTF8String.fromString)
    val tokens = texts.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty)).map(UTF8String.fromString)
    val sets = texts.map(_.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .map(t => (Md5Hash.hash(UTF8String.fromString(t)) & 0x7fffffffL).toInt).distinct.sorted)
    val intSets: Array[ArrayData] = sets.map(s => UnsafeArrayData.fromPrimitiveArray(s))
    val longSets: Array[ArrayData] = sets.map(s => UnsafeArrayData.fromPrimitiveArray(s.map(_.toLong)))
    val emb: Array[ArrayData] = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val rnd = new scala.util.Random(7)
    val weights = Array.fill(Tables * Planes * Dim)(rnd.nextGaussian())
    val pairs = sets.length - 1

    val out = Map.newBuilder[String, Double]
    def row(name: String, calls: Int)(body: => Long): Unit = {
      out += s"kernel.$name.ns" -> perCall(calls)(body)
      out += s"kernel.$name.calls" -> calls.toDouble
    }
    row("md5", tokens.length) { var h = 0L; tokens.foreach(t => h += Md5Hash.hash(t)); h }
    row("cleanlen", docs.length) { var n = 0L; docs.foreach(d => n += CleanLenKernel.cleanLen(d)); n }
    row("intersect", pairs) {
      var n = 0L; var i = 0
      while (i < pairs) { n += SortedArrayKernel.intersectCount(intSets(i), intSets(i + 1), true, true); i += 1 }
      n
    }
    row("intersect_long", pairs) {
      var n = 0L; var i = 0
      while (i < pairs) { n += SortedArrayKernel.intersectCount(longSets(i), longSets(i + 1)); i += 1 }
      n
    }
    row("hyperplane", emb.length) {
      var n = 0L
      emb.foreach(e => n += HyperplaneKernel.buckets(e, weights, Dim, Planes, Tables).getLong(0))
      n
    }
    row("dot", emb.length - 1) {
      var acc = 0.0; var i = 0
      while (i < emb.length - 1) { acc += ArrayDotKernel.dot(emb(i), emb(i + 1)); i += 1 }
      acc.toLong
    }
    out.result()
  }
}
