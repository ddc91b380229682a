package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.examples.Examples

/** One execution of an operation, built in a fresh session. `act` is
  * the timed action; `check` is the untimed execution that returns the
  * digest of the output instead (a query digests its rows rather than
  * discarding them, a write digests the files it wrote).
  */
trait Prepared {
  def plan(): Unit = ()
  def act(): Unit
  def count(): Unit = act()
  def check(): String
}

/** kind: "query" (a graded query, timed through the noop sink) or
  * "program" (a reference example program run through graft's Pipe,
  * timed through its sink).
  */
final case class Op(name: String, kind: String, sink: Option[String], build: SparkSession => Prepared)

/** Input locations of one run. */
final case class Inputs(base: String, corpus: String, text: String, out: String)

object Workloads {
  val Names: Seq[String] = Seq("gate_board", "corpus_x10")

  /** gate_board: small inputs where fixed per-operation cost dominates.
    * Graded queries at sf0.1 that run in about a second warm on 4 cores:
    * q01 and q59 from a stride-16 sample of the board in name order;
    * q258, the gate-scale case of the open q258 barrier item; and q101
    * and q141, where DataFrame build and its eager jobs (IVF training,
    * k-means steps) take most of the wall time. And the reference's
    * typed word count through graft.Pipe to a TSV sink, over a seeded
    * text corpus.
    */
  val GateQueries: Seq[String] = Seq("q01", "q59", "q258", "q101", "q141")

  /** corpus_x10: a MinHash dedup and a cosine recall audit over the
    * ScaleSoak-replicated corpus, where shuffle, GraftCache persists and
    * the kernels do most of the work.
    */
  val CorpusFactor = 10
  val CorpusQueries: Seq[String] = Seq("q51", "q258")

  /** Warm passes a run makes at least. corpus_x10's operations still
    * speed up from the first warm pass to the second, so it makes three
    * and their median is a later pass.
    */
  def minPasses(workload: String): Int = if (workload == "corpus_x10") 3 else 2

  /** The wider gate sample of the layer-share analysis: every 16th
    * graded query in name order plus the queries the open items name at
    * the gate scale.
    */
  def boardSample: Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val named = Set("q134", "q148", "q253", "q255", "q256", "q258")
    names.zipWithIndex.collect { case (n, i) if i % 16 == 0 || named(n.takeWhile(_ != '_')) => n }
  }

  /** The query pack (graft.queries object) that defines a graded query. */
  def pack(name: String): String = {
    import graft.queries._
    Seq("CoreQueries" -> CoreQueries.queries, "JoinQueries" -> JoinQueries.queries,
      "SortSetQueries" -> SortSetQueries.queries, "DedupQueries" -> DedupQueries.queries,
      "TextQueries" -> TextQueries.queries, "AnalyticsQueries" -> AnalyticsQueries.queries,
      "CurationQueries" -> CurationQueries.queries, "ScaleQueries" -> ScaleQueries.queries,
      "FeatureQueries" -> FeatureQueries.queries, "QualityQueries" -> QualityQueries.queries)
      .collectFirst { case (p, qs) if qs.contains(name) => p }.getOrElse("-")
  }

  /** Full graded query names for short names like "q51". */
  def graded(short: Seq[String]): Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq
    short.map(p => names.find(_.takeWhile(_ != '_') == p).getOrElse(sys.error(s"no graded query $p")))
  }

  /** Text corpus size and the number of seeded corpus variants. */
  val TextBytes: Long = 8L << 20
  val TextVariants = 4

  def query(name: String, dir: String): Op = Op(name, "query", None, s => {
    val df = SparkEntry.queries(name)(s, dir)
    new Prepared {
      override def plan(): Unit = df.queryExecution.executedPlan
      def act(): Unit = df.write.format("noop").mode("overwrite").save()
      override def count(): Unit = df.count()
      def check(): String = Digest.of(df)
    }
  })

  /** A frame written to files; the check reads the files back. */
  private def written(df: DataFrame, write: => Unit, readBack: => DataFrame): Prepared =
    new Prepared {
      override def plan(): Unit = df.queryExecution.executedPlan
      def act(): Unit = write
      def check(): String = { write; Digest.of(readBack) }
    }

  def ops(workload: String, in: Inputs): Seq[Op] = workload match {
    case "gate_board" =>
      val wcOut = s"${in.out}/wordcount_tsv"
      graded(GateQueries).map(query(_, in.base)) :+
        Op("wordcount_tsv", "program", Some(wcOut), s => {
          val p = Examples.wordCountTyped(s, in.text)
          written(p.ds.toDF(), p.sinkTsv(wcOut), s.read.option("sep", "\t").csv(wcOut))
        })
    case "corpus_x10" => graded(CorpusQueries).map(query(_, in.corpus))
    case other => sys.error(s"unknown workload $other; known: ${Names.mkString(", ")}")
  }

  /** The tables an operation set reads, for the `tables` layer. */
  def tables(workload: String): Seq[String] = workload match {
    case "gate_board" =>
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
        "documents", "embeddings")
    case "corpus_x10" => Seq("documents", "embeddings")
    case _ => Nil
  }
}
