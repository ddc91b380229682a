package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the oracle-checked query packs.
  *
  * Determinism rules (every query obeys them so the driver's
  * DuckDB-hash compare is stable, SURVEY.md §7.3):
  *  - money sums go through [[Q.cents]]: per-row conversion to integer
  *    cents then BIGINT sum — exact in any summation order, identical
  *    in Spark and DuckDB (prices in the testdata are exactly
  *    2-decimal);
  *  - float outputs (means, cosines, tf-idf) are rounded via
  *    [[Q.r6]]/round so cross-engine last-ulp noise disappears;
  *  - every result is fully ordered with complete tie-breaks
  *    (Catalyst's `EliminateSorts` removes the sort under `count()`,
  *    so the bench path does not pay for it).
  */
object Q {
  type QFn = (SparkSession, String) => DataFrame

  /** Exact integer cents of a 2-decimal money column. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  def r6(c: Column): Column = round(c, 6)
  def r4(c: Column): Column = round(c, 4)

  def t(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" => events(spark, dir)
    // documents/embeddings: heavy per-row compute (md5 shingling,
    // cosine) over files small enough to arrive as ONE input split —
    // widen so the map side parallelizes. At production scale the scan
    // has thousands of splits and this branch is a no-op.
    case "documents" => widen(spark, spark.read.parquet(s"$dir/$name.parquet"))
    // embeddings additionally pin the vector element type: every ANN/
    // quantization query assumes array<float>, and a regenerated
    // testdata drop to array<double> would shift r6-rounded cosines
    // (the round-8 events.ts lesson). Today the cast is a no-op
    // Catalyst folds away.
    case "embeddings" =>
      widen(spark, spark.read.parquet(s"$dir/$name.parquet"))
        .withColumn("embedding", col("embedding").cast("array<float>"))
    case _ => spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Repartition up to the cluster's parallelism only when the scan
    * would produce fewer splits (single-row-group local files). Never
    * shrinks, never shuffles an already-parallel scan.
    *
    * The split count is estimated from the input files' sizes against
    * `spark.sql.files.maxPartitionBytes` — NOT from
    * `df.rdd.getNumPartitions`, which would build the full RDD lineage
    * (analysis + physical planning) on every table load just to count
    * splits. Non-local URIs (cloud storage) stat as size 0 and count as
    * one split each, which at production scale is the case where the
    * scan already has thousands of splits and widening is a no-op.
    */
  def widen(spark: SparkSession, df: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val splits = df.inputFiles.map { f =>
      val len = try new java.io.File(new java.net.URI(f).getPath).length() catch { case _: Exception => 0L }
      math.max(1L, (len + maxSplit - 1) / maxSplit)
    }.sum
    if (splits < p) df.repartition(p) else df
  }

  /** `events.parquet`'s `ts` physical type has varied across testdata
    * generations: TIMESTAMP(NANOS) (pyarrow default — Spark's reader
    * rejects it unless read as long via the legacy conf), plain
    * TIMESTAMP_NTZ (timestamp[us]), or already session-zoned TIMESTAMP.
    * Normalize all three to microsecond TIMESTAMP (session tz is pinned
    * UTC everywhere) so downstream window/lag/asof logic and the DuckDB
    * oracle — which also truncates to micros — agree regardless of which
    * generation is on disk. The nanos leg uses integer `div` so the
    * conversion stays exact (nanos epoch ~1.7e18 > 2^53 would lose
    * precision through a double).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => // TIMESTAMP_NTZ: reinterpret the wall-clock as UTC instant
        df.withColumn("ts", to_timestamp(col("ts")))
    }
  }

  /** A fresh temp dir for a query that round-trips data through files
    * at rest, deleted with its contents when the JVM exits — not
    * earlier, because the query returns a lazy DataFrame that reads
    * those files whenever it runs.
    */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    TempDirs.add(d)
    d.toString
  }

  private lazy val TempDirs: ConcurrentLinkedQueue[Path] = {
    val dirs = new ConcurrentLinkedQueue[Path]()
    sys.addShutdownHook(dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)))
    dirs
  }

  /** documents/embeddings are not in the driver's registered-view list
    * (TESTDATA.md names only the 8 star-schema tables), so their oracle
    * SQL reads the sf0.01 parquet directly — verify always runs at
    * sf0.01.
    */
  val DocsPq = "read_parquet('/root/testdata/sf0.01/documents.parquet')"
  val EmbPq  = "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"

  /** Tokenization shared by every text query — delegates to the
    * engine-wide single definition [[graft.functions.Tokenize]]
    * (reference idiom: `/root/reference/examples/wc.py:12`,
    * `benchmarks/tf-idf-dampr.py:12-14`).
    *
    * NOTE: use only where the ARRAY is needed downstream. For explode
    * pipelines use [[explodedTokens]] — `explode` over a computed
    * array expression (higher-order filter) drops out of whole-stage
    * codegen and is ~5x slower than explode-then-filter.
    */
  def tokens(textCol: Column): Column = graft.functions.Tokenize.arr(textCol)

  /** (id, token) rows via explode-then-filter — the codegen-friendly
    * shape of [[tokens]]; identical multiset of tokens.
    */
  def explodedTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.functions.Tokenize.exploded(df, col(idCol), col(textCol))

  /** DuckDB-side equivalent of [[tokens]] exploded to rows:
    * `SELECT doc_id, tok FROM docs, LATERAL unnest(...)`.
    */
  val SqlTok: String =
    s"SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM $DocsPq"

  /** 32-bit token hash shared bit-for-bit with DuckDB: first 8 hex
    * chars of md5, parsed as an unsigned int. Engine-portable because
    * md5 is standardized; used as the base hash for minhash/simhash.
    * Backed by the custom codegen expression [[graft.plans.Md5Prefix32]].
    */
  def tokenHash(c: Column): Column = graft.plans.Md5Prefix32.md5prefix32(c)

  /** DuckDB rendering of [[tokenHash]]. */
  def sqlTokenHash(expr: String): String =
    s"(('0x' || substr(md5($expr), 1, 8))::BIGINT)"
}
