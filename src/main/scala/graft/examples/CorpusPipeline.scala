package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Dedup

/** End-to-end training-corpus cleaning pipeline — the composition the
  * individual operators exist for:
  *
  *   score (quality + lang-ID + token stats)
  *     → quality filter
  *     → exact dedup (normalized-fingerprint groups, keep min id)
  *     → MinHash+LSH near-dedup (keep each cluster's representative,
  *       via bounded min-label propagation)
  *     → cleaned corpus with metadata columns.
  *
  * Every stage is a Column pipeline or a bounded-round join — no
  * driver-side loops, no corpus-wide cross products; at 100 TB the
  * expensive steps are one shuffle each (fingerprint group, minhash
  * aggregate, band-bucket join, k propagation rounds).
  */
object CorpusPipeline {

  def clean(docs: DataFrame, qualityMin: Double = 0.5, jaccardThreshold: Double = 0.6): DataFrame = {
    val exactKept = scoredExactKept(docs, qualityMin)
    // 3. near-dedup: LSH pairs over the surviving docs at the
    //    CONTRACT geometry ("recall >= 90% at J = threshold, <= 1%
    //    background candidates" -> (3, 10) at 0.6 — the advisor-derived
    //    curve; the legacy (4, 2) default measured ~20% recall at
    //    J ≈ 0.55 in the q253 audit, i.e. most near-dups WALKED THROUGH
    //    this pipeline), keep cluster representatives (label == own id)
    //    and untouched docs
    val pairs = Dedup.minhashPairsContract(exactKept, "doc_id", "text",
      threshold = jaccardThreshold)
    val labels = Dedup.labelPropagate(pairs, 3)
    exactKept.join(labels, exactKept("doc_id") === labels("doc"), "left_outer")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .select(col("doc_id"), col("lang_pred"), col("quality"), col("n_tokens"))
  }

  /** Steps 1–2 of [[clean]], shared with [[cleanKeepBest]]: scored docs
    * (`doc_id, text, quality, lang_pred, n_tokens`) that pass the
    * quality gate, exact-deduplicated, persisted.
    */
  private def scoredExactKept(docs: DataFrame, qualityMin: Double): DataFrame = {
    // 1. score + quality gate (codegen'd token aggregation, one
    //    shuffle on doc_id)
    val aggs = TextFunctions.tokenAggregates(docs, "doc_id", "text")
    val scored = docs.join(aggs, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("text"),
        TextFunctions.qualityFromScores(col("text")).as("quality"),
        TextFunctions.langIdFromScores.as("lang_pred"),
        coalesce(col("n_tok"), lit(0L)).cast("int").as("n_tokens"))
      .filter(col("quality") >= qualityMin)
    // 2. exact dedup: keep the lowest doc_id per normalized fingerprint.
    //    min_by hash-aggregate, not a row_number window: partial
    //    aggregation on the map side and no per-key sort — the shape
    //    that survives a 100x scale-up.
    // feeds both the minhash pipeline and the final representative
    // join — persist (GraftCache-tracked) so scoring + dedup
    // aggregation run once
    graft.GraftCache.registered(scored
      .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
      .agg(min_by(struct(scored.columns.toIndexedSeq.map(col): _*), col("doc_id")).as("_r"))
      .select(col("_r.*")))
  }

  /** The keep-BEST refinement of [[clean]]: identical quality gate and
    * exact dedup, but near-dup clusters elect their HIGHEST-QUALITY
    * member (tie → min doc_id) instead of the min-label
    * representative — the quality-aware selection production pipelines
    * want when duplicates differ in cleanliness. Clusters come from
    * EXACT connected components ([[Dedup.connectedComponents]] —
    * bounded-hop label propagation can split a long chain across two
    * representatives; an election needs the true cluster), the winner
    * from [[Dedup.keepBestPerCluster]]'s single max_by aggregate, and
    * the survivors rejoin their metadata by one doc_id equi-join.
    */
  def cleanKeepBest(docs: DataFrame, qualityMin: Double = 0.5,
      jaccardThreshold: Double = 0.6): DataFrame = {
    val exactKept = scoredExactKept(docs, qualityMin)
    // contract geometry, same rationale as clean() step 3
    val pairs = Dedup.minhashPairsContract(exactKept, "doc_id", "text",
      threshold = jaccardThreshold)
    val winners = Dedup.keepBestPerCluster(
      exactKept.select(col("doc_id"), col("quality")), pairs)
    exactKept.join(winners.select(col("kept_doc").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang_pred"), col("quality"), col("n_tokens"))
  }

  /** The production corpus-REFRESH loop (q134): verdict a new batch
    * against the at-rest CONTRACT dedup index alone (probe cost tracks
    * the batch, never corpus text bytes), then upsert the survivors as
    * ONE committed [[graft.operators.Versioned]] snapshot — readers
    * never observe a half-applied refresh. Returns the committed
    * version.
    *
    * The index MUST be a [[Dedup.writeDedupIndexContract]] index: the
    * probe geometry is read from its `_geometry/` metadata, so writer
    * and prober cannot drift on signature width. Pointing this at a
    * legacy caller-trusted-geometry index REFUSES (no `_geometry/`)
    * instead of probing at a guessed width — the silent-recall-loss
    * hazard the contract family exists to close (a batch signed at a
    * different width than the writer never cohabits a band, and
    * nothing in the output says recall was lost).
    */
  def refresh(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      indexPath: String, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    val kept = Dedup.dedupAgainstIndexContract(batch, idCol, textCol, indexPath)
      .filter(col("verdict") === "kept").select(col(idCol))
    graft.operators.Versioned.upsert(spark, tablePath, batch.join(kept, Seq(idCol)), idCol)
  }
}
