package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soak for the dedup/ANN/text operators: replicate the sf0.1
  * corpus/embeddings/supplier tables to N× and measure how each graded
  * query's wall time grows — the empirical check behind the "this plan
  * survives a 100× scale-up" claims (plan-shape arguments live in
  * PlanSpec; this measures the curves). Mirrors the reference's ladder
  * design (`/root/reference/benchmarks/run.sh` runs 1×/4×/20×/500× file
  * duplication) applied to the beyond-reference operators.
  *
  * Replication models a GROWING corpus, not a duplicated one: replica
  * r > 0 rewrites every token with a `~r<r>` suffix (disjoint token
  * space — no cross-replica shingle/minhash/simhash collisions, so
  * near-dup structure per replica matches the original and total pair
  * counts scale linearly, which is how real corpora grow). Embeddings
  * are circularly shifted by r positions and, past the wrap at r = 64,
  * sign-masked per replica (norms and pairwise geometry within a
  * replica preserved; buckets/cells repopulate independently; replicas
  * decorrelated). Supplier names get a doubled-digit replica tag, so
  * cross-replica names sit ≥ 2 edits apart (true fuzzy-pair counts
  * scale linearly) while names stay dictionary-sized.
  *
  * Usage: SPARK_GRAFT_CPUS=16 sbt "runMain graft.ScaleSoak <factor> [srcDir] [outBase] [q1,q2,...] [mode]"
  * Writes the scaled tables under <outBase>/x<factor>/ (reused if
  * present), runs each soak query (optionally the comma-separated
  * subset) twice (cold, warm), prints one JSON line and appends it to
  * SOAK.json — each line is self-describing (factor + mode + queries).
  *
  * mode "count" (default) measures `df.count()` — comparable with the
  * earlier tiers but Catalyst prunes output columns a count doesn't
  * need, so pure-projection queries under-measure (discovered via q88,
  * the first query whose filter forced its score column). Mode
  * "materialize" measures `queryExecution.toRdd.count()`, which keeps
  * the plan's projection and forces every output column — the honest
  * number for scoring queries.
  */
object ScaleSoak {

  /** Gap between replica id ranges — far above any sf0.1 id. */
  val IdOff = 10000000L

  /** The graded queries whose inputs are documents/embeddings/supplier
    * (the tables this soak scales). Star-schema queries scale with
    * lineitem and are covered by the TPC-H-ish bench ladder instead.
    */
  val soakQueries: Seq[String] = Seq(
    "q50_minhash_sig", "q51_minhash_pairs", "q52_simhash", "q53_ngram_jaccard",
    "q54_dedup_exact", "q55_embedding_neardup", "q56_ann_bruteforce", "q57_knn_join",
    "q58_ann_lsh_bucket", "q59_ann_ivf", "q60_token_stats", "q61_lang_id",
    "q62_quality", "q63_fingerprint", "q64_binary_meta", "q65_multimodal_decode",
    "q66_redact", "q67_dup_clusters", "q68_corpus_clean", "q69_simhash_pairs",
    "q70_crossmodal_expand", "q71_embedding_neardup_lsh", "q72_ngram_jaccard_lsh",
    "q74_regex_tokens", "q75_winnow_fingerprint", "q76_fuzzy_pairs", "q77_group_sample",
    "q78_chunk_dedup", "q79_decontaminate", "q80_pack_greedy", "q81_stratified_sample",
    "q82_repetition", "q83_decontam_chunks", "q84_vocab_topk", "q85_length_hist",
    "q86_mixture_resample", "q87_simhash_pairs_wide", "q88_quality_percentile",
    "q89_bpe_pair_counts", "q90_unigram_logprob", "q91_curation_pipeline",
    "q92_embedding_lsh_wide", "q93_connected_components", "q94_quantize_int8",
    "q95_source_overlap", "q98_fuzzy_pairs_deletion", "q99_embedding_lsh_auto",
    "q100_simhash_pairs_auto", "q102_fuzzy_pairs_deletion2", "q103_minhash_pairs_auto",
    "q105_ann_pq", "q106_pq_recall", "q107_ivfpq_recall", "q108_quality_classifier",
    "q109_bm25_topk", "q110_hybrid_rrf", "q111_dup_spans", "q112_substring_dedup",
    "q113_bigram_logprob", "q115_incremental_dedup", "q116_keep_best",
    "q117_countmin_freq", "q118_multimodal_wav", "q119_png_resize",
    "q120_multimodal_gif", "q121_corpus_clean_best", "q122_heavy_hitters",
    // q125 (fixed-cell semantic dedup) is deliberately NOT soaked: 8
    // global cells over a 100x corpus ≈ 15e9 within-cell candidate
    // pairs — the measured quadratic cliff its scaladoc warns about.
    // Its scale path q130 (auto-LSH buckets) is on the ladder instead.
    "q123_pipe_wordcount", "q124_index_union", "q126_sink_roundtrip",
    "q127_zorder_layout", "q129_versioned_upsert", "q130_semantic_dedup_lsh",
    "q131_bpe_train", "q132_bpe_segment", "q133_zorder3", "q134_corpus_refresh",
    // round-9 additions (q143 joined the ladder in r12: its
    // orders/lineitem inputs replicate as disjoint trade-graph copies)
    "q136_pmi_pairs", "q137_weighted_sample", "q138_train_shards",
    "q139_gopher_rep", "q140_ccnet_buckets", "q141_kmeans",
    "q142_triangles", "q144_hll_overlap", "q145_containment",
    // graph pack over the replicated trade graph (VERDICT r9 item 7):
    // orders/lineitem replicate as DISJOINT per-replica copies, so
    // edge count and component structure scale linearly
    "q135_pagerank", "q143_ppr", "q148_kcore", "q152_bfs", "q205_assortativity",
    "q216_kcore_fixpoint", "q217_weighted_pagerank", "q218_stats_drift",
    "q219_common_neighbors",
    // round-10 additions: clustering coefficient rides the simhash
    // doc graph; adamic-adar/sssp ride the replicated trade graph;
    // event paths ride the disjoint user populations. The rest of the
    // quality pack (q223-q226, q228-q230) is star-schema → bench ladder.
    "q220_clustering_coeff", "q221_adamic_adar", "q222_weighted_sssp",
    "q227_event_paths",
    // walks/skip-grams ride the replicated trade graph; the
    // attribution/bootstrap/AB/trim family rides the disjoint event
    // populations; schema evolution commits the replicated docs.
    // q223-q226/q228/q229/q231-q233/q239 are star-schema -> bench ladder.
    "q234_random_walks", "q235_skipgram_pairs", "q236_position_attribution",
    "q237_schema_evolution", "q238_bootstrap_ci", "q240_decay_attribution",
    "q241_conversion_ab", "q242_trimmed_mean",
    "q239_orc_roundtrip", "q244_permissive_ingest", "q247_fairness_audit",
    "q248_hll_contract",
    // round-11: the quality/governance pack rides the widened star
    // replicas (dates/prices/flags now replicate; customer added);
    // q250/q251 ride the trade graph and documents
    "q243_seasonal_naive", "q245_l_diversity", "q246_rolling_revenue",
    "q249_governance_report", "q250_embedding_release", "q251_text_skipgrams",
    "q252_leakage_split", "q253_lsh_recall", "q254_contract_neardup",
    "q255_lsh_recall_contract",
    // round-12: the simhash/cosine recall-contract family (q257/q259
    // re-run q100/q258's corpus work at contract geometry; q261's
    // ladder corpus is 8x the embedding table — graded at the gate,
    // soak evidence rides q258/q260's shared operators)
    "q256_simhash_recall", "q258_cosine_lsh_recall", "q260_cosine_lsh_multi",
    // PQ rerank contract: the audit is a code-only projection + one
    // window over n·sampleQ rows — the family's cheapest member at
    // scale (q265's contract search shares its scan, gate-graded)
    "q264_pq_rerank_audit",
    // contract-geometry at-rest index round trip (q115's shape at the
    // persisted advisor geometry: 30 affine mins vs 8 fixed)
    "q266_incremental_dedup_contract",
    // session-3 contract members. q267: sample-sized probe work +
    // linear corpus scans (the audit never assigns the corpus). q269:
    // the ladder at x100 is ~1.6M units — the query's own 1e6 DESIGN
    // size, so this rung measures the budget contract at the scale it
    // was stated for; do NOT run q269 above x100 — past its design
    // size the fixed 128-micro ceiling is again a quadratic admission
    // (that design-size discipline is the contract's point; x1000
    // runs pass an explicit subset anyway). q268 (fixed-cell
    // multi-probe) is deliberately NOT soaked: 8 global cells over a
    // 100x corpus is q125's within-cell quadratic cliff times
    // nprobe^2 — its scale path is q269's budget geometry.
    "q267_cell_probe_audit", "q269_budget_dedup_contract",
    // q270 runs its n = 1e9 design geometry: at x100 (500k docs) the
    // budget bound is ~2000x slack, so the rung measures the fixed
    // k = 312 signature cost, which is the linear term that matters
    "q270_minhash_budget_pairs",
    // q271 runs its n = 1e6 design geometry; x100 (~500k docs) sits
    // just under the design size, so the rung measures the contract
    // at (half) the scale it was stated for — radius-complete recall
    // is n-independent, candidate volume is the budgeted linear term
    "q271_simhash_budget_pairs",
    // q272 is q260's pair semantics at q269's budget geometry — the
    // x100 rung (~1.6M vectors ≈ its 1e6 design size) measures the
    // linear-candidate contract exactly where q260's fraction
    // admission was measured at 207.9 s; same design-size discipline
    // as q269: do not run above x100
    "q272_cosine_budget_multi",
    // event-sequence family (events replicated as disjoint user
    // populations on the same calendar)
    "q146_funnel", "q147_cohorts", "q150_transitions", "q151_attribution",
    "q154_scd_join", "q155_entity_resolution", "q156_mad_outliers",
    // fourth-session additions (q158/q160/q162/q165/q166/q168 are
    // star-schema → bench ladder)
    "q157_stats_pruned_read", "q159_tfidf_pairs", "q161_p95_contract",
    "q163_versioned_skipping", "q164_phrase_search", "q167_grouping_sets",
    "q169_table_checksum", "q170_decayed_counts", "q171_distinct_rollup",
    "q173_partitioned_table", "q174_conversion_time", "q175_daily_anomalies",
    "q176_backfill_merge", "q177_apply_changes", "q178_ltv_deciles",
    "q179_props_extract",
    // ML-observability pack (q187 is star-schema → bench ladder)
    "q180_concurrency", "q181_psi_drift", "q182_target_encoding",
    "q183_feature_hash", "q184_auc", "q185_ab_test", "q186_keywords",
    "q188_rfm", "q189_ks_test", "q190_user_paths", "q191_class_balance",
    "q192_trend_slope", "q193_kaplan_meier", "q194_kanon",
    "q195_dow_seasonality", "q196_embedding_covariance", "q197_gini",
    "q198_calibration", "q199_chi_square", "q200_pit_features",
    "q201_compact_vacuum", "q202_mrr_eval", "q204_cusum",
    "q206_langid_eval", "q207_incr_view", "q208_dedup_eval", "q209_ndcg",
    "q210_windowed_funnel", "q212_pareto", "q213_embedding_audit",
    "q214_session_stats", "q215_hour_heatmap")

  /** Columns each replica table must carry for the CURRENT query set —
    * checked by [[buildScaled]] so a soak dir built by an earlier
    * round (narrower schemas) is rebuilt instead of failing the
    * widened queries at the soak tier with unresolved-column errors.
    */
  private val requiredCols: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
    "lineitem" -> Seq("l_orderkey", "l_suppkey", "l_returnflag", "l_quantity", "l_shipdate"),
    "customer" -> Seq("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))

  def buildScaled(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    // per-table checks: a crashed build must repair the missing tables
    // on the next run, not be masked by the ones that finished (factor
    // > 64 used to crash mid-build on the embedding shift — see the
    // `% dim` below). Existence alone is NOT enough: rounds widen the
    // replica schemas (r11 added orders dates/prices, lineitem
    // flag/qty/shipdate, the customer table), and a pre-widening dir
    // would pass an existence check and then fail the new queries with
    // unresolved columns — so the check also validates the column set
    // and rebuilds any table that lacks a required column.
    def missing(name: String): Boolean = {
      val path = s"$outDir/$name.parquet"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) true
      else {
        val have = try spark.read.parquet(path).schema.fieldNames.toSet
          catch { case _: Throwable => Set.empty[String] } // unreadable = rebuild
        val lacking = requiredCols(name).filterNot(have)
        if (lacking.nonEmpty)
          println(s"[soak] $path is stale (missing columns: ${lacking.mkString(", ")}) — rebuilding")
        lacking.nonEmpty
      }
    }
    val reps = spark.range(factor).select(col("id").cast("int").as("rep"))

    if (missing("documents")) {
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      docs.crossJoin(reps)
        .select(
          (col("doc_id") + col("rep").cast("long") * IdOff).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1~r"), col("rep")))).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }

    if (missing("embeddings")) {
      val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      val dim = 64
      // shift amount wraps at the dimension: rep >= dim would make the
      // first slice length non-positive (factor > 64 crashed here)
      val shift = col("rep") % dim
      // Replicas sharing a shift (rep and rep + 64k) would otherwise be
      // IDENTICAL vector sets under new ids: the first x1000 build held
      // 14.64M exact cross-replica vector pairs, so every pair query's
      // TRUE result grew quadratically in the factor — a generator
      // artifact, not an operator cost (q92 read 481 s on that corpus).
      // A per-replica sign mask — coordinate j flipped by a
      // pseudorandom bit of mask = rep / dim — preserves norms and all
      // within-replica dot products (s_j² = 1) while decorrelating
      // same-shift replicas, the vector analogue of the token-suffix
      // rewrite that keeps document replicas disjoint.
      val mask = (col("rep") / dim).cast("long")
      val shifted = when(shift === 0, col("embedding"))
        .otherwise(concat(
          slice(col("embedding"), shift + 1, lit(dim) - shift),
          slice(col("embedding"), lit(1), shift)))
      val signed = when(mask === 0, shifted)
        .otherwise(transform(shifted, (x, j) =>
          (x * when(((mask * 2654435761L + (j + 1) * 40503L) % 1000003L) % 2 === 1, -1.0d)
            .otherwise(1.0d)).cast("float")))
      emb.crossJoin(reps)
        .select(
          (col("vec_id") + col("rep").cast("long") * IdOff).as("vec_id"),
          signed.as("embedding"),
          (col("label") + col("rep") * 1000).as("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }

    if (missing("events")) {
      // Replica = a disjoint user population living through the SAME
      // calendar (user/event ids offset, timestamps untouched): funnel
      // stage counts, cohort cells and transition counts all scale
      // exactly linearly in the factor, and the per-user sequence
      // structure inside each replica is byte-identical to the source.
      val ev = graft.queries.Q.events(spark, srcDir)
      ev.crossJoin(reps)
        .select(
          (col("event_id") + col("rep").cast("long") * IdOff).as("event_id"),
          col("ts"),
          (col("user_id") + col("rep").cast("long") * IdOff).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }

    if (missing("orders") || missing("lineitem")) {
      // Trade-graph + quality-pack replication (q135/q148/q152/q205/
      // q216 and q243/q246/q249): every key offsets by rep·IdOff, so
      // the customer–supplier graph becomes `factor` DISJOINT copies —
      // edges, degrees, cores and components all scale exactly
      // linearly, and each replica's structure is byte-identical to
      // the source (how a growing marketplace actually grows). Dates
      // and prices replicate UNCHANGED: disjoint customers on the same
      // calendar, so per-day revenue mass scales ×factor — exactly the
      // overflow regime the q243 DECIMAL numerator exists for. Columns
      // beyond these stay on the TPC-H-ish bench ladder; parquet
      // column pruning keeps the graph queries reading 2 columns.
      val o = spark.read.parquet(s"$srcDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
        .repartition(16) // parallelize the replica explode (see lineitem)
      o.crossJoin(reps)
        .select((col("o_orderkey") + col("rep").cast("long") * IdOff).as("o_orderkey"),
          (col("o_custkey") + col("rep").cast("long") * IdOff).as("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
        .repartition(16)
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      // repartition BEFORE the replica explode: the sf0.1 source is a
      // single ~128MB-class parquet split, so without this the whole
      // factor-× blowup (600M rows at x1000) maps in ONE task — the
      // build was measured 1-core-bound for minutes while 31 idled
      val l = spark.read.parquet(s"$srcDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_returnflag"), col("l_quantity"), col("l_shipdate"))
        .repartition(32)
      l.crossJoin(reps)
        .select((col("l_orderkey") + col("rep").cast("long") * IdOff).as("l_orderkey"),
          (col("l_suppkey") + col("rep").cast("long") * IdOff).as("l_suppkey"),
          col("l_returnflag"), col("l_quantity"), col("l_shipdate"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    }

    if (missing("customer")) {
      // Disjoint customer replicas on the SAME (nation, segment)
      // space: quasi-identifier groups GROW ×factor instead of
      // multiplying — how a real customer base scales, and the regime
      // the k-anon/l-diversity aggregates must hold under (q245/q249).
      val c = spark.read.parquet(s"$srcDir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment"), col("c_acctbal"))
      c.crossJoin(reps)
        .select((col("c_custkey") + col("rep").cast("long") * IdOff).as("c_custkey"),
          col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    }

    if (missing("supplier")) {
      val sup = spark.read.parquet(s"$srcDir/supplier.parquet")
      // Replica tag = "~" + rep with every digit TRIPLED ("~111222"
      // for rep 12): any two distinct reps differ in ≥ 3 edits (a
      // differing digit position contributes three substitutions; a
      // different digit count shifts the length by ≥ 3), so no
      // cross-replica pair can pass maxDist ≤ 2 — while appending a
      // constant suffix preserves every within-replica Levenshtein
      // distance, so true pair counts scale LINEARLY for both the
      // distance-1 (q98) and distance-2 (q102) ladders. (Doubled
      // digits — the previous scheme — only guaranteed ≥ 2: at
      // maxDist = 2 every same-number name pair whose tags differed in
      // one doubled digit sat at distance exactly 2, growing the TRUE
      // result quadratically in the factor — the same class of
      // generator artifact as round 6's embedding shift wrap. And the
      // length-3r "x" tail before that kept replicas apart by LENGTH,
      // making names 3 KB strings by 1000×.) With bounded names,
      // blocked q76's 2-char buckets absorb the whole corpus as the
      // factor grows — its maxBucket refusal at large factors is the
      // designed behavior, and q98/q102 are the paths that keep
      // working.
      sup.crossJoin(reps)
        .select(
          (col("s_suppkey") + col("rep").cast("long") * IdOff).as("s_suppkey"),
          when(col("rep") === 0, col("s_name"))
            .otherwise(concat(col("s_name"), lit("~"),
              regexp_replace(col("rep").cast("string"), "(.)", "$1$1$1"))).as("s_name"),
          col("s_nationkey"), col("s_acctbal"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val srcDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outBase = args.lift(2).getOrElse("target/soak")
    val wanted = args.lift(3).filter(s => s.nonEmpty && s != "all")
      .map(_.split(",").toSet)
      .fold(soakQueries) { sel =>
        val unknown = sel -- soakQueries.toSet
        require(unknown.isEmpty, s"unknown soak queries: ${unknown.mkString(", ")}")
        soakQueries.filter(sel)
      }
    val materialize = args.lift(4).contains("materialize")
    val spark = GraftSession.builder("graft-soak")
      // Iterative queries pin (localCheckpoint) each superstep, which
      // makes the PREVIOUS superstep's shuffle files unreferenced —
      // but Spark's ContextCleaner only deletes them after a JVM GC,
      // and its safety-net System.gc() fires every 30 MINUTES by
      // default. On a single box that is the difference between ~1
      // superstep of retained spill and all of them at once: the
      // x1000 pagerank cold run accumulated 42+ GB of dead shuffle
      // files and hit 96% disk before any GC ran. One minute keeps
      // the soak honest about STEADY-STATE disk, which is what a
      // cluster executor would see.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()

    val dir = if (factor == 1) srcDir else {
      val d = s"$outBase/x$factor"
      buildScaled(spark, srcDir, d, factor)
      d
    }

    // input-sized AQE partitioning, cache-transparent (NOTES_r6)
    val chosenPn = GraftSession.tuneFor(spark, dir)
    println(s"[soak] initialPartitionNum=$chosenPn (inputBytes=${GraftSession.pathBytes(dir)})")

    // warm the JVM on an unrelated plan
    spark.read.parquet(s"$dir/documents.parquet").groupBy("lang").count().count()

    val results = wanted.map { name =>
      val fn = SparkEntry.queries(name)
      def run(): Double = {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        if (materialize) df.queryExecution.toRdd.count() else df.count()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = try run() catch { case e: Throwable => println(s"[soak] $name FAILED: $e"); -1.0 }
      var warm = if (cold < 0) -1.0 else run()
      // The first warm value is kept in the row (queries_warm_first)
      // so the min-of-retries policy below stays auditable: an
      // inversion shows as warm_first >> warm instead of vanishing
      // into the minimum.
      val warmFirst = warm
      // Bench's inversion discipline, ported: a cached re-run slower
      // than its own cold run means GC/eviction landed inside the
      // measurement (seen on q256 at x100: warm 184 vs cold 127).
      // Re-measure once after a GC and keep the minimum.
      if (cold >= 0 && warm > cold) {
        System.gc()
        warm = math.min(warm, run())
      }
      // release pipeline caches between queries so storage pressure
      // and cache hits don't leak across measurements
      GraftCache.releaseAll()
      println(f"[soak] $name%-28s cold=$cold%8.2f warm=$warm%8.2f")
      (name, cold, warm, warmFirst)
    }
    val qs = results.map { case (n, _, w, _) => "\"" + n + "\":" + w }.mkString("{", ",", "}")
    val wfQs = results.map { case (n, _, _, wf) => "\"" + n + "\":" + wf }.mkString("{", ",", "}")
    val total = results.filter(_._3 >= 0).map(_._3).sum
    val mode = if (materialize) "materialize" else "count"
    // Provenance: rows measured on an experimental (uncommitted /
    // later-rejected) build must be self-describing — ADVICE r13 found
    // two rejected-variant q258 rows indistinguishable from HEAD
    // measurements. SPARK_GRAFT_SOAK_VARIANT names the experiment
    // ("HEAD" = the committed tree this soak ran against).
    val variant = sys.env.getOrElse("SPARK_GRAFT_SOAK_VARIANT", "HEAD")
    val json = s"""{"soak_factor":$factor,"src":"$srcDir","mode":"$mode","variant":"$variant","total_warm":$total,"cpus":${spark.sparkContext.defaultParallelism},"queries":$qs,"queries_warm_first":$wfQs}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get("SOAK.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
