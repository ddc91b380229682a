package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Features, Relational}
import graft.functions.TextFunctions
import Q._

/** ML-observability / feature-engineering pack (q180-q186): the layer
  * between a curated corpus and a trained or monitored model —
  * sweep-line concurrency, PSI distribution drift, smoothed target
  * encoding, the hashing trick, exact tie-aware AUC, Welch A/B, and
  * per-doc TF-IDF keywords. All integer-unit deterministic
  * ([[Q]] rules); ln/sqrt are the only floats and arrive round-6.
  */
object FeatureQueries {

  val queries: Map[String, QFn] = Map(
    // Max concurrent 5-minute event intervals per type: the sweep-line
    // (+1/-1 running sum) pattern — capacity planning over the event
    // log. Half-open [t, t+300s): ends sort before starts at equal t.
    "q180_concurrency" -> ((s, dir) =>
      Features.maxConcurrency(Q.events(s, dir), col("event_type"), col("ts"), 300)
        .withColumnRenamed("grp", "event_type")
        .orderBy(col("event_type"))),

    // PSI drift of purchase value between the first and second half of
    // the event window: 10 ref-bounded equal-width buckets, Laplace
    // smoothing, per-bucket (p-q)ln(p/q) round-6.
    "q181_psi_drift" -> ((s, dir) => {
      val e = Q.events(s, dir)
        .select(col("ts").cast("date").as("day"),
          round(col("value") * 1000000).cast("long").as("vm"))
      val mid = e.agg(date_add(min(col("day")), 15).as("mid"))
      val tagged = e.crossJoin(broadcast(mid))
      Features.psiDrift(
        tagged.filter(col("day") < col("mid")),
        tagged.filter(col("day") >= col("mid")),
        col("vm"))
    }),

    // Smoothed per-user mean purchase encoding (m = 20 pseudo-counts
    // toward the global mean): top 50 users by encoded value. With
    // ~13 purchases/user the smoothing term dominates — exactly the
    // regime where unsmoothed target encoding memorizes noise.
    "q182_target_encoding" -> ((s, dir) =>
      Features.targetEncode(
          Q.events(s, dir).filter(col("event_type") === "purchase"),
          col("user_id"), round(col("value") * 1000000).cast("long"), m = 20)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("enc_micro").desc, col("user_id")).limit(50)),

    // Hashing-trick bucket audit: every document token routed to one
    // of 64 features by the engine-shared md5 hash; per-bucket token
    // load, distinct-term collision load, doc reach.
    "q183_feature_hash" -> ((s, dir) =>
      Features.featureHashStats(t(s, dir, "documents"),
          col("doc_id"), col("text"), 64)
        .orderBy(col("bucket"))),

    // Exact tie-aware ROC AUC of a deliberately tied score
    // (n_chars mod 50) against the lang='en' label — the rank-sum
    // identity in pure integer arithmetic.
    "q184_auc" -> ((s, dir) =>
      Features.aucExact(t(s, dir, "documents"),
        col("lang") === "en", col("n_chars") % 50)),

    // Welch two-sample z on purchase cents: even user_ids (A) vs odd
    // (B) — the A/B readout over exact integer sums.
    "q185_ab_test" -> ((s, dir) =>
      Features.welchAB(
        Q.events(s, dir).filter(col("event_type") === "purchase"),
        col("user_id") % 2 === 0, Q.cents(col("value")))),

    // Per-doc top-3 keyword shingles by integer TF-IDF lift
    // (tf * floor(1e6 * n_docs / df)); ranking-window per doc with
    // full (score desc, term asc) tie-break.
    "q186_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextFunctions.shingles(TextFunctions.tokenize(col("text")), 3)).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val nd = docs.agg(count_distinct(col("doc_id")).as("nd"))
      // df as count-over-term WINDOW, not groupBy+join: the join form
      // sort-merges two corpus-sized string frames (97.7 s at the x100
      // soak tier); the window shuffles the tf frame on term exactly
      // once and the df count rides the same sort.
      val scored = tf
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
        .crossJoin(broadcast(nd))
        .select(col("doc_id"), col("term"),
          (col("tf") * expr("(1000000 * nd) div df")).as("score"))
      Relational.topKPerGroup(scored, 3, Seq(col("doc_id")),
          Seq(col("score").desc, col("term").asc))
        .select(col("doc_id"), col("term"), col("score"))
        .orderBy(col("doc_id"), col("score").desc, col("term"))
    }),

    // Market-basket lift: part pairs co-purchased in the same order,
    // integer micro-lift — the generic [[Curation.liftPairs]] the PMI
    // collocations specialize (same bounded-quadratic discipline,
    // different incidence).
    "q187_basket_pairs" -> ((s, dir) =>
      Curation.liftPairs(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey"), col("l_partkey"),
        t(s, dir, "orders").select(col("o_orderkey")),
        minSupport = 3, minPair = 2, maxPerBasket = 64, k = 50)),

    // RFM segmentation: per-user recency/frequency/monetary quartiles
    // (ntile SEMANTICS with full user_id tie-breaks), graded as
    // per-segment population + monetary mass. Quartiles via
    // Ranking.globalNtile — three boundary-selection passes over the
    // persisted per-user frame, assignment map-side against 3x3
    // broadcast boundary tuples. The previous form ran three
    // partition-less ntile windows, i.e. three single-task sorts of
    // the whole user population.
    "q188_rfm" -> ((s, dir) => {
      val e = Q.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").cast("date").as("day"),
          Q.cents(col("value")).as("cents"))
      val maxd = e.agg(max(col("day")).as("maxd"))
      val per = graft.GraftCache.registered(e.groupBy(col("user_id"))
        .agg(max(col("day")).as("last_day"), count(lit(1)).as("f"),
          sum(col("cents")).as("m_cents"))
        .crossJoin(broadcast(maxd))
        .select(col("user_id"), datediff(col("maxd"), col("last_day")).as("r_days"),
          col("f"), col("m_cents")))
      import graft.operators.Ranking
      val q = Ranking.globalNtile(
        Ranking.globalNtile(
          Ranking.globalNtile(per,
            Seq(Ranking.Key(col("r_days")), Ranking.Key(col("user_id"))), 4, "r_q"),
          Seq(Ranking.Key(col("f")), Ranking.Key(col("user_id"))), 4, "f_q"),
        Seq(Ranking.Key(col("m_cents")), Ranking.Key(col("user_id"))), 4, "m_q")
      q.groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).cast("int").as("n_users"),
          sum(col("m_cents")).as("sum_cents"))
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    }),

    // Exact Kolmogorov-Smirnov statistic between the two halves of the
    // event window (purchase value micro) — the bucket-free companion
    // to q181's PSI, integer throughout.
    "q189_ks_test" -> ((s, dir) => {
      val e = Q.events(s, dir)
        .select(col("ts").cast("date").as("day"),
          round(col("value") * 1000000).cast("long").as("vm"))
      val mid = e.agg(date_add(min(col("day")), 15).as("mid"))
      val tagged = e.crossJoin(broadcast(mid))
      Features.ksTest(
        tagged.filter(col("day") < col("mid")),
        tagged.filter(col("day") >= col("mid")),
        col("vm"))
    }),

    // Top-20 opening user journeys: each user's first three event
    // types in (ts, event_id) order, concatenated — the path-analysis
    // readout over the event log.
    "q190_user_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Q.events(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val first3 = e.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      first3.groupBy(col("user_id"))
        .agg(concat_ws(">",
          max(when(col("rn") === 1, col("event_type"))),
          max(when(col("rn") === 2, col("event_type"))),
          max(when(col("rn") === 3, col("event_type")))).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).cast("int").as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(20)
    }),

    // Deterministic class balancing: every language downsampled to the
    // smallest class by md5 rank; graded as per-class kept population
    // (equal by construction) + which docs survived.
    "q191_class_balance" -> ((s, dir) =>
      Features.balanceClasses(t(s, dir, "documents"), col("lang"), col("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("int").as("n_kept"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))),

    // Per-event-type OLS trend slope of daily volume, exact integer
    // micro-units — the "is this metric drifting" ops readout.
    "q192_trend_slope" -> ((s, dir) => {
      val e = Q.events(s, dir).select(col("event_type"), col("ts").cast("date").as("day"))
      val daily = e.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("y"))
      val d0 = daily.agg(min(col("day")).as("d0"))
      val xy = daily.crossJoin(broadcast(d0))
        .select(col("event_type"), datediff(col("day"), col("d0")).as("x"), col("y"))
      Features.slopePerKey(xy, col("event_type"), col("x"), col("y"))
        .withColumnRenamed("key", "event_type")
        .withColumnRenamed("n", "n_days")
        .orderBy(col("event_type"))
    }),

    // Kaplan-Meier signup→purchase survival with right censoring at
    // the window end: integer day gaps, exact at-risk/event counts,
    // the cumulative product as ordered exp-sum-ln round-6.
    "q193_kaplan_meier" -> ((s, dir) => {
      val e = Q.events(s, dir)
      val maxd = e.agg(max(col("ts").cast("date")).as("maxd"))
      val su = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
      val fp = e.filter(col("event_type") === "purchase").as("p")
        .join(su.as("s"), col("p.user_id") === col("s.user_id") &&
          col("p.ts") > col("s.s_ts"))
        .groupBy(col("s.user_id").as("user_id")).agg(min(col("p.ts")).as("p_ts"))
      val subjects = su.join(fp, Seq("user_id"), "left")
        .crossJoin(broadcast(maxd))
        .select(
          when(col("p_ts").isNotNull,
            datediff(col("p_ts").cast("date"), col("s_ts").cast("date")))
            .otherwise(datediff(col("maxd"), col("s_ts").cast("date"))).as("t"),
          when(col("p_ts").isNotNull, 1).otherwise(0).as("ev"))
      Features.kaplanMeier(subjects, col("t"), col("ev"))
    }),

    // k-anonymity audit: documents grouped by the quasi-identifier
    // tuple (lang, source, size-KB bucket); groups smaller than k=5
    // are re-identification risks. Per-lang risk summary — the privacy
    // gate a release pipeline runs before publishing a corpus.
    "q194_kanon" -> ((s, dir) => {
      val q = t(s, dir, "documents")
        .select(col("lang"), col("source"), expr("n_chars div 1000").as("size_kb"))
      val groups = q.groupBy(col("lang"), col("source"), col("size_kb"))
        .agg(count(lit(1)).as("n"))
      groups.groupBy(col("lang"))
        .agg(count(lit(1)).cast("int").as("n_groups"),
          sum(when(col("n") < 5, 1).otherwise(0)).cast("int").as("risky_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("risky_docs"))
        .orderBy(col("lang"))
    }),

    // Day-of-week seasonality index per event type:
    // (dow volume * 7 * 1e6) div total — 1e6 = flat. The dow is
    // calendar-function-free (days since a known Sunday, mod 7) so
    // both engines agree without dayofweek() convention games.
    "q195_dow_seasonality" -> ((s, dir) => {
      val e = Q.events(s, dir)
        .select(col("event_type"),
          pmod(datediff(col("ts").cast("date"), lit("2023-12-31").cast("date")), lit(7))
            .as("dow"))
      val per = e.groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("n"))
      val tot = per.groupBy(col("event_type")).agg(sum(col("n")).as("n_tot"))
      per.join(tot, "event_type")
        .select(col("event_type"), col("dow").cast("int").as("dow"), col("n"),
          expr("(n * 7 * 1000000) div n_tot").as("index_micro"))
        .orderBy(col("event_type"), col("dow"))
    }),

    // Embedding covariance (first 8 dims): milli-quantized (+1000
    // offset keeps every sum nonnegative so div/floor-div agree),
    // centered on the integer floor-mean, pairwise products via a
    // vec_id-co-located self-join — the unpivot shape generalizes to
    // any dim without 2k generated expressions. Integer sums exact;
    // the covariance itself is the one round-6 double.
    "q196_embedding_covariance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 8)).as(Seq("i0", "v")))
        .select(col("vec_id"), (col("i0") + 1).as("i"),
          (round(col("v").cast("double") * 1000) + 1000).cast("long").as("vm"))
      val means = e.groupBy(col("i"))
        .agg(sum(col("vm")).as("sv"), count(lit(1)).as("n"))
        .select(col("i"), expr("sv div n").as("mu"))
      val c = e.join(broadcast(means), "i")
        .select(col("vec_id"), col("i"), (col("vm") - col("mu")).as("c"))
      c.as("a").join(c.as("b"),
          col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(count(lit(1)).as("n"), sum(col("a.c") * col("b.c")).as("s_ij"),
          sum(col("a.c")).as("sa"), sum(col("b.c")).as("sb"))
        .select(col("i"), col("j"), col("n"), col("s_ij"),
          round((col("n") * col("s_ij") - col("sa") * col("sb")) /
            (col("n") * (col("n") - 1)), 6).as("cov_r6"))
        .orderBy(col("i"), col("j"))
    }),

    // Gini concentration of purchase value across users — the
    // "how concentrated is this corpus/revenue on few contributors"
    // audit. Rank-formula numerator exact in integers; one double
    // division round-6.
    // Rank via Ranking.globalRankCumsum (range-partitioned two-pass
    // prefix) — the old row_number window had no partition spec, a
    // single-task sort of every user.
    "q197_gini" -> ((s, dir) => {
      import graft.operators.Ranking
      val per = Q.events(s, dir).filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(sum(Q.cents(col("value"))).as("x"))
      val ranked = Ranking.globalRankCumsum(per,
          Seq(Ranking.Key(col("x")), Ranking.Key(col("user_id"))), "rk")
        .select(col("x"), col("rk"))
      ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("rk") * col("x")).as("srx"))
        .select(col("n"), col("sx"),
          round((col("srx") * 2 - (col("n") + 1) * col("sx")) /
            (col("n") * col("sx")), 6).as("gini_r6"))
    }),

    // Calibration bins: the heuristic quality score as a predictor of
    // lang='en', cut into score deciles — per-bin observed positive
    // rate in exact integer micro. The reliability-diagram readout
    // beside q184's AUC.
    // Deciles via Ranking.globalNtile over the persisted scored frame
    // (9 broadcast boundary tuples, map-side assignment) — the old
    // ntile window moved every scored doc to one task.
    "q198_calibration" -> ((s, dir) => {
      import graft.operators.Ranking
      val docs = t(s, dir, "documents")
      val scored = graft.GraftCache.registered(docs
        .join(TextFunctions.tokenAggregates(docs, "doc_id", "text"), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          round(TextFunctions.qualityFromScores(col("text")) * 1000000).cast("long")
            .as("score_micro"),
          (col("lang") === "en").cast("long").as("y")))
      Ranking.globalNtile(scored,
          Seq(Ranking.Key(col("score_micro")), Ranking.Key(col("doc_id"))), 10, "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("score_micro")).as("ssum"))
        .select(col("decile").cast("int").as("decile"), col("n"), col("n_pos"),
          expr("(n_pos * 1000000) div n").as("pos_rate_micro"),
          expr("ssum div n").as("mean_score_micro"))
        .orderBy(col("decile"))
    }),

    // Chi-square uniformity audit of the md5 shard assignment (q138's
    // router): exact integer statistic via the (8·O − n)² identity —
    // the "is my partitioner actually balanced" gate.
    "q199_chi_square" -> ((s, dir) => {
      val sh = Curation.shardAssign(t(s, dir, "documents"), "doc_id", 8)
        .groupBy(col("shard")).agg(count(lit(1)).as("o"))
      val tot = sh.agg(sum(col("o")).as("n"))
      sh.crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n_docs"),
          sum((col("o") * 8 - col("n")) * (col("o") * 8 - col("n"))).as("num"),
          max(abs(col("o") * 8 - col("n"))).as("max_abs_dev8"))
        .select(col("n_docs"),
          expr("(num * 1000000) div (8 * n_docs)").as("chi2_micro"),
          col("max_abs_dev8"))
    }),

    // Point-in-time feature-store join: every purchase becomes a
    // training example carrying the user's running view count, running
    // spend, and last event type STRICTLY before the purchase instant
    // — the leakage-free training-set assembly a feature store exists
    // for. One key-shuffle window join ([[Features.pitJoin]]), never a
    // labels x features candidate set.
    "q200_pit_features" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Q.events(s, dir)
      val wf = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val feats = ev.select(col("user_id"), col("ts"), col("event_id"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(wf).as("prior_views"),
        sum(when(col("event_type") === "purchase", Q.cents(col("value"))).otherwise(0L))
          .over(wf).as("prior_spend_cents"),
        col("event_type").as("last_type"))
      val labels = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("label_id"),
          Q.cents(col("value")).as("label_cents"))
      Features.pitJoin(labels, feats, Seq("user_id"), "ts", "event_id",
          Seq("prior_views", "prior_spend_cents", "last_type"), strict = true)
        .select(col("label_id"), col("user_id"), col("label_cents"),
          coalesce(col("prior_views"), lit(0L)).as("prior_views"),
          coalesce(col("prior_spend_cents"), lit(0L)).as("prior_spend_cents"),
          col("last_type"))
        .orderBy(col("label_id"))
    }),

    // Compaction + retention lifecycle: three overlapping upsert
    // commits fragment the table; compact() rewrites the latest
    // snapshot at the target file count as a NEW commit, vacuum()
    // drops the superseded versions. Graded on content preservation
    // (the merged per-lang aggregates) plus contract flags for
    // file-count reduction and single-version retention — the
    // small-files maintenance loop every table format needs.
    "q201_compact_vacuum" -> ((s, dir) => {
      import graft.operators.Versioned
      val root = Q.tempDir("graft_compact")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      Versioned.commit(root, docs.filter(col("doc_id") < 300).repartition(8))
      Versioned.upsert(s, root,
        docs.filter(col("doc_id") >= 200 && col("doc_id") < 400).repartition(8), "doc_id")
      Versioned.upsert(s, root,
        docs.filter(col("doc_id") >= 350).repartition(8), "doc_id")
      val filesBefore = Versioned.read(s, root).inputFiles.length
      Versioned.compact(s, root, 2)
      Versioned.vacuum(root)
      val filesAfter = Versioned.read(s, root).inputFiles.length
      val compacted = if (filesAfter < filesBefore && filesAfter <= 2) 1 else 0
      val retained = if (Versioned.versions(root).size == 1) 1 else 0
      Versioned.read(s, root)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .select(col("lang"), col("n_docs"), col("sum_chars"),
          lit(compacted).as("compacted_ok"), lit(retained).as("retained_ok"))
        .orderBy(col("lang"))
    }),

    // Retrieval-eval contract: MRR@10 of the 8-plane LSH bucket search
    // against the exact brute-force top-1 ground truth for 20 query
    // vectors — the eval loop an ANN deployment runs before trusting
    // its index. Candidates come only from the query's own bucket
    // (the production read path); a miss scores 0.
    "q202_mrr_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val b = emb.select(col("vec_id"),
        Similarity.lshBucket(Similarity.toDoubleVec(col("embedding")), 8, 64).as("bucket"),
        Similarity.toDoubleVec(col("embedding")).as("e"))
      val qs = b.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("bucket"), col("e").as("qe"))
      val ranked = b.join(broadcast(qs), "bucket")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(Similarity.cosine(col("e"), col("qe")), 6).as("cos_sim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
      val truth = Similarity.knnJoin(emb, col("vec_id") < 20, 1)
        .select(col("query_id"), col("vec_id").as("t_id"))
      truth.join(
          ranked.select(col("query_id"), col("vec_id").as("t_id"), col("rn")),
          Seq("query_id", "t_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("rn").isNotNull, 1L).otherwise(0L)).as("n_hit"),
          sum(coalesce(expr("1000000 div rn"), lit(0L))).as("rr_sum"))
        .select(col("n_queries"), col("n_hit"),
          expr("rr_sum div n_queries").as("mrr_micro"))
    }),

    // Weighted median: smallest price whose doubled cumulative weight
    // reaches the total (weight = quantity), per return flag — exact
    // integers end to end: one grouped aggregate + a cumulative window
    // over DISTINCT prices + a min-pick. The weighted-percentile
    // discipline for "median price actually shipped".
    "q203_weighted_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 1000000).cast("long").as("pm"),
        col("l_quantity").cast("long").as("w"))
      val g = li.groupBy(col("flag"), col("pm")).agg(sum(col("w")).as("wsum"))
      val wcum = Window.partitionBy(col("flag")).orderBy(col("pm"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = li.groupBy(col("flag")).agg(sum(col("w")).as("totw"),
        count(lit(1)).as("n_rows"))
      g.withColumn("cumw", sum(col("wsum")).over(wcum))
        .join(tot, "flag")
        .filter(col("cumw") * 2 >= col("totw"))
        .groupBy(col("flag"))
        .agg(max(col("n_rows")).as("n_rows"), max(col("totw")).as("tot_w"),
          min(col("pm")).as("wmedian_micro"))
        .orderBy(col("flag"))
    }),

    // CUSUM changepoint detection over daily volumes — the sequential
    // recurrence S_t = max(0, S_{t-1} + x_t - mu - k) computed
    // ASSOCIATIVELY via the prefix-min identity
    // S_t = P_t - min(0, min_{j<=t} P_j): two ordered windows over the
    // per-(type, day) aggregate frame, exact integer micro throughout.
    // The sustained-shift detector q175's MAD spike gate can't see.
    "q204_cusum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Q.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val mu = daily.groupBy(col("event_type"))
        .agg(expr("(sum(x) * 1000000) div count(1)").as("mu_micro"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(mu, "event_type")
        .withColumn("p",
          sum(col("x") * 1000000L - col("mu_micro") - expr("mu_micro div 20")).over(w))
        .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(w)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("int").as("n_days"),
          max(col("s")).as("max_cusum_micro"),
          // alarm when S exceeds h = mu/2 (2S > mu avoids the div)
          sum(when(col("s") * 2 > col("mu_micro"), 1).otherwise(0))
            .cast("int").as("n_alarm_days"))
        .orderBy(col("event_type"))
    }),

    // Degree assortativity of the trade graph: Pearson correlation of
    // endpoint degrees over symmetrized edges — do high-degree
    // customers trade with high-degree suppliers? Integer sums exact,
    // the correlation is the one round-6 double.
    "q205_assortativity" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
        .distinct()
      val edges = graft.GraftCache.registered(
        pairs.unionAll(pairs.select(col("dst").as("src"), col("src").as("dst"))))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val xy = edges
        .join(deg.select(col("src"), col("deg").as("dx")), "src")
        .join(deg.select(col("src").as("dst"), col("deg").as("dy")), "dst")
      // The per-arc moment SUMS are exact longs, but the Pearson
      // products of two corpus-sized sums (n·sxy, sx·sy, ...) pass
      // 2^63 at the x100 soak tier (measured: ARITHMETIC_OVERFLOW
      // under ANSI, while DuckDB's HUGEINT sailed on — the engines
      // diverged exactly where it matters). Promote each exact sum to
      // double BEFORE the products: one IEEE rounding per operand,
      // identical in both engines, and the result is r6-rounded anyway.
      xy.agg(count(lit(1)).as("n"), sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dy")).as("sxy"), sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .select(col("n"),
          round((col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
              (col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("r_r6"))
    }),

    // Lang-ID evaluation against the labeled lang column: the full
    // confusion matrix of q61's marker-based classifier — the accuracy
    // audit every heuristic labeler needs before it gates a corpus.
    "q206_langid_eval" -> ((s, dir) => {
      val pred = TextQueries.queries("q61_lang_id")(s, dir)
      t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy(col("lang").as("true_lang"), col("lang_pred"))
        .agg(count(lit(1)).cast("int").as("n"))
        .orderBy(col("true_lang"), col("lang_pred"))
    }),

    // Incremental materialized-view maintenance: the per-lang aggregate
    // MV is kept current by applying only the CHANGE FEED between two
    // snapshots (delete side subtracts v0 rows, insert side adds v1
    // rows, updates do both) — cost tracks the delta, never the
    // standing corpus. Graded against the direct aggregate of the
    // final state (same merged shape as q177's oracle).
    "q207_incr_view" -> ((s, dir) => {
      import graft.operators.Versioned
      val root = Q.tempDir("graft_mv")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      Versioned.commit(root, docs.filter(col("doc_id") < 400))
      val changes =
        docs.filter(col("doc_id") < 50).select(lit("delete").as("op"), col("doc_id"), col("lang"), col("n_chars"))
          .unionByName(docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
            .select(lit("update").as("op"), col("doc_id"), col("lang"),
              (col("n_chars") + 1000000L).as("n_chars")))
          .unionByName(docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
            .select(lit("insert").as("op"), col("doc_id"), col("lang"), col("n_chars")))
      def agg(df: org.apache.spark.sql.DataFrame, sign: Int) =
        df.groupBy(col("lang")).agg((count(lit(1)) * sign).as("dn"),
          (sum(col("n_chars")) * sign).as("dchars"))
      val mv0 = agg(Versioned.read(s, root, Some(0L)), 1)
      Versioned.applyChanges(s, root, changes, "doc_id")
      val d = Versioned.diff(s, root, 0L, 1L, "doc_id")
      val minus = agg(Versioned.read(s, root, Some(0L)).join(
        d.filter(col("op").isin("delete", "update")).select(col("doc_id")), "doc_id"), -1)
      val plus = agg(Versioned.read(s, root, Some(1L)).join(
        d.filter(col("op").isin("insert", "update")).select(col("doc_id")), "doc_id"), 1)
      mv0.unionByName(minus).unionByName(plus)
        .groupBy(col("lang"))
        .agg(sum(col("dn")).cast("int").as("n_docs"),
          sum(col("dchars")).as("sum_chars"))
        .filter(col("n_docs") > 0)
        .orderBy(col("lang"))
    }),

    // Dedup-pipeline evaluation on a fixed 300-doc sample: exact
    // all-pairs shingle-set Jaccard >= 0.6 as ground truth (the
    // sample stays 300 docs at ANY corpus size — sample-eval
    // semantics), q51's MinHash+LSH verified pairs as the system
    // under test. Precision must be 1.0 (candidates are
    // exact-verified); recall reads what the banding misses.
    "q208_dedup_eval" -> ((s, dir) => {
      import graft.operators.Dedup
      val sample = t(s, dir, "documents").filter(col("doc_id") < 300)
      val sets = Dedup.shingleSets(sample, "doc_id", "text")
      val truth = sets.as("a").crossJoin(broadcast(sets.as("b")))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          graft.plans.SortedIntersectCount.sorted_intersect_count(
            col("a.hs"), col("b.hs")).as("inter"),
          size(col("a.hs")).as("na"), size(col("b.hs")).as("nb"))
        .filter(round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6) >= 0.6)
        .select(col("doc_a"), col("doc_b"))
      val cand = Dedup.minhashPairs(sample, "doc_id", "text")
        .select(col("doc_a"), col("doc_b"))
      val hit = cand.join(truth, Seq("doc_a", "doc_b"))
      truth.agg(count(lit(1)).as("n_truth")).crossJoin(
          cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          expr("(n_hit * 1000000) div greatest(1, n_cand)").as("precision_micro"),
          expr("(n_hit * 1000000) div greatest(1, n_truth)").as("recall_micro"))
    }),

    // nDCG@10 of the LSH bucket search vs the exact ideal ranking —
    // q202's reciprocal-rank eval upgraded to graded relevance. DCG
    // terms are INTEGER (micro relevance × micro-rounded log2
    // discount), so per-query sums are order-free and the oracle hash
    // can't drift on float addition order.
    "q209_ndcg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val b = emb.select(col("vec_id"),
        Similarity.lshBucket(Similarity.toDoubleVec(col("embedding")), 8, 64).as("bucket"),
        Similarity.toDoubleVec(col("embedding")).as("e"))
      val qs = b.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("bucket"), col("e").as("qe"))
      val approx = b.join(broadcast(qs), "bucket")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"),
          round(Similarity.cosine(col("e"), col("qe")), 6).as("cos_sim"), col("vec_id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
      val ideal = Similarity.knnJoin(emb, col("vec_id") < 20, 10)
      def dcg(df: org.apache.spark.sql.DataFrame, name: String) =
        df.select(col("query_id"),
            expr("(greatest(0, cast(round(cos_sim * 1000000) as bigint)) * 1000000)" +
              " div cast(round(log2(rn + 1) * 1000000) as bigint)").as("term"))
          .groupBy(col("query_id")).agg(sum(col("term")).as(name))
      dcg(ideal, "idcg").join(dcg(approx, "dcg"), Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("dcg"), lit(0L)).as("dcg"), col("idcg"))
        .select(col("query_id"), col("dcg"), col("idcg"),
          expr("(dcg * 1000000) div greatest(1, idcg)").as("ndcg_micro"))
        .orderBy(col("query_id"))
    }),

    // Embedding QA audit: the checks a vector pipeline runs before
    // indexing — dimension consistency, zero vectors, norm (sum-of-
    // squares) spread — all in exact milli-unit integers, one scan.
    "q213_embedding_audit" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          aggregate(
            transform(col("embedding"), v => {
              val m = round(v.cast("double") * 1000).cast("long"); m * m
            }),
            lit(0L), (acc, x) => acc + x).as("q"))
      e.agg(count(lit(1)).as("n_vecs"),
          min(col("dim")).cast("int").as("dim_min"),
          max(col("dim")).cast("int").as("dim_max"),
          sum(when(col("q") === 0, 1L).otherwise(0L)).as("n_zero"),
          min(col("q")).as("min_q2"), max(col("q")).as("max_q2"),
          sum(col("q")).as("sum_q2"))
        .select(col("n_vecs"), col("dim_min"), col("dim_max"), col("n_zero"),
          col("min_q2"), col("max_q2"),
          expr("sum_q2 div n_vecs").as("avg_q2"))
    }),

    // Session-level stats over 30-minute gap sessionization: session
    // count, events-per-session, and exact p50/p95 duration in the
    // hundredth-rank integer percentile discipline (q174's) — the
    // "what does a typical session look like" readout.
    "q214_session_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Q.events(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val flagged = e.select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("new_s",
          when(unix_micros(col("ts")) - unix_micros(coalesce(lag(col("ts"), 1).over(w), col("ts")))
            > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sess = flagged.groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_ev"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("dur"))
      sess.agg(count(lit(1)).as("n_sessions"),
          sum(col("n_ev")).as("n_events"),
          round(expr("percentile(n_ev, 0.5)") * 100).cast("long").as("p50_events_100"),
          round(expr("percentile(dur, 0.5)") * 100).cast("long").as("p50_dur_100"),
          round(expr("percentile(dur, 0.95)") * 100).cast("long").as("p95_dur_100"))
    }),

    // Day-of-week x hour activity heatmap with per-cell traffic share
    // in exact micro — the ops/BI density readout (dow derived
    // calendar-function-free, as in q195).
    "q215_hour_heatmap" -> ((s, dir) => {
      val e = Q.events(s, dir).select(
        pmod(datediff(col("ts").cast("date"), lit("2023-12-31").cast("date")), lit(7))
          .cast("int").as("dow"),
        hour(col("ts")).as("hr"))
      val per = e.groupBy(col("dow"), col("hr")).agg(count(lit(1)).as("n"))
      val tot = per.agg(sum(col("n")).as("nt"))
      per.crossJoin(broadcast(tot))
        .select(col("dow"), col("hr"), col("n"),
          expr("(n * 1000000) div nt").as("share_micro"))
        .orderBy(col("dow"), col("hr"))
    }),

    // Benford first-digit audit of order totals: observed first-
    // significant-digit shares vs Benford's log10(1 + 1/d) expectation
    // — the classic fabricated-data / unit-mixing smoke test. The
    // digit extraction is pure string (engine-exact on positive
    // integers); only the 9 expectation constants touch a float, each
    // micro-rounded identically by both engines.
    "q211_benford" -> ((s, dir) => {
      val c = t(s, dir, "orders")
        .select(Q.cents(col("o_totalprice")).as("c"))
        .filter(col("c") > 0)
        .select(substring(col("c").cast("string"), 1, 1).cast("int").as("digit"))
      val per = c.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = per.agg(sum(col("n")).as("nt"))
      per.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("(n * 1000000) div nt").as("obs_micro"),
          round(log(10.0, lit(1.0) + lit(1.0) / col("digit")) * 1000000)
            .cast("long").as("exp_micro"))
        .select(col("digit"), col("n"), col("obs_micro"), col("exp_micro"),
          (col("obs_micro") - col("exp_micro")).as("dev_micro"))
        .orderBy(col("digit"))
    }),

    // Pareto concentration curve: the revenue share of the top
    // 10/20/50 percent of users — the "how top-heavy is this corpus"
    // readout beside q197's single-number Gini. One ranked window over
    // per-user aggregates + a 3-row percent spine join.
    // Running revenue share via Ranking.cumsumAtRanks: the query only
    // reads the cumulative sum AT THREE ranks (top 10/20/50% cuts), so
    // the full ranked frame is never materialized — one range shuffle
    // of the per-user frame, per-partition (count, sum) offsets, then
    // one early-terminated scan of the single partition holding each
    // cut. The old form stacked TWO partition-less windows (row_number,
    // then a running sum over it): the whole user population through
    // one task, twice.
    "q212_pareto" -> ((s, dir) => {
      import graft.operators.Ranking
      val per = Q.events(s, dir).filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(sum(Q.cents(col("value"))).as("x"))
      val pcts = Seq(10L, 20L, 50L)
      def kFor(nu: Long)(pct: Long): Long = math.max(1L, nu * pct / 100)
      val (nu, tx, cums) = Ranking.cumsumAtRanks(per,
        Seq(Ranking.Key(col("x"), asc = false), Ranking.Key(col("user_id"))),
        "x", n => pcts.map(kFor(n)))
      import s.implicits._
      pcts.filter(_ => nu > 0).map { pct =>
        val k = kFor(nu)(pct)
        val cum = cums(k)
        (pct.toInt, k, cum, cum * 1000000L / tx)
      }.toDF("pct", "k_users", "cum_cents", "share_micro")
        .orderBy(col("pct"))
    }),

    // Windowed funnel: view -> click -> purchase where each stage must
    // land within ONE HOUR of the previous stage's first completion —
    // the time-boxed conversion semantics product analytics actually
    // uses (q146 is the unbounded twin). Same shrinking-frontier
    // min-aggregate shape, one extra residual predicate per stage.
    "q210_windowed_funnel" -> ((s, dir) =>
      graft.operators.Sequence.funnel(Q.events(s, dir), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), maxGapSec = Some(3600L))
        .orderBy(col("stage_idx")))
  )

  val oracleSql: Map[String, String] = Map(
    "q180_concurrency" ->
      s"""WITH pts AS (
            SELECT event_type, ts AS t, 1 AS delta FROM events
            UNION ALL
            SELECT event_type, ts + INTERVAL 300 SECONDS, -1 FROM events),
          sw AS (SELECT event_type,
              sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
            FROM pts)
          SELECT event_type, CAST(count(*) / 2 AS BIGINT) AS n_intervals,
            CAST(max(conc) AS INT) AS max_conc
          FROM sw GROUP BY 1 ORDER BY 1""",

    "q181_psi_drift" ->
      s"""WITH e AS (SELECT CAST(ts AS DATE) AS day,
              CAST(round(value * 1000000) AS BIGINT) AS vm FROM events),
          m AS (SELECT min(day) + INTERVAL 15 DAYS AS mid FROM e),
          r AS (SELECT vm FROM e CROSS JOIN m WHERE day < mid),
          c AS (SELECT vm FROM e CROSS JOIN m WHERE day >= mid),
          b AS (SELECT min(vm) AS mn, max(vm) AS mx FROM r),
          rb AS (SELECT CAST(greatest(0, least(9,
              ((vm - mn) * 10) // (mx - mn + 1))) AS INT) AS bucket
            FROM r CROSS JOIN b),
          cb AS (SELECT CAST(greatest(0, least(9,
              ((vm - mn) * 10) // (mx - mn + 1))) AS INT) AS bucket
            FROM c CROSS JOIN b),
          spine AS (SELECT unnest(generate_series(0, 9)) AS bucket),
          rn AS (SELECT bucket, count(*) AS ref_n FROM rb GROUP BY 1),
          cn AS (SELECT bucket, count(*) AS cur_n FROM cb GROUP BY 1),
          j AS (SELECT CAST(spine.bucket AS INT) AS bucket,
              coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
            FROM spine LEFT JOIN rn ON spine.bucket = rn.bucket
              LEFT JOIN cn ON spine.bucket = cn.bucket),
          tt AS (SELECT sum(ref_n) AS rt, sum(cur_n) AS ct FROM j)
          SELECT bucket, CAST(ref_n AS BIGINT) AS ref_n,
            CAST(cur_n AS BIGINT) AS cur_n,
            round(((ref_n + 1) / (rt + 10) - (cur_n + 1) / (ct + 10)) *
              ln(((ref_n + 1) / (rt + 10)) / ((cur_n + 1) / (ct + 10))), 6)
              AS psi_r6
          FROM j CROSS JOIN tt ORDER BY bucket""",

    "q182_target_encoding" ->
      s"""WITH p AS (SELECT user_id,
              CAST(round(value * 1000000) AS BIGINT) AS vm
            FROM events WHERE event_type = 'purchase'),
          per AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n,
              sum(vm) AS sum_micro FROM p GROUP BY 1),
          g AS (SELECT sum(sum_micro) AS ts, sum(n) AS tn FROM per)
          SELECT key AS user_id, n, CAST(sum_micro AS BIGINT) AS sum_micro,
            CAST((sum_micro + (ts // tn) * 20) // (n + 20) AS BIGINT)
              AS enc_micro
          FROM per CROSS JOIN g
          ORDER BY enc_micro DESC, user_id LIMIT 50""",

    "q183_feature_hash" ->
      s"""WITH tok AS (SELECT doc_id AS id,
              unnest(string_split(lower(text), ' ')) AS token FROM $DocsPq),
          t2 AS (SELECT id, token,
              CAST(${Q.sqlTokenHash("'fh_' || token")} % 64 AS INT) AS bucket
            FROM tok WHERE token <> '')
          SELECT bucket, CAST(count(*) AS BIGINT) AS n_tok,
            CAST(count(DISTINCT token) AS BIGINT) AS n_terms,
            CAST(count(DISTINCT id) AS BIGINT) AS n_docs
          FROM t2 GROUP BY 1 ORDER BY 1""",

    "q184_auc" ->
      s"""WITH s AS (SELECT n_chars % 50 AS s,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM $DocsPq),
          g AS (SELECT s, count(*) AS n, sum(y) AS p FROM s GROUP BY 1),
          r AS (SELECT p, n,
              coalesce(sum(n) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
            FROM g),
          a AS (SELECT sum(p * (cum * 2 + n + 1)) AS r2, sum(p) AS n_pos,
              sum(n - p) AS n_neg FROM r)
          SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
            CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
            CAST(((r2 - n_pos * (n_pos + 1)) * 1000000)
              // (2 * n_pos * n_neg) AS BIGINT) AS auc_micro
          FROM a""",

    "q185_ab_test" ->
      s"""WITH p AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g,
              CAST(round(value * 100) AS BIGINT) AS c
            FROM events WHERE event_type = 'purchase'),
          a AS (SELECT
              sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n_a,
              sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n_b,
              sum(CASE WHEN g = 1 THEN c ELSE 0 END) AS sum_a_cents,
              sum(CASE WHEN g = 0 THEN c ELSE 0 END) AS sum_b_cents,
              sum(CASE WHEN g = 1 THEN c * c ELSE 0 END) AS qa,
              sum(CASE WHEN g = 0 THEN c * c ELSE 0 END) AS qb
            FROM p)
          SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
            CAST(sum_a_cents AS BIGINT) AS sum_a_cents,
            CAST(sum_b_cents AS BIGINT) AS sum_b_cents,
            round(sum_a_cents / n_a - sum_b_cents / n_b, 6) AS dmean_cents_r6,
            round((sum_a_cents / n_a - sum_b_cents / n_b) /
              sqrt((qa - sum_a_cents * sum_a_cents / n_a) / (n_a - 1) / n_a +
                   (qb - sum_b_cents * sum_b_cents / n_b) / (n_b - 1) / n_b), 6)
              AS z_r6
          FROM a""",

    "q186_keywords" ->
      s"""WITH tk AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
            FROM $DocsPq),
          sh AS (SELECT doc_id,
              tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS term
            FROM tk, unnest(generate_series(1, len(tk) - 2)) AS u(i)
            WHERE len(tk) >= 3),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM sh GROUP BY 1, 2),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          nd AS (SELECT count(DISTINCT doc_id) AS nd FROM $DocsPq),
          sc AS (SELECT doc_id, term,
              tf * ((1000000 * nd) // df) AS score
            FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
          rk AS (SELECT doc_id, term, score,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, term) AS rn FROM sc)
          SELECT doc_id, term, CAST(score AS BIGINT) AS score
          FROM rk WHERE rn <= 3 ORDER BY doc_id, score DESC, term""",

    "q187_basket_pairs" ->
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS id, l_partkey AS item
            FROM lineitem),
          dfreq AS (SELECT item, count(*) AS dfreq FROM inc
            GROUP BY 1 HAVING count(*) >= 3),
          kept AS (SELECT id, item FROM (
              SELECT i.id, i.item,
                row_number() OVER (PARTITION BY i.id ORDER BY i.item) AS rn
              FROM inc i JOIN dfreq USING (item)) WHERE rn <= 64),
          u AS (SELECT count(DISTINCT o_orderkey) AS n_docs FROM orders),
          pairs AS (SELECT a.item AS item_a, b.item AS item_b,
              count(*) AS npair
            FROM kept a JOIN kept b ON a.id = b.id AND a.item < b.item
            GROUP BY 1, 2 HAVING count(*) >= 2)
          SELECT item_a, item_b, CAST(npair AS INT) AS npair,
            CAST(da.dfreq AS INT) AS na, CAST(db.dfreq AS INT) AS nb,
            CAST((npair * n_docs * 1000000) // (da.dfreq * db.dfreq) AS BIGINT)
              AS lift_micro
          FROM pairs JOIN dfreq da ON pairs.item_a = da.item
            JOIN dfreq db ON pairs.item_b = db.item CROSS JOIN u
          ORDER BY lift_micro DESC, npair DESC, item_a, item_b LIMIT 50""",

    "q188_rfm" ->
      s"""WITH p AS (SELECT user_id, CAST(ts AS DATE) AS day,
              CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'),
          mx AS (SELECT max(day) AS maxd FROM p),
          per AS (SELECT user_id,
              datediff('day', max(day), maxd) AS r_days,
              count(*) AS f, sum(cents) AS m_cents
            FROM p CROSS JOIN mx GROUP BY user_id, maxd),
          q AS (SELECT user_id, f, m_cents,
              ntile(4) OVER (ORDER BY r_days, user_id) AS r_q,
              ntile(4) OVER (ORDER BY f, user_id) AS f_q,
              ntile(4) OVER (ORDER BY m_cents, user_id) AS m_q
            FROM per)
          SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
            CAST(m_q AS INT) AS m_q, CAST(count(*) AS INT) AS n_users,
            CAST(sum(m_cents) AS BIGINT) AS sum_cents
          FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    "q189_ks_test" ->
      s"""WITH e AS (SELECT CAST(ts AS DATE) AS day,
              CAST(round(value * 1000000) AS BIGINT) AS vm FROM events),
          m AS (SELECT min(day) + INTERVAL 15 DAYS AS mid FROM e),
          ga AS (SELECT vm AS v, count(*) AS ca FROM e CROSS JOIN m
            WHERE day < mid GROUP BY 1),
          gb AS (SELECT vm AS v, count(*) AS cb FROM e CROSS JOIN m
            WHERE day >= mid GROUP BY 1),
          g AS (SELECT coalesce(ga.v, gb.v) AS v, coalesce(ca, 0) AS ca,
              coalesce(cb, 0) AS cb
            FROM ga FULL OUTER JOIN gb ON ga.v = gb.v),
          tt AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b FROM g),
          cw AS (SELECT
              sum(ca) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
              sum(cb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
            FROM g)
          SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
            CAST(max(abs(cuma * n_b - cumb * n_a)) AS BIGINT) AS d_scaled,
            round(max(abs(cuma * n_b - cumb * n_a)) / (n_a * n_b), 6) AS ks_r6
          FROM cw CROSS JOIN tt GROUP BY n_a, n_b""",

    "q190_user_paths" ->
      s"""WITH r AS (SELECT user_id, event_type,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS rn
            FROM events),
          p AS (SELECT user_id, concat_ws('>',
              max(CASE WHEN rn = 1 THEN event_type END),
              max(CASE WHEN rn = 2 THEN event_type END),
              max(CASE WHEN rn = 3 THEN event_type END)) AS path
            FROM r WHERE rn <= 3 GROUP BY 1)
          SELECT path, CAST(count(*) AS INT) AS n_users
          FROM p GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""",

    "q191_class_balance" ->
      s"""WITH ranked AS (SELECT lang, doc_id, n_chars,
              row_number() OVER (PARTITION BY lang
                ORDER BY md5('bal_' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM $DocsPq),
          mn AS (SELECT min(cnt) AS min_n FROM
            (SELECT count(*) AS cnt FROM $DocsPq GROUP BY lang)),
          kept AS (SELECT lang, doc_id, n_chars FROM ranked CROSS JOIN mn
            WHERE rn <= min_n)
          SELECT lang, CAST(count(*) AS INT) AS n_kept,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            min(doc_id) AS min_id, max(doc_id) AS max_id
          FROM kept GROUP BY 1 ORDER BY 1""",

    "q192_trend_slope" ->
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
              CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
          d0 AS (SELECT min(day) AS d0 FROM daily),
          xy AS (SELECT event_type,
              CAST(datediff('day', d0, day) AS BIGINT) AS x, y
            FROM daily CROSS JOIN d0),
          a AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM xy GROUP BY 1)
          SELECT event_type, CAST(n AS BIGINT) AS n_days,
            CASE WHEN n * sxx - sx * sx <> 0 THEN
              CAST((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
                AS BIGINT) END AS slope_micro
          FROM a ORDER BY 1""",

    "q193_kaplan_meier" ->
      s"""WITH mx AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
          su AS (SELECT user_id, min(ts) AS s_ts FROM events
            WHERE event_type = 'signup' GROUP BY 1),
          fp AS (SELECT s.user_id, min(p.ts) AS p_ts
            FROM events p JOIN su s ON p.user_id = s.user_id
              AND p.ts > s.s_ts
            WHERE p.event_type = 'purchase' GROUP BY 1),
          subj AS (SELECT
              CASE WHEN p_ts IS NOT NULL THEN
                datediff('day', CAST(s_ts AS DATE), CAST(p_ts AS DATE))
              ELSE datediff('day', CAST(s_ts AS DATE), maxd) END AS t,
              CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM su LEFT JOIN fp USING (user_id) CROSS JOIN mx),
          g AS (SELECT t, sum(ev) AS d, sum(1 - ev) AS c FROM subj GROUP BY 1),
          tot AS (SELECT sum(d + c) AS n_total FROM g),
          r AS (SELECT t, d,
              n_total - coalesce(sum(d + c) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
            FROM g CROSS JOIN tot),
          k AS (SELECT t, n_risk, d,
              CASE WHEN max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                  OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                THEN 0.0
                ELSE round(exp(sum(CASE WHEN d < n_risk
                    THEN ln(1.0 - d * 1.0 / n_risk) ELSE 0.0 END)
                  OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
              END AS km_r6
            FROM r)
          SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
            CAST(d AS BIGINT) AS d, km_r6
          FROM k WHERE d > 0 ORDER BY t""",

    "q194_kanon" ->
      s"""WITH g AS (SELECT lang, source, n_chars // 1000 AS size_kb,
              count(*) AS n
            FROM $DocsPq GROUP BY 1, 2, 3)
          SELECT lang, CAST(count(*) AS INT) AS n_groups,
            CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS INT) AS risky_groups,
            CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS risky_docs
          FROM g GROUP BY 1 ORDER BY 1""",

    "q195_dow_seasonality" ->
      s"""WITH e AS (SELECT event_type,
              datediff('day', DATE '2023-12-31', CAST(ts AS DATE)) % 7 AS dow
            FROM events),
          per AS (SELECT event_type, dow, count(*) AS n FROM e GROUP BY 1, 2),
          tot AS (SELECT event_type, sum(n) AS n_tot FROM per GROUP BY 1)
          SELECT per.event_type, CAST(dow AS INT) AS dow,
            CAST(n AS BIGINT) AS n,
            CAST((n * 7 * 1000000) // n_tot AS BIGINT) AS index_micro
          FROM per JOIN tot USING (event_type)
          ORDER BY event_type, dow""",

    "q196_embedding_covariance" ->
      s"""WITH e AS (SELECT vec_id, i,
              CAST(round(embedding[i]::DOUBLE * 1000) + 1000 AS BIGINT) AS vm
            FROM $EmbPq, unnest(generate_series(1, 8)) AS u(i)),
          mu AS (SELECT i, sum(vm) // count(*) AS mu FROM e GROUP BY 1),
          c AS (SELECT vec_id, e.i, vm - mu AS c FROM e JOIN mu ON e.i = mu.i),
          p AS (SELECT a.i AS i, b.i AS j, count(*) AS n,
              sum(a.c * b.c) AS s_ij, sum(a.c) AS sa, sum(b.c) AS sb
            FROM c a JOIN c b ON a.vec_id = b.vec_id AND a.i <= b.i
            GROUP BY 1, 2)
          SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
            CAST(n AS BIGINT) AS n, CAST(s_ij AS BIGINT) AS s_ij,
            round((n * s_ij - sa * sb) / (n * (n - 1)), 6) AS cov_r6
          FROM p ORDER BY i, j""",

    "q197_gini" ->
      s"""WITH per AS (SELECT user_id,
              sum(CAST(round(value * 100) AS BIGINT)) AS x
            FROM events WHERE event_type = 'purchase' GROUP BY 1),
          r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS rk
            FROM per)
          SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
            round((sum(rk * x) * 2 - (count(*) + 1) * sum(x)) /
              (count(*) * sum(x)), 6) AS gini_r6
          FROM r""",

    "q198_calibration" ->
      s"""WITH ${TextQueries.sqlQualityCtes},
          s AS (SELECT q.doc_id,
              CAST(round(quality * 1000000) AS BIGINT) AS score_micro,
              CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
            FROM qual q JOIN $DocsPq d ON q.doc_id = d.doc_id),
          b AS (SELECT score_micro, y,
              ntile(10) OVER (ORDER BY score_micro, doc_id) AS decile FROM s)
          SELECT CAST(decile AS INT) AS decile, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS n_pos,
            CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS pos_rate_micro,
            CAST(sum(score_micro) // count(*) AS BIGINT) AS mean_score_micro
          FROM b GROUP BY 1 ORDER BY 1""",

    "q199_chi_square" ->
      s"""WITH s AS (SELECT doc_id,
            CAST(${Q.sqlTokenHash("'shard_' || CAST(doc_id AS VARCHAR)")} % 8 AS INT)
              AS shard
          FROM $DocsPq),
          o AS (SELECT shard, count(*) AS o FROM s GROUP BY 1),
          t AS (SELECT sum(o) AS n FROM o)
          SELECT CAST(max(n) AS BIGINT) AS n_docs,
            CAST((sum((o * 8 - n) * (o * 8 - n)) * 1000000) // (8 * max(n))
              AS BIGINT) AS chi2_micro,
            CAST(max(abs(o * 8 - n)) AS BIGINT) AS max_abs_dev8
          FROM o CROSS JOIN t""",

    // correlated replay: the latest strictly-prior event per purchase
    // (ts DESC, event_id DESC) carries the running aggregates computed
    // in (ts, event_id) order — identical tie discipline to pitJoin.
    "q200_pit_features" ->
      s"""WITH f AS (SELECT user_id, ts, event_id,
              sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                OVER w AS prior_views,
              sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                OVER w AS prior_spend_cents,
              event_type AS last_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          lbl AS (SELECT user_id, ts, event_id AS label_id,
              CAST(round(value * 100) AS BIGINT) AS label_cents
            FROM events WHERE event_type = 'purchase'),
          m AS (SELECT lbl.label_id, lbl.user_id, lbl.label_cents,
              f.prior_views, f.prior_spend_cents, f.last_type,
              row_number() OVER (PARTITION BY lbl.label_id
                ORDER BY f.ts DESC, f.event_id DESC) AS rn
            FROM lbl JOIN f ON lbl.user_id = f.user_id AND f.ts < lbl.ts)
          SELECT label_id, user_id, label_cents,
            CAST(coalesce(prior_views, 0) AS BIGINT) AS prior_views,
            CAST(coalesce(prior_spend_cents, 0) AS BIGINT) AS prior_spend_cents,
            last_type
          FROM lbl LEFT JOIN (SELECT * FROM m WHERE rn = 1) USING (label_id, user_id, label_cents)
          ORDER BY label_id""",

    // layout is engine state: the oracle grades CONTENT preservation
    // (upsert-merged rows == the source slice union) and the contract
    // flags must come back 1
    "q201_compact_vacuum" ->
      s"""SELECT lang, CAST(count(*) AS INT) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            1 AS compacted_ok, 1 AS retained_ok
          FROM $DocsPq GROUP BY 1 ORDER BY 1""",

    "q202_mrr_eval" ->
      s"""WITH pw AS (SELECT p, d,
            (((('0x' || substr(md5('plane_' || p || '_' || d), 1, 8))::BIGINT) % 2001 - 1000))::DOUBLE / 1000.0 AS w
            FROM unnest(generate_series(0, 7)) AS tp(p), unnest(generate_series(0, 63)) AS td(d)),
          e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
          proj AS (SELECT vec_id, p, sum(e.e[d + 1] * pw.w) AS proj
            FROM e CROSS JOIN pw GROUP BY 1, 2),
          bk AS (SELECT vec_id,
              CAST(sum(CASE WHEN round(proj, 9) > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id),
          be AS (SELECT bk.vec_id, bucket, e FROM bk JOIN e USING (vec_id)),
          qb AS (SELECT vec_id AS query_id, bucket, e AS qe FROM be WHERE vec_id < 20),
          cand AS (SELECT query_id, be.vec_id,
              round(list_cosine_similarity(be.e, qe), 6) AS cos_sim
            FROM be JOIN qb USING (bucket) WHERE be.vec_id <> query_id),
          r10 AS (SELECT query_id, vec_id, rn FROM (
              SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, vec_id) AS rn FROM cand) WHERE rn <= 10),
          qt AS (SELECT vec_id AS query_id, e AS qe FROM e WHERE vec_id < 20),
          ts AS (SELECT query_id, e.vec_id,
              round(list_cosine_similarity(e.e, qe), 6) AS cs
            FROM e CROSS JOIN qt WHERE e.vec_id <> query_id),
          t1 AS (SELECT query_id, vec_id AS t_id FROM (
              SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
                ORDER BY cs DESC, vec_id) AS rn FROM ts) WHERE rn = 1),
          rr AS (SELECT t1.query_id, r10.rn FROM t1
            LEFT JOIN r10 ON t1.query_id = r10.query_id AND t1.t_id = r10.vec_id)
          SELECT CAST(count(*) AS BIGINT) AS n_queries,
            CAST(sum(CASE WHEN rn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
            CAST(sum(coalesce(1000000 // rn, 0)) // count(*) AS BIGINT) AS mrr_micro
          FROM rr""",

    "q203_weighted_median" ->
      s"""WITH li AS (SELECT l_returnflag AS flag,
              CAST(round(l_extendedprice * 1000000) AS BIGINT) AS pm,
              CAST(l_quantity AS BIGINT) AS w
            FROM lineitem),
          g AS (SELECT flag, pm, sum(w) AS wsum FROM li GROUP BY 1, 2),
          c AS (SELECT flag, pm,
              sum(wsum) OVER (PARTITION BY flag ORDER BY pm
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
            FROM g),
          tot AS (SELECT flag, sum(w) AS totw, count(*) AS n_rows
            FROM li GROUP BY 1)
          SELECT c.flag, CAST(max(n_rows) AS BIGINT) AS n_rows,
            CAST(max(totw) AS BIGINT) AS tot_w,
            min(pm) AS wmedian_micro
          FROM c JOIN tot ON c.flag = tot.flag
          WHERE cumw * 2 >= totw GROUP BY 1 ORDER BY 1""",

    "q204_cusum" ->
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
              CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
          mu AS (SELECT event_type,
              (sum(x) * 1000000) // count(*) AS mu_micro FROM daily GROUP BY 1),
          p AS (SELECT daily.event_type, day, mu_micro,
              sum(x * 1000000 - mu_micro - mu_micro // 20)
                OVER (PARTITION BY daily.event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
            FROM daily JOIN mu ON daily.event_type = mu.event_type),
          s AS (SELECT event_type, mu_micro,
              p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
            FROM p)
          SELECT event_type, CAST(count(*) AS INT) AS n_days,
            CAST(max(s) AS BIGINT) AS max_cusum_micro,
            CAST(sum(CASE WHEN s * 2 > mu_micro THEN 1 ELSE 0 END) AS INT)
              AS n_alarm_days
          FROM s GROUP BY 1 ORDER BY 1""",

    "q205_assortativity" ->
      s"""WITH pr AS (SELECT DISTINCT o_custkey AS src,
              -(l_suppkey + 1) AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          e AS (SELECT src, dst FROM pr
            UNION ALL SELECT dst, src FROM pr),
          deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
          xy AS (SELECT dx.deg AS dx, dy.deg AS dy
            FROM e JOIN deg dx ON e.src = dx.src
              JOIN deg dy ON e.dst = dy.src),
          a AS (SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
              sum(dx * dy) AS sxy, sum(dx * dx) AS sxx, sum(dy * dy) AS syy
            FROM xy)
          SELECT CAST(n AS BIGINT) AS n,
            round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
              sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
                (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
              AS r_r6
          FROM a""",

    "q206_langid_eval" ->
      s"""WITH pred AS (${TextQueries.oracleSql("q61_lang_id")})
          SELECT d.lang AS true_lang, p.lang_pred, CAST(count(*) AS INT) AS n
          FROM $DocsPq d JOIN pred p ON d.doc_id = p.doc_id
          GROUP BY 1, 2 ORDER BY 1, 2""",

    // the incrementally-maintained MV must equal the direct aggregate
    // of the final state — same merged shape as q177's oracle
    "q207_incr_view" ->
      s"""WITH merged AS (
            SELECT doc_id, lang, n_chars FROM $DocsPq
              WHERE doc_id >= 50 AND doc_id < 300
            UNION ALL
            SELECT doc_id, lang, n_chars + 1000000 FROM $DocsPq
              WHERE doc_id >= 300 AND doc_id < 350
            UNION ALL
            SELECT doc_id, lang, n_chars FROM $DocsPq
              WHERE doc_id >= 350 AND doc_id < 450)
          SELECT lang, CAST(count(*) AS INT) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM merged GROUP BY 1 ORDER BY 1""",

    "q208_dedup_eval" -> {
      val sampleSrc = s"SELECT doc_id, text FROM $DocsPq WHERE doc_id < 300"
      s"""WITH ${DedupQueries.sqlPairsCtesFor(sampleSrc, 0.6)},
          truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sets a JOIN sets b ON a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.hs, b.hs))::DOUBLE /
              (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::DOUBLE,
              6) >= 0.6),
          hit AS (SELECT pairs.doc_a FROM pairs
            JOIN truth ON pairs.doc_a = truth.doc_a AND pairs.doc_b = truth.doc_b),
          c AS (SELECT (SELECT count(*) FROM truth) AS n_truth,
            (SELECT count(*) FROM pairs) AS n_cand,
            (SELECT count(*) FROM hit) AS n_hit)
          SELECT CAST(n_truth AS BIGINT) AS n_truth,
            CAST(n_cand AS BIGINT) AS n_cand, CAST(n_hit AS BIGINT) AS n_hit,
            CAST((n_hit * 1000000) // greatest(1, n_cand) AS BIGINT)
              AS precision_micro,
            CAST((n_hit * 1000000) // greatest(1, n_truth) AS BIGINT)
              AS recall_micro
          FROM c"""
    },

    "q209_ndcg" ->
      s"""WITH pw AS (SELECT p, d,
            (((('0x' || substr(md5('plane_' || p || '_' || d), 1, 8))::BIGINT) % 2001 - 1000))::DOUBLE / 1000.0 AS w
            FROM unnest(generate_series(0, 7)) AS tp(p), unnest(generate_series(0, 63)) AS td(d)),
          e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
          proj AS (SELECT vec_id, p, sum(e.e[d + 1] * pw.w) AS proj
            FROM e CROSS JOIN pw GROUP BY 1, 2),
          bk AS (SELECT vec_id,
              CAST(sum(CASE WHEN round(proj, 9) > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id),
          be AS (SELECT bk.vec_id, bucket, e FROM bk JOIN e USING (vec_id)),
          qb AS (SELECT vec_id AS query_id, bucket, e AS qe FROM be WHERE vec_id < 20),
          r10 AS (SELECT query_id, cos_sim, rn FROM (
              SELECT query_id, round(list_cosine_similarity(be.e, qe), 6) AS cos_sim,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY round(list_cosine_similarity(be.e, qe), 6) DESC, be.vec_id) AS rn
              FROM be JOIN qb USING (bucket) WHERE be.vec_id <> query_id)
            WHERE rn <= 10),
          qt AS (SELECT vec_id AS query_id, e AS qe FROM e WHERE vec_id < 20),
          it AS (SELECT query_id, cs AS cos_sim, rn FROM (
              SELECT query_id, round(list_cosine_similarity(e.e, qe), 6) AS cs,
                row_number() OVER (PARTITION BY query_id ORDER BY
                  round(list_cosine_similarity(e.e, qe), 6) DESC, e.vec_id) AS rn
              FROM e CROSS JOIN qt WHERE e.vec_id <> query_id)
            WHERE rn <= 10),
          dg AS (SELECT query_id, sum(
              (greatest(0, CAST(round(cos_sim * 1000000) AS BIGINT)) * 1000000)
                // CAST(round(log2(rn + 1) * 1000000) AS BIGINT)) AS dcg
            FROM r10 GROUP BY 1),
          ig AS (SELECT query_id, sum(
              (greatest(0, CAST(round(cos_sim * 1000000) AS BIGINT)) * 1000000)
                // CAST(round(log2(rn + 1) * 1000000) AS BIGINT)) AS idcg
            FROM it GROUP BY 1)
          SELECT ig.query_id, CAST(coalesce(dcg, 0) AS BIGINT) AS dcg,
            CAST(idcg AS BIGINT) AS idcg,
            CAST((coalesce(dcg, 0) * 1000000) // greatest(1, idcg) AS BIGINT)
              AS ndcg_micro
          FROM ig LEFT JOIN dg ON ig.query_id = dg.query_id
          ORDER BY ig.query_id""",

    "q213_embedding_audit" ->
      s"""WITH e AS (SELECT vec_id, len(embedding) AS dim,
            list_sum(list_transform(embedding,
              x -> CAST(round(x::DOUBLE * 1000) AS BIGINT) *
                   CAST(round(x::DOUBLE * 1000) AS BIGINT))) AS q
          FROM $EmbPq)
          SELECT CAST(count(*) AS BIGINT) AS n_vecs,
            CAST(min(dim) AS INT) AS dim_min, CAST(max(dim) AS INT) AS dim_max,
            CAST(sum(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
            CAST(min(q) AS BIGINT) AS min_q2, CAST(max(q) AS BIGINT) AS max_q2,
            CAST(sum(q) // count(*) AS BIGINT) AS avg_q2
          FROM e""",

    "q214_session_stats" ->
      s"""WITH f AS (SELECT user_id, ts, event_id,
            CASE WHEN datediff('microseconds',
                coalesce(lag(ts) OVER w, ts), ts) > 1800000000
              THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          g AS (SELECT user_id, ts,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM f),
          sess AS (SELECT user_id, sid, count(*) AS n_ev,
            datediff('microseconds', min(ts), max(ts)) AS dur
          FROM g GROUP BY 1, 2)
          SELECT CAST(count(*) AS BIGINT) AS n_sessions,
            CAST(sum(n_ev) AS BIGINT) AS n_events,
            CAST(round(quantile_cont(n_ev, 0.5) * 100) AS BIGINT) AS p50_events_100,
            CAST(round(quantile_cont(dur, 0.5) * 100) AS BIGINT) AS p50_dur_100,
            CAST(round(quantile_cont(dur, 0.95) * 100) AS BIGINT) AS p95_dur_100
          FROM sess""",

    "q215_hour_heatmap" ->
      s"""WITH e AS (SELECT
            CAST(datediff('day', DATE '2023-12-31', CAST(ts AS DATE)) % 7 AS INT) AS dow,
            CAST(hour(ts) AS INT) AS hr
          FROM events),
          per AS (SELECT dow, hr, count(*) AS n FROM e GROUP BY 1, 2),
          t AS (SELECT sum(n) AS nt FROM per)
          SELECT dow, hr, CAST(n AS BIGINT) AS n,
            CAST((n * 1000000) // nt AS BIGINT) AS share_micro
          FROM per CROSS JOIN t ORDER BY dow, hr""",

    "q211_benford" ->
      s"""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
            FROM orders WHERE round(o_totalprice * 100) > 0),
          d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
            FROM c),
          per AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
          t AS (SELECT sum(n) AS nt FROM per)
          SELECT digit, CAST(n AS BIGINT) AS n,
            CAST((n * 1000000) // nt AS BIGINT) AS obs_micro,
            CAST(round(log10(1.0 + 1.0 / digit) * 1000000) AS BIGINT)
              AS exp_micro,
            CAST((n * 1000000) // nt -
              CAST(round(log10(1.0 + 1.0 / digit) * 1000000) AS BIGINT)
              AS BIGINT) AS dev_micro
          FROM per CROSS JOIN t ORDER BY digit""",

    "q212_pareto" ->
      s"""WITH per AS (SELECT user_id,
              sum(CAST(round(value * 100) AS BIGINT)) AS x
            FROM events WHERE event_type = 'purchase' GROUP BY 1),
          ranked AS (SELECT x,
              row_number() OVER (ORDER BY x DESC, user_id) AS rk FROM per),
          cumr AS (SELECT rk, sum(x) OVER (ORDER BY rk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM ranked),
          t AS (SELECT count(*) AS nu, sum(x) AS tx FROM per),
          spine AS (SELECT unnest([10, 20, 50]) AS pct)
          SELECT CAST(pct AS INT) AS pct,
            CAST(greatest(1, (nu * pct) // 100) AS BIGINT) AS k_users,
            CAST(cum AS BIGINT) AS cum_cents,
            CAST((cum * 1000000) // tx AS BIGINT) AS share_micro
          FROM spine CROSS JOIN t
            JOIN cumr ON cumr.rk = greatest(1, (nu * pct) // 100)
          ORDER BY pct""",

    "q210_windowed_funnel" ->
      s"""WITH v AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1),
          c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
            JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t
              AND e.ts <= v.t + INTERVAL 3600 SECONDS GROUP BY 1),
          p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
            JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t
              AND e.ts <= c.t + INTERVAL 3600 SECONDS GROUP BY 1)
          SELECT 0 AS stage_idx, 'view' AS stage,
            CAST((SELECT count(*) FROM v) AS INT) AS n_users
          UNION ALL SELECT 1, 'click', CAST((SELECT count(*) FROM c) AS INT)
          UNION ALL SELECT 2, 'purchase', CAST((SELECT count(*) FROM p) AS INT)
          ORDER BY stage_idx"""
  )
}
