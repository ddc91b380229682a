package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Graph, Layout, Relational, Sequence, Similarity, Sketch}
import graft.functions.TextFunctions
import Q._

/** Scale-pipeline pack (q135-q141): graph analytics over derived edge
  * lists (integer PageRank), co-occurrence mining (integer PMI lift),
  * deterministic weighted sampling and shard assignment, Gopher
  * n-gram repetition rules, CCNet perplexity bucketing, and the
  * oracle-exact iterative Lloyd k-means — the remaining stages of a
  * production corpus pipeline that had operators but no end-to-end
  * graded query, plus the two (graphs, iterative clustering) the
  * inventory lacked entirely.
  *
  * Everything here follows the micro-unit discipline: iterative and
  * ratio arithmetic is INTEGER (exact in any summation order), so
  * multi-step replays hash-match DuckDB bit-for-bit.
  */
object ScaleQueries {

  val queries: Map[String, QFn] = Map(
    // Integer PageRank over the customer-supplier trade graph
    // (customers = positive node ids, suppliers = -(suppkey+1)),
    // symmetrized, 3 supersteps, top-20 by mass. Each superstep is
    // one keyed join + one map-side-combined aggregation — the
    // Pregel shape — with all mass arithmetic in exact micro-units.
    "q135_pagerank" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      Graph.pageRankInt(Graph.symmetrize(pairs), iters = 3)
        .select(col("node"), col("rank").as("mass"))
        .orderBy(col("mass").desc, col("node")).limit(20)
    }),

    // PMI collocations: top-50 token pairs by integer micro-lift
    // (df >= 5, pair count >= 3, per-doc distinct-token cap 64).
    "q136_pmi_pairs" -> ((s, dir) =>
      Curation.pmiPairs(t(s, dir, "documents"), "doc_id", "text")),

    // Deterministic weighted priority sample: 50 docs, weight =
    // n_chars; priority = 60-bit md5 of the id div weight, bottom-k.
    "q137_weighted_sample" -> ((s, dir) =>
      Curation.weightedPrioritySample(t(s, dir, "documents"), "doc_id",
          col("n_chars"), 50)
        .select(col("doc_id"), col("w"), col("priority"))),

    // Deterministic 8-way shard assignment, graded via per-shard
    // aggregates (count / char mass / id range) — proves every engine
    // routes every doc to the same shard.
    "q138_train_shards" -> ((s, dir) =>
      Curation.shardAssign(t(s, dir, "documents"), "doc_id", 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("shard"))),

    // Gopher n-gram repetition rules: top-2-gram and dup-3-gram
    // micro-fractions + the paper's flag thresholds.
    "q139_gopher_rep" -> ((s, dir) =>
      Curation.gopherRepetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // CCNet perplexity tertiles over the interpolated bigram LM:
    // head / middle / tail bucket aggregates.
    "q140_ccnet_buckets" -> ((s, dir) =>
      Curation.ccnetBuckets(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("bucket"))),

    // Iterative Lloyd k-means (k=4, 2 update rounds) in exact integer
    // arithmetic: per-cell population + centroid checksum after the
    // final update. The first oracle-replayable iters > 0 clustering.
    "q141_kmeans" -> ((s, dir) =>
      Similarity.kmeansInt(t(s, dir, "embeddings"), k = 4, iters = 2)),

    // Triangle counts over the simhash near-dup pair graph (q100's
    // candidates): local clustering density of the duplicate graph —
    // high-triangle nodes sit in verbatim-boilerplate families, not
    // chance collisions. Top-20 nodes by triangle participation.
    "q142_triangles" -> ((s, dir) =>
      Graph.triangleCounts(
          Dedup.simhashPairsAuto(t(s, dir, "documents"), "doc_id", "text")
            .select(col("doc_a").as("u"), col("doc_b").as("v")))
        .orderBy(col("n_tri").desc, col("node")).limit(20)),

    // Personalized PageRank (random walk with restart) from customers
    // 0-9 over the trade graph: the "suppliers related to these
    // customers" recommendation primitive, same integer mass
    // machinery as q135 with teleport pinned to the seed set.
    "q143_ppr" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      val seeds = s.range(10).select(col("id").as("node"))
      Graph.personalizedPageRankInt(Graph.symmetrize(pairs), seeds, iters = 3)
        .select(col("node"), col("rank").as("mass"))
        .orderBy(col("mass").desc, col("node")).limit(20)
    }),

    // HLL sketch overlap matrix over per-source 3-shingle sets: the
    // one-scan, kilobytes-per-source approximation of q95's exact
    // cross-source dup matrix, graded on its inclusion-exclusion
    // contract (estimate within 2% of the exact union + 5).
    "q144_hll_overlap" -> ((s, dir) => {
      // feeds the sketch build + both exact-join legs + per-source
      // totals — persist once
      val sh = graft.GraftCache.registered(
        t(s, dir, "documents")
          .select(col("source"),
            explode(TextFunctions.shingles(
              TextFunctions.tokenize(col("text")), 3)).as("shingle"))
          .distinct())
      val per = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val exact = sh.as("a")
        .join(sh.as("b"), col("a.shingle") === col("b.shingle") &&
          col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("tag_a"), col("b.source").as("tag_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      Sketch.hllOverlapMatrix(sh, "source", "shingle", lgK = 16)
        .join(exact, Seq("tag_a", "tag_b"), "left_outer")
        .na.fill(0L, Seq("exact_overlap"))
        .join(per.select(col("source").as("tag_a"), col("n").as("na_ex")), "tag_a")
        .join(per.select(col("source").as("tag_b"), col("n").as("nb_ex")), "tag_b")
        .select(col("tag_a"), col("tag_b"),
          col("exact_overlap").cast("long").as("exact_overlap"),
          (abs(col("est_overlap") - col("exact_overlap")) <=
            lit(0.02) * (col("na_ex") + col("nb_ex") - col("exact_overlap")) + lit(5))
            .cast("int").as("within_tol"))
        .orderBy(col("tag_a"), col("tag_b"))
    }),

    // Containment near-dup pairs (quote/excerpt detection): the
    // asymmetric case Jaccard under-weights, candidates via
    // entity-resolution rare-shingle blocking, exact integer
    // micro-containment verify.
    "q145_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))),

    // Strict sequential funnel over the event stream: users whose
    // first view precedes a later click precedes a later purchase.
    "q146_funnel" -> ((s, dir) =>
      Sequence.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy(col("stage_idx"))),

    // Weekly cohort retention matrix (anchor = corpus's earliest
    // event date — data-derived, replayable).
    "q147_cohorts" -> ((s, dir) =>
      Sequence.cohortRetention(t(s, dir, "events"), "user_id", "ts")
        .orderBy(col("cohort_week"), col("week_offset"))),

    // 3 rounds of k-core peeling (k=30) on the trade graph: the
    // cascade of node/edge survival per round.
    "q148_kcore" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      Sequence.kcorePeel(Graph.symmetrize(pairs), k = 30, rounds = 3)
        .orderBy(col("round"))
    }),

    // k-core peeled to the FIXPOINT (k=48, chosen so the sf0.01 trade
    // graph cascades through multiple rounds before converging): the
    // full cascade from round 0 (input) until a round removes nothing
    // or empties the graph — no guessed round count. The oracle is a
    // genuine recursive CTE with the same count-based progress test.
    "q216_kcore_fixpoint" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      Sequence.kcoreFixpoint(Graph.symmetrize(pairs), k = 48)
        .orderBy(col("round"))
    }),

    // Weighted PageRank: edge weight = order-line multiplicity of the
    // (customer, supplier) link, so mass follows trade VOLUME, not
    // mere connectivity. Same integer-mass Pregel shape as q135; the
    // weighted degree joins in once.
    "q217_weighted_pagerank" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pw = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      val sym = pw.unionAll(
        pw.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      Graph.pageRankWeightedInt(sym, iters = 3)
        .select(col("node"), col("rank").as("mass"))
        .orderBy(col("mass").desc, col("node")).limit(20)
    }),

    // Snapshot promotion review: per-column stats drift (rows, nulls,
    // exact distinct, min/max) between a committed v0 and its
    // upserted v1 — the schema/stats check a pipeline runs BEFORE
    // promoting a new snapshot, graded at rest like q149/q201.
    "q218_stats_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
      val path = Q.tempDir("graft_sdrift") + "/table"
      graft.operators.Versioned.commit(path, docs.filter(col("doc_id") < 400))
      val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 500)
        .select(col("doc_id"), lit("xx").as("lang"),
          (col("n_chars") + 1000000L).as("n_chars"))
      graft.operators.Versioned.upsert(s, path, batch, "doc_id")
      graft.operators.Versioned.statsDiff(s, path, 0L, 1L, Seq("lang", "n_chars"))
        .orderBy(col("col_name"))
    }),

    // Common-RARE-neighbor link prediction: node pairs at distance 2
    // on the trade graph ranked by shared-partner count, where only
    // partners of degree <= 20 define similarity (rare-partner
    // blocking — the idf insight that also bounds wedge volume
    // linearly); direct links anti-joined away.
    "q219_common_neighbors" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      Graph.commonNeighbors(Graph.symmetrize(pairs), maxMidDegree = 20,
          minCommon = 2)
        .orderBy(col("n_common").desc, col("a"), col("b")).limit(50)
    }),

    // Local clustering coefficient on the simhash near-dup graph
    // (q142's triangle input): per-node neighborhood density in exact
    // micro-units — spam-farm clusters score near 1e6, chance
    // co-occurrences near 0. Degree-1 nodes (undefined cc) excluded.
    "q220_clustering_coeff" -> ((s, dir) =>
      Graph.localClustering(
          Dedup.simhashPairsAuto(t(s, dir, "documents"), "doc_id", "text")
            .select(col("doc_a").as("u"), col("doc_b").as("v")))
        .filter(col("cc_micro").isNotNull)
        .orderBy(col("cc_micro").desc, col("n_tri").desc, col("node")).limit(50)),

    // Adamic-Adar link prediction on the trade graph: q219's wedge
    // with idf-weighted partners — each shared rare partner m counts
    // 1/ln(deg(m)) in exact micro terms. Same maxMidDegree=20 linear
    // wedge bound.
    "q221_adamic_adar" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      Graph.adamicAdar(Graph.symmetrize(pairs), maxMidDegree = 20, minCommon = 2)
        .orderBy(col("aa_micro").desc, col("a"), col("b")).limit(50)
    }),

    // Weighted single-source shortest paths from customers 0-4 over
    // the trade graph where well-traded links (2+ order lines) cost 1
    // and thin links cost 3 — "prefer strong trade routes". Exact
    // integer distances; result = reachability histogram by distance.
    "q222_weighted_sssp" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pw = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(when(count(lit(1)) >= 2, 1L).otherwise(3L).as("w"))
      val sym = pw.unionAll(
        pw.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val seeds = s.range(0, 5).toDF("node")
      Graph.ssspWeighted(sym, seeds)
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
          max(col("node")).as("max_node"))
        .orderBy(col("dist"))
    }),

    // Deterministic uniform random walks over the symmetrized trade
    // graph: DeepWalk's training-data generator with the RNG replaced
    // by the engine-shared md5 hash — 2 walks of length 3 from each
    // of 50 customer seeds, reproducible bit-identically by the
    // oracle. The walk corpus an embedding trainer would consume.
    "q234_random_walks" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      val seeds = t(s, dir, "orders")
        .filter(col("o_custkey") < 50)
        .select(col("o_custkey").cast("long").as("node"))
      Graph.hashWalks(Graph.symmetrize(pairs), seeds,
          walkLen = 3, walksPerNode = 2)
        .orderBy(col("start"), col("w"))
    }),

    // Skip-gram (center, context) pairs within window 2 over the q234
    // walk corpus — the training pairs a node-embedding trainer
    // consumes, counted exactly and reproducibly.
    "q235_skipgram_pairs" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      val seeds = t(s, dir, "orders")
        .filter(col("o_custkey") < 50)
        .select(col("o_custkey").cast("long").as("node"))
      val walks = Graph.hashWalks(Graph.symmetrize(pairs), seeds,
        walkLen = 3, walksPerNode = 2)
      Sequence.skipgramPairs(walks, struct(col("start"), col("w")),
          split(col("path"), ">"), window = 2)
        .select(col("center").cast("long").as("center"),
          col("context").cast("long").as("context"), col("n"))
        .orderBy(col("n").desc, col("center"), col("context")).limit(50)
    }),

    // The composed embedding-training-data release pipeline — ONE call
    // chaining the stages a node-embedding trainer's data job runs:
    // deterministic walks (q234's corpus) → skip-gram pairs (q235's
    // generator) → co-occurrence lift, vocabulary census, and
    // deterministic shard assignment — unified into a (facet, item,
    // value) long report, the q249 composed-gate pattern applied to
    // training-data generation. The per-stage queries grade the parts;
    // this grades the composition (walks/tokens cached ONCE and shared
    // by every facet — the multi-output single-pass ethos).
    "q250_embedding_release" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      val seeds = t(s, dir, "orders")
        .filter(col("o_custkey") < 50)
        .select(col("o_custkey").cast("long").as("node"))
      val walks = graft.GraftCache.registered(
        Graph.hashWalks(Graph.symmetrize(pairs), seeds,
          walkLen = 3, walksPerNode = 2))
      val toks = graft.GraftCache.registered(walks.select(
        concat(col("start"), lit("_"), col("w")).as("wid"),
        posexplode(split(col("path"), ">")).as(Seq("pos", "tok"))))
      val corpus = toks.agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("wid")).as("n_walks"),
          countDistinct(col("tok")).as("n_vocab"))
        .selectExpr("stack(3, 'corpus', 'n_tokens', n_tokens, " +
          "'corpus', 'n_walks', n_walks, 'corpus', 'n_vocab', n_vocab) " +
          "AS (facet, item, value)")
      val sg = graft.GraftCache.registered(
        Sequence.skipgramPairs(walks, struct(col("start"), col("w")),
          split(col("path"), ">"), window = 2))
      val pairFacet = sg.agg(sum(col("n")).as("total"),
          count(lit(1)).as("n_distinct"))
        .selectExpr("stack(2, 'pairs', 'total', total, " +
          "'pairs', 'distinct', n_distinct) AS (facet, item, value)")
      val pmi = Curation.liftPairs(toks.select(col("wid"), col("tok")),
          col("wid"), col("tok"), walks.select(
            concat(col("start"), lit("_"), col("w")).as("wid")),
          minSupport = 2, minPair = 2, maxPerBasket = 64, k = 3)
        .select(lit("pmi").as("facet"),
          concat(col("item_a"), lit(">"), col("item_b")).as("item"),
          col("lift_micro").as("value"))
      val shards = Curation.shardAssign(
          sg.select(concat(col("center"), lit(">"), col("context"))
            .as("pair_id")), "pair_id", nShards = 4, salt = "emb")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("value"))
        .select(lit("shard").as("facet"), col("shard").cast("string").as("item"),
          col("value"))
      corpus.unionAll(pairFacet).unionAll(pmi).unionAll(shards)
        .select(col("facet"), col("item"), col("value").cast("long").as("value"))
        .orderBy(col("facet"), col("item"))
    }),

    // Skip-gram pairs over DOCUMENT token sequences (window 3): the
    // word2vec training-pair generator on real text, where sequences
    // are hundreds of tokens — the input class whose length made the
    // old sid-keyed self-join O(L²); the offset-explode equi-join
    // keeps it at 2w·Σlen. Top-50 pairs by count.
    "q251_text_skipgrams" -> ((s, dir) =>
      Sequence.skipgramPairs(t(s, dir, "documents"),
          col("doc_id"), split(lower(col("text")), " "), window = 3)
        .orderBy(col("n").desc, col("center"), col("context")).limit(50)),

    // Position-based (U-shaped) multi-touch attribution: every click
    // in the hour before a purchase is credited 40/20/40 by position
    // in integer micro — the multi-touch generalization of q151's
    // last-touch pick.
    "q236_position_attribution" -> ((s, dir) =>
      Sequence.positionAttribution(t(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id", convType = "purchase",
          touchType = "click", windowSec = 3600)
        .orderBy(col("conv_id"), col("pos"))),

    // Change-data feed between two versioned snapshots: commit v0,
    // upsert a batch (100 modified + 100 new keys), read the diff —
    // the incremental-consumer contract graded at rest.
    "q149_version_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = Q.tempDir("graft_vdiff") + "/table"
      graft.operators.Versioned.commit(path, docs.filter(col("doc_id") < 400))
      val updates = docs.filter(col("doc_id") >= 300)
        .withColumn("n_chars", col("n_chars") + 1000000L)
      graft.operators.Versioned.upsert(s, path, updates, "doc_id")
      graft.operators.Versioned.diff(s, path, 0L, 1L, "doc_id")
        .orderBy(col("op"), col("doc_id"))
    }),

    // First-order event-type transition matrix per user journey
    // (deterministic same-ts tie-break on event_id).
    "q150_transitions" -> ((s, dir) =>
      Sequence.transitionMatrix(t(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id")
        .orderBy(col("prev"), col("cur"))),

    // Last-touch attribution: latest click within the hour before
    // each purchase, deterministic tie-break, exact micro gaps.
    "q151_attribution" -> ((s, dir) =>
      Sequence.lastTouchAttribution(t(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id", convType = "purchase",
          touchType = "click", windowSec = 3600)
        .orderBy(col("conv_id"))),

    // BFS hop levels from customers 0-9 over the trade graph: how
    // many counterparties sit at each shortest-path distance.
    "q152_bfs" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      Graph.bfsLevels(Graph.symmetrize(pairs),
          s.range(10).select(col("id").as("node")), maxHops = 3)
        .groupBy(col("dist")).agg(count(lit(1)).cast("long").as("n_nodes"))
        .orderBy(col("dist"))
    }),

    // SCD2-style effective-dated join: purchases joined to the
    // signup-version in effect at purchase time, intervals derived
    // from the event log itself.
    "q154_scd_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val changes = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("dim_id"),
          col("value"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      Sequence.effectiveDatedJoin(changes, facts, "user_id", "ts", "p_ts", "dim_id")
        .select(col("p_id"), col("dim_id"), round(col("value"), 6).as("dim_value"))
        .orderBy(col("p_id"))
    }),

    // Entity resolution composed end-to-end over supplier names:
    // FastSS fuzzy pairs (q98's candidates) -> exact connected
    // components -> per-entity size + strongest member. The
    // record-linkage pipeline beside q121's corpus-cleaning twin.
    "q155_entity_resolution" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      // structured-attribute blocking: only same-nation name matches
      // merge (sequential TPC-H names are TRANSITIVELY within edit
      // distance 1, so the unblocked closure degenerates to one
      // entity — blocking is what real record linkage does here)
      val nat = sup.select(col("s_suppkey"), col("s_nationkey"))
      val pairs = Dedup.editDistancePairsDeletion(sup, "s_suppkey", "s_name")
        .join(nat.select(col("s_suppkey").as("id_a"), col("s_nationkey").as("na")), "id_a")
        .join(nat.select(col("s_suppkey").as("id_b"), col("s_nationkey").as("nb")), "id_b")
        .filter(col("na") === col("nb"))
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val labels = Dedup.connectedComponents(pairs)
      sup.join(labels, sup("s_suppkey") === labels("doc"), "left_outer")
        .select(col("s_suppkey"),
          coalesce(col("label"), col("s_suppkey")).as("entity"),
          Q.cents(col("s_acctbal")).as("bal_cents"))
        .groupBy(col("entity"))
        .agg(count(lit(1)).cast("int").as("n_members"),
          max(col("bal_cents")).as("max_bal_cents"))
        .orderBy(col("entity"))
    }),

    // Robust outlier counts per event type: exact integer MAD gate
    // (medians in half-micro units so interpolation stays integral).
    "q156_mad_outliers" -> ((s, dir) =>
      Sequence.madOutliers(t(s, dir, "events"), "event_type", "value", k = 5)
        .orderBy(col("event_type"))),

    // Manifest-based file skipping at rest: z-order the docs snapshot,
    // write a per-file min/max stats manifest, then answer a range
    // query through the manifest-pruned scan — equality with the plain
    // filter proves pruning loses nothing (LayoutSpec pins that it
    // actually skips most files).
    "q157_stats_pruned_read" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = Q.tempDir("graft_skip") + "/zdocs"
      Layout.zorderWrite(docs, path, least(col("n_chars"), lit(1023)),
        pmod(col("doc_id"), lit(1024)), bits = 10, partitions = 8)
      Layout.writeManifest(s, path, Seq("n_chars"))
      Layout.prunedRead(s, path, "n_chars", 150L, 300L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // Bloom-pruned fact-dim join: high-balance customers' orders by
    // nation. The bloom prefilter drops non-matching orders before the
    // shuffle; the exact join removes false positives, so the result
    // is the plain join's (OperatorsSpec pins both claims).
    "q158_bloom_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      Relational.bloomPrunedJoin(orders, cust, "o_custkey", "c_custkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast("int").as("n_orders"),
          sum(Q.cents(col("o_totalprice"))).as("rev_cents"))
        .orderBy(col("c_nationkey"))
    }),

    // Sparse TF-IDF cosine pairs over 3-shingle terms via the inverted
    // index (all-pairs similarity search) — the text-side sibling of
    // the dense ANN family, integer milli-unit weights for exactness.
    "q159_tfidf_pairs" -> ((s, dir) =>
      Similarity.tfidfCosinePairs(t(s, dir, "documents"), "doc_id", "text",
          gram = 3, maxDf = 100, minCosine = 0.25)
        .orderBy(col("doc_a"), col("doc_b"))),

    // One-pass numeric column profile of lineitem: per column non-null
    // count, exact distinct count, min/max/sum in exact micro-units.
    "q160_profile" -> ((s, dir) =>
      Relational.numericProfile(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("col_name"))),

    // Approximate-percentile contract: per event type, exact p95 (in
    // 1/100 micro-units — interpolation of integers at hundredth ranks
    // stays integral) plus a bit asserting approx_percentile(…, 1000)
    // landed within the exact p93..p97 band (10x looser than its 1/1000
    // rank guarantee). The production swap-in for q156/q161-style exact
    // percentiles at corpus scale, graded on its accuracy contract.
    "q161_p95_contract" -> ((s, dir) => {
      val vm = t(s, dir, "events").select(col("event_type"),
        round(col("value") * 1e6).cast("long").as("vm"))
      vm.groupBy(col("event_type")).agg(
          count(lit(1)).cast("long").as("n"),
          round(expr("percentile(vm, 0.95D)") * 100).cast("long").as("p95_100"),
          round(expr("percentile(vm, 0.93D)") * 100).cast("long").as("p93_100"),
          round(expr("percentile(vm, 0.97D)") * 100).cast("long").as("p97_100"),
          expr("approx_percentile(vm, 0.95D, 1000)").as("approx"))
        .select(col("event_type"), col("n"), col("p95_100"),
          (col("approx") * 100 >= col("p93_100") &&
            col("approx") * 100 <= col("p97_100")).cast("int").as("within_tol"))
        .orderBy(col("event_type"))
    }),

    // TPC-H Q5-shaped star join (6 tables, extra c_nationkey =
    // s_nationkey condition): declared flat and left entirely to
    // Catalyst — filters push into every scan, the four dimension
    // sides broadcast, and the single shuffle is the orders-lineitem
    // fact join (PlanSpec pins that shape). Revenue in exact 1e-4
    // units: cents(price) * (100 - cents(discount)).
    "q162_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(Q.cents(col("l_extendedprice")) *
            (lit(100L) - Q.cents(col("l_discount")))).as("revenue_e4"),
          count(lit(1)).cast("int").as("n_lineitems"))
        .orderBy(col("revenue_e4").desc, col("n_name"))
    }),

    // The table-format composition: versioned commits carry their own
    // per-file stats manifest (written BEFORE the pointer swap, so a
    // committed snapshot always has it), and the range read of the
    // merged latest goes through manifest file-skipping.
    "q163_versioned_skipping" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = Q.tempDir("graft_vskip") + "/table"
      graft.operators.Versioned.commit(path,
        docs.filter(col("doc_id") < 400), Seq("n_chars"))
      val updates = docs.filter(col("doc_id") >= 300)
        .withColumn("n_chars", col("n_chars") + 1000L)
      graft.operators.Versioned.upsert(s, path, updates, "doc_id", Seq("n_chars"))
      graft.operators.Versioned.prunedRead(s, path, "n_chars", 150L, 300L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // Exact phrase retrieval over positional postings: per-doc
    // occurrence counts + first match position for a 3-term phrase.
    "q164_phrase_search" -> ((s, dir) =>
      Relational.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
          Seq("slow", "hash", "batch"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),

    // Globally-sorted export + manifest: the "sorted table" layout
    // whose file ranges are pairwise disjoint (LayoutSpec pins it), so
    // the price-range read opens O(1) files. Graded on equality with
    // the plain filter.
    "q165_sorted_export" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), Q.cents(col("l_extendedprice")).as("price_cents"))
      val path = Q.tempDir("graft_sorted") + "/byprice"
      Layout.sortedWrite(li, path, "price_cents", partitions = 8)
      Layout.prunedRead(s, path, "price_cents", 100000L, 2000000L)
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("price_cents")).as("sum_cents"),
          min(col("price_cents")).as("min_cents"),
          max(col("price_cents")).as("max_cents"))
    }),

    // Join-size pre-flight: |orders ⋈ lineitem| from the two per-key
    // count frames, never materializing the join. The oracle RUNS the
    // actual join, so the gate proves the Σ na·nb identity
    // cross-engine — plus the skew headline (max single-key rows).
    "q166_join_size" -> ((s, dir) =>
      Relational.joinSize(t(s, dir, "orders"), t(s, dir, "lineitem"),
        "o_orderkey", "l_orderkey")),

    // GROUPING SETS over (day × event type): the general form of the
    // q43/q48 rollup/cube family, graded through the same Expand-based
    // single pass; aggregated-away dims render as 'ALL'.
    "q167_grouping_sets" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(to_date(col("ts")).as("day"),
        col("event_type"), round(col("value") * 1e6).cast("long").as("vm"))
      ev.groupingSets(
          Seq(Seq(col("day"), col("event_type")), Seq(col("day")),
            Seq(col("event_type")), Seq()),
          col("day"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("vm")).as("sum_micro"))
        .select(coalesce(col("day").cast("string"), lit("ALL")).as("day"),
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          col("n"), col("sum_micro"))
        .orderBy(col("day"), col("event_type"))
    }),

    // Per-group top-k via the bounded-heap typed Aggregator (k rows
    // per group cross the shuffle; no per-group sort, no Window —
    // PlanSpec pins it). Top-3 orders by price per market segment.
    "q168_group_topk" -> ((s, dir) => {
      val j = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          Q.cents(col("o_totalprice")).as("price_cents"), col("o_orderkey"))
      graft.operators.TopK.topKPerGroupAgg(j, "segment", "price_cents",
          "o_orderkey", k = 3)
        .orderBy(col("segment"), col("rank"))
    }),

    // Order-independent table checksum: the replication/migration
    // verdict both engines must agree on from any row order.
    "q169_table_checksum" -> ((s, dir) =>
      Relational.tableChecksum(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))),

    // Exponentially time-decayed event counts (half-life 7 days over
    // the 30-day event window, anchor = latest event): the trending /
    // recency primitive in exact integer micro-weights.
    "q170_decayed_counts" -> ((s, dir) =>
      Sequence.decayedCounts(t(s, dir, "events"), "event_type", "ts",
          halfLifeDays = 7)
        .orderBy(col("event_type"))),

    // Mergeable distinct-count rollup: one corpus pass builds per-DAY
    // HLL sketches, weekly rollups union the kilobyte sketches — never
    // rescanning rows. Graded on the 2%+5 contract against the exact
    // weekly distincts (anchor-derived weeks, the q147 discipline).
    "q171_distinct_rollup" -> ((s, dir) => {
      val raw = t(s, dir, "events")
      val anchor = broadcast(raw.agg(min(to_date(col("ts"))).as("t0")))
      val ev = raw.crossJoin(anchor).select(
        to_date(col("ts")).as("day"),
        expr("datediff(to_date(ts), t0) div 7").as("week"),
        col("user_id"))
      val est = Sketch.distinctRollup(ev, "user_id", col("day"), col("week"))
        .select(col("coarse").as("week"), col("est_distinct"),
          col("n_fine_buckets").as("n_days"))
      val exact = ev.groupBy(col("week"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, "week")
        .select(col("week"), col("exact_users"), col("n_days"),
          (abs(col("est_distinct") - col("exact_users")) <=
            lit(0.02) * col("exact_users") + lit(5)).cast("int").as("within_tol"))
        .orderBy(col("week"))
    }),

    // Data-quality gate: every row rule costs the same ONE scan
    // (sum-of-when columns, stack-unpivoted); the referential rule is
    // an anti-join count beside it.
    "q172_quality_rules" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val rows = Relational.qualityReport(li, Seq(
        "quantity_gt45" -> (col("l_quantity") > 45),
        "discount_gt8pct" -> (col("l_discount") > 0.08),
        "tax_out_of_range" -> (col("l_tax") < 0 || col("l_tax") > 0.08),
        "price_nonpositive" -> (col("l_extendedprice") <= 0)))
      val ref = li.join(t(s, dir, "orders").select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .crossJoin(li.agg(count(lit(1)).cast("long").as("n_rows")))
        .select(col("n_rows"), lit("orphan_lineitem").as("rule"),
          col("n_violations"))
      rows.unionByName(ref).orderBy(col("rule"))
    }),

    // Hive-partitioned versioned commit: a lang-filtered read of the
    // snapshot prunes whole partition directories at planning time
    // (PlanSpec pins PartitionFilters + en-only files opened).
    "q173_partitioned_table" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val path = Q.tempDir("graft_ptab") + "/table"
      graft.operators.Versioned.commit(path, docs, Nil, Seq("lang"))
      graft.operators.Versioned.read(s, path)
        .filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("source"))
    }),

    // Time-to-convert distribution: per-user first-view → first-later-
    // purchase gaps, p50/p95 in the exact half/hundredth-unit integer
    // percentile discipline.
    "q174_conversion_time" -> ((s, dir) =>
      Sequence.conversionGaps(t(s, dir, "events"), "user_id", "ts",
          "event_type", fromType = "view", toType = "purchase")
        .agg(count(lit(1)).cast("long").as("n_converted"),
          round(expr("percentile(gap_micros, CAST(0.5 AS DOUBLE)) * 100"))
            .cast("long").as("p50_100"),
          round(expr("percentile(gap_micros, CAST(0.95 AS DOUBLE)) * 100"))
            .cast("long").as("p95_100"))),

    // Metric-series anomaly gate: daily event volumes per type through
    // the exact integer MAD machinery (q156 applied to the aggregated
    // series — the heavy part at 100 TB is the count scan; the gate
    // math is series-sized).
    "q175_daily_anomalies" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      Sequence.madOutliers(daily, "event_type", "n_events", k = 3)
        .orderBy(col("event_type"))
    }),

    // Late-data backfill with partition-scoped recompute: daily
    // aggregates at rest are REPAIRED by recomputing only the days a
    // late batch touches (6 of 30 here) and carrying every other day's
    // at-rest row forward — the incremental-pipeline primitive. The
    // oracle is the full recompute the merge must equal.
    "q176_backfill_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("event_type"), col("event_id"))
      // deterministic split: "late" rows arrive after the base build,
      // and only within the trailing window
      val isLate = col("day") >= lit("2024-01-25").cast("date") &&
        pmod(col("event_id"), lit(3)) === 0
      val base = ev.filter(!isLate)
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val late = ev.filter(isLate)
      val dirtyDays = late.select(col("day")).distinct()
      // repair = untouched at-rest rows + full recompute of dirty days
      val kept = base.join(dirtyDays, Seq("day"), "left_anti")
      val recomputed = ev.join(dirtyDays, Seq("day"), "left_semi")
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      kept.unionByName(recomputed)
        .select(col("day").cast("string").as("day"), col("event_type"),
          col("n").cast("long").as("n"))
        .orderBy(col("day"), col("event_type"))
    }),

    // Full CDC batch against the versioned table — deletes included
    // (the mutation upsert can't express): one atomic snapshot commit.
    "q177_apply_changes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = Q.tempDir("graft_cdc") + "/table"
      graft.operators.Versioned.commit(path, docs.filter(col("doc_id") < 400))
      val changes =
        docs.filter(col("doc_id") < 50)
          .select(lit("delete").as("op"), col("doc_id"), col("lang"), col("n_chars"))
        .unionByName(docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
          .select(lit("update").as("op"), col("doc_id"), col("lang"),
            (col("n_chars") + 1000000L).as("n_chars")))
        .unionByName(docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
          .select(lit("insert").as("op"), col("doc_id"), col("lang"), col("n_chars")))
      graft.operators.Versioned.applyChanges(s, path, changes, "doc_id")
      graft.operators.Versioned.read(s, path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // Customer-value decile segmentation: per-user purchase value in
    // exact micro units -> ntile(10) with full tie-break -> per-decile
    // population/mass/bounds. The BI segmentation staple; the window
    // ranks USERS (corpus-count-of-users rows, not events).
    // Deciles via Ranking.globalNtile (broadcast order-statistic
    // boundaries, map-side assignment) — this was the SIXTH
    // corpus-sized partition-less ntile window, found by a multiline
    // sweep after the r12 verdict's five were fixed.
    "q178_ltv_deciles" -> ((s, dir) => {
      import graft.operators.Ranking
      val perUser = graft.GraftCache.registered(t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 1e6).cast("long")).as("ltv_micro")))
      Ranking.globalNtile(perUser,
          Seq(Ranking.Key(col("ltv_micro")), Ranking.Key(col("user_id"))), 10, "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).cast("int").as("n_users"),
          sum(col("ltv_micro")).as("sum_micro"),
          min(col("ltv_micro")).as("min_micro"),
          max(col("ltv_micro")).as("max_micro"))
        .orderBy(col("decile"))
    }),

    // Semi-structured extraction at event scale: get_json_object over
    // the props JSON column (codegen'd path extraction, no UDF), then
    // ordinary relational aggregates over the extracted field — the
    // "log with a JSON payload" staple.
    "q179_props_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).cast("long").as("n_with_k"),
          sum(col("k")).as("sum_k"),
          countDistinct(col("k")).cast("long").as("n_distinct_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),

    // Log2 degree histogram of the trade graph — the skew diagnostic.
    "q153_degree_hist" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (-(col("l_suppkey").cast("long") + 1)).as("dst"))
      Graph.degreeHistogram(Graph.symmetrize(pairs))
        .orderBy(col("bucket"))
    })
  )

  /** Tokens-with-empties-filtered CTE body (same as CurationQueries). */
  private def sqlToks =
    s"SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk FROM $DocsPq"

  /** Exact floor division rendered portably: subtract the
    * non-negative remainder first, then divide the exact multiple —
    * immune to the engines' `/`-vs-`//` sign conventions.
    */
  private def sqlFloorDiv(s: String, n: String) =
    s"(($s - ((($s % $n) + $n) % $n)) // $n)"

  /** One PageRank superstep CTE body over edge CTE `e`, degree CTE
    * `deg`, previous rank CTE `prev`.
    */
  private def sqlPrStep(prev: String) =
    s"""SELECT e.dst AS node,
          CAST(150000 + (85 * sum(r.mass // d.d)) // 100 AS BIGINT) AS mass
        FROM e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
        GROUP BY e.dst"""

  /** The trade-graph edge/degree CTE prefix shared by q135 and q143. */
  private val sqlTradeGraph =
    s"""p AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
            CAST(-(l_suppkey + 1) AS BIGINT) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
        deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1)"""

  /** The q234 walk corpus (trade graph, 50 seeds, 2 walks x 3 steps),
    * shared by the walk and skip-gram oracles: each step replays the
    * engine-shared md5 neighbor pick against the dst-sorted adjacency.
    */
  private val sqlWalks: String = {
    def h(i: Int) =
      s"""(('0x' || substr(md5('walk_' || CAST(start AS VARCHAR) || '_' ||
        CAST(w AS VARCHAR) || '_${i}_' || CAST(cur AS VARCHAR)), 1, 8))::BIGINT)"""
    def step(prev: String, i: Int) =
      s"""SELECT start, w, a.dst AS cur,
          path || '>' || CAST(a.dst AS VARCHAR) AS path
        FROM $prev s JOIN deg ON s.cur = deg.src
        JOIN adj a ON a.src = s.cur AND a.idx = ${h(i)} % deg.d"""
    s"""$sqlTradeGraph,
        adj AS (SELECT src, dst,
            row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
          FROM e),
        sd AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS start
          FROM orders WHERE o_custkey < 50),
        s0 AS (SELECT start, w, start AS cur, CAST(start AS VARCHAR) AS path
          FROM sd CROSS JOIN
            (SELECT CAST(unnest([0, 1]) AS BIGINT) AS w)),
        s1 AS (${step("s0", 1)}),
        s2 AS (${step("s1", 2)}),
        s3 AS (${step("s2", 3)})"""
  }

  /** One PERSONALIZED superstep: teleport mass lands only on seeds. */
  private def sqlPprStep(prev: String) =
    s"""SELECT e.dst AS node,
          CAST((85 * sum(r.mass // d.d)) // 100 +
            (CASE WHEN e.dst IN (SELECT sd.s FROM sd) THEN 150000 ELSE 0 END)
            AS BIGINT) AS mass
        FROM e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
        GROUP BY e.dst"""

  /** k-means: one assignment CTE (rows → nearest centroid in `cents`)
    * over quantized-vector CTE `e`.
    */
  private def sqlKmAssign(cents: String) =
    s"""SELECT vec_id, q, cell FROM (
          SELECT e.vec_id, e.q, c.cell,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              list_sum(list_transform(generate_series(1, 64),
                i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))), c.cell) AS rn
          FROM e CROSS JOIN $cents c) WHERE rn = 1"""

  /** k-means: centroid update CTEs (elementwise exact floor-div mean)
    * from assignment CTE `a` into `(cell, c)` named `out`.
    */
  private def sqlKmUpdate(a: String, sums: String, out: String) =
    s"""$sums AS (SELECT cell, i, CAST(sum(q[i]) AS BIGINT) AS s,
            CAST(count(*) AS BIGINT) AS n
          FROM $a CROSS JOIN unnest(generate_series(1, 64)) AS u(i)
          GROUP BY 1, 2),
        $out AS (SELECT cell, list(${sqlFloorDiv("s", "n")} ORDER BY i) AS c
          FROM $sums GROUP BY cell)"""

  val oracleSql: Map[String, String] = Map(
    "q135_pagerank" ->
      s"""WITH $sqlTradeGraph,
          r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS mass FROM deg),
          r1 AS (${sqlPrStep("r0")}),
          r2 AS (${sqlPrStep("r1")}),
          r3 AS (${sqlPrStep("r2")})
          SELECT node, mass FROM r3 ORDER BY mass DESC, node LIMIT 20""",

    "q136_pmi_pairs" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id AS id, token FROM
            (SELECT doc_id, unnest(tk) AS token FROM ($sqlToks))),
          dfreq AS (SELECT token, count(*) AS dfreq FROM tok
            GROUP BY 1 HAVING count(*) >= 5),
          kept AS (SELECT id, token FROM (
              SELECT t.id, t.token,
                row_number() OVER (PARTITION BY t.id ORDER BY t.token) AS rn
              FROM tok t JOIN dfreq USING (token)) WHERE rn <= 64),
          nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM $DocsPq),
          pairs AS (SELECT a.token AS tok_a, b.token AS tok_b,
              count(*) AS npair
            FROM kept a JOIN kept b ON a.id = b.id AND a.token < b.token
            GROUP BY 1, 2 HAVING count(*) >= 3)
          SELECT tok_a, tok_b, CAST(npair AS INT) AS npair,
            CAST(da.dfreq AS INT) AS na, CAST(db.dfreq AS INT) AS nb,
            CAST((npair * n_docs * 1000000) // (da.dfreq * db.dfreq) AS BIGINT)
              AS lift_micro
          FROM pairs JOIN dfreq da ON pairs.tok_a = da.token
            JOIN dfreq db ON pairs.tok_b = db.token CROSS JOIN nd
          ORDER BY lift_micro DESC, npair DESC, tok_a, tok_b LIMIT 50""",

    "q137_weighted_sample" ->
      s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
            (('0x' || substr(md5('wps_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
              // CAST(n_chars AS BIGINT) AS priority
          FROM $DocsPq ORDER BY priority, doc_id LIMIT 50""",

    "q138_train_shards" ->
      s"""WITH s AS (SELECT doc_id, n_chars,
            CAST(${Q.sqlTokenHash("'shard_' || CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard
          FROM $DocsPq)
          SELECT shard, CAST(count(*) AS INT) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            min(doc_id) AS min_id, max(doc_id) AS max_id
          FROM s GROUP BY 1 ORDER BY 1""",

    "q139_gopher_rep" ->
      s"""WITH tk AS ($sqlToks),
          g2 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
                 FROM tk, unnest(generate_series(1, len(tk) - 1)) AS u(i)),
          g3 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
                 FROM tk, unnest(generate_series(1, len(tk) - 2)) AS u(i)),
          c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
          c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
          s2 AS (SELECT doc_id, sum(c) AS n2, max(c) AS mx2 FROM c2 GROUP BY 1),
          s3 AS (SELECT doc_id, sum(c) AS n3,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3
                 FROM c3 GROUP BY 1)
          SELECT doc_id, CAST(n2 AS INT) AS n2, CAST(n3 AS INT) AS n3,
            CAST((mx2 * 1000000) // n2 AS BIGINT) AS top2_micro,
            CAST((dup3 * 1000000) // n3 AS BIGINT) AS dup3_micro,
            ((mx2 * 1000000) // n2 > 200000 OR (dup3 * 1000000) // n3 > 180000)
              AS flagged
          FROM s2 JOIN s3 USING (doc_id) ORDER BY doc_id""",

    "q140_ccnet_buckets" ->
      s"""WITH lp AS (SELECT * FROM
            (${CurationQueries.oracleSql("q113_bigram_logprob")})),
          b AS (SELECT *, ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id) AS t
                FROM lp)
          SELECT CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              ELSE 'tail' END AS bucket,
            CAST(count(*) AS INT) AS n_docs,
            CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
            min(avg_logprob) AS min_lp, max(avg_logprob) AS max_lp
          FROM b GROUP BY t ORDER BY bucket""",

    "q141_kmeans" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
              x -> CAST(round(x * 1000000) AS BIGINT)) AS q FROM $EmbPq),
          c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, q AS c
                 FROM (SELECT * FROM e ORDER BY vec_id LIMIT 4)),
          a1 AS (${sqlKmAssign("c0")}),
          ${sqlKmUpdate("a1", "s1", "c1")},
          a2 AS (${sqlKmAssign("c1")}),
          ${sqlKmUpdate("a2", "s2", "c2")},
          af AS (${sqlKmAssign("c2")}),
          cs AS (SELECT cell, CAST(list_sum(c) AS BIGINT) AS centroid_sum FROM c2)
          SELECT af.cell, CAST(count(*) AS INT) AS n, cs.centroid_sum
          FROM af JOIN cs ON af.cell = cs.cell
          GROUP BY af.cell, cs.centroid_sum ORDER BY af.cell""",

    "q142_triangles" ->
      s"""WITH pr AS (SELECT doc_a AS u, doc_b AS v
            FROM (${DedupQueries.sqlSimhashPairsAuto})),
          tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM pr e1 JOIN pr e2 ON e1.v = e2.u
            JOIN pr e3 ON e3.u = e1.u AND e3.v = e2.v),
          n AS (SELECT unnest([a, b, c]) AS node FROM tri)
          SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM n
          GROUP BY 1 ORDER BY n_tri DESC, node LIMIT 20""",

    "q143_ppr" ->
      s"""WITH $sqlTradeGraph,
          sd AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS s),
          r0 AS (SELECT src AS node,
              CAST(CASE WHEN src IN (SELECT sd.s FROM sd) THEN 1000000 ELSE 0 END
                AS BIGINT) AS mass FROM deg),
          r1 AS (${sqlPprStep("r0")}),
          r2 AS (${sqlPprStep("r1")}),
          r3 AS (${sqlPprStep("r2")})
          SELECT node, mass FROM r3 WHERE mass > 0
          ORDER BY mass DESC, node LIMIT 20""",

    // approx leg replayed as contract only (sketch internals are
    // library state); exact overlap + per-pair tolerance bit = 1.
    "q144_hll_overlap" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id AS source, shingle
            FROM (${DedupQueries.sqlShingles(s"SELECT source AS doc_id, text FROM $DocsPq")})),
          srcs AS (SELECT DISTINCT source FROM sh),
          allp AS (SELECT a.source AS tag_a, b.source AS tag_b
            FROM srcs a JOIN srcs b ON a.source < b.source),
          ov AS (SELECT a.source AS tag_a, b.source AS tag_b,
              count(*) AS o
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
            GROUP BY 1, 2)
          SELECT tag_a, tag_b, CAST(COALESCE(o, 0) AS BIGINT) AS exact_overlap,
            1 AS within_tol
          FROM allp LEFT JOIN ov USING (tag_a, tag_b)
          ORDER BY tag_a, tag_b""",

    "q145_containment" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, ${DedupQueries.sqlH31("shingle")} AS h
            FROM (${DedupQueries.sqlShingles(s"SELECT doc_id, text FROM $DocsPq")})),
          sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          rare AS (SELECT h FROM (SELECT h, count(*) AS df FROM sh GROUP BY 1)
            WHERE df BETWEEN 2 AND 5),
          bl AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
          cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM bl l JOIN bl r ON l.h = r.h AND l.doc_id < r.doc_id),
          inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
            FROM cand c JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
            GROUP BY 1, 2)
          SELECT doc_a, doc_b, CAST(n_inter AS INT) AS n_inter,
            CAST(sa.n AS INT) AS na, CAST(sb.n AS INT) AS nb,
            CAST((n_inter * 1000000) // least(sa.n, sb.n) AS BIGINT)
              AS containment_micro
          FROM inter JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
          WHERE (n_inter * 1000000) // least(sa.n, sb.n) >= 500000
          ORDER BY doc_a, doc_b""",

    "q146_funnel" ->
      s"""WITH v AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1),
          c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
            JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY 1),
          p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
            JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY 1)
          SELECT 0 AS stage_idx, 'view' AS stage,
            (SELECT CAST(count(*) AS INT) FROM v) AS n_users
          UNION ALL SELECT 1, 'click', (SELECT CAST(count(*) AS INT) FROM c)
          UNION ALL SELECT 2, 'purchase', (SELECT CAST(count(*) AS INT) FROM p)
          ORDER BY stage_idx""",

    "q147_cohorts" ->
      s"""WITH t0 AS (SELECT min(CAST(ts AS DATE)) AS t0 FROM events),
          w AS (SELECT user_id,
              CAST(datediff('day', t0, CAST(ts AS DATE)) AS BIGINT) // 7 AS week
            FROM events CROSS JOIN t0),
          f AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1),
          d AS (SELECT DISTINCT user_id, week FROM w)
          SELECT cohort_week, (week - cohort_week) AS week_offset,
            CAST(count(*) AS INT) AS n_users
          FROM d JOIN f USING (user_id)
          GROUP BY 1, 2 ORDER BY 1, 2""",

    "q148_kcore" -> {
      def peel(prev: String, keep: String, out: String) =
        s"""$keep AS (SELECT src AS node FROM
              (SELECT src, count(*) AS d FROM $prev GROUP BY 1) WHERE d >= 30),
            $out AS (SELECT $prev.src, $prev.dst FROM $prev
              JOIN $keep ka ON $prev.src = ka.node
              JOIN $keep kb ON $prev.dst = kb.node)"""
      s"""WITH $sqlTradeGraph,
          ${peel("e", "k1", "e1")},
          ${peel("e1", "k2", "e2")},
          ${peel("e2", "k3", "e3")}
          SELECT 1 AS round, (SELECT count(DISTINCT src) FROM e1) AS n_nodes,
            (SELECT count(*) FROM e1) AS n_edges
          UNION ALL SELECT 2, (SELECT count(DISTINCT src) FROM e2),
            (SELECT count(*) FROM e2)
          UNION ALL SELECT 3, (SELECT count(DISTINCT src) FROM e3),
            (SELECT count(*) FROM e3)
          ORDER BY round"""
    },

    // True recursive peel: the working table is the previous round's
    // edge set; survivors emit with round+1 only while the count still
    // shrinks (survivors ⊆ current, so equal counts ⇔ fixpoint), and an
    // emptied graph emits no rows — both match kcoreFixpoint's cascade.
    "q216_kcore_fixpoint" ->
      s"""WITH RECURSIVE $sqlTradeGraph,
          peel AS (
            SELECT src, dst, 0 AS round FROM e
            UNION ALL
            SELECT s.src, s.dst, s.round + 1
            FROM (
              WITH cur AS (SELECT * FROM peel),
              keep AS (SELECT src AS node FROM cur
                GROUP BY src HAVING count(*) >= 48),
              surv AS (SELECT cur.src, cur.dst, cur.round FROM cur
                JOIN keep ka ON cur.src = ka.node
                JOIN keep kb ON cur.dst = kb.node)
              SELECT src, dst, round FROM surv
              WHERE (SELECT count(*) FROM surv) < (SELECT count(*) FROM cur)
            ) s
          )
          SELECT CAST(round AS INT) AS round,
            CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
            CAST(count(*) AS BIGINT) AS n_edges
          FROM peel GROUP BY 1 ORDER BY 1""",

    "q217_weighted_pagerank" -> {
      def step(prev: String) =
        s"""SELECT e.dst AS node,
              CAST(150000 + (85 * sum((r.mass * e.w) // d.ws)) // 100 AS BIGINT)
                AS mass
            FROM e JOIN $prev r ON e.src = r.node JOIN wdeg d ON e.src = d.src
            GROUP BY e.dst"""
      s"""WITH pw AS (SELECT CAST(o_custkey AS BIGINT) AS src,
              CAST(-(l_suppkey + 1) AS BIGINT) AS dst, count(*) AS w
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
          e AS (SELECT src, dst, w FROM pw
            UNION ALL SELECT dst, src, w FROM pw),
          wdeg AS (SELECT src, sum(w) AS ws FROM e GROUP BY 1),
          r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS mass FROM wdeg),
          r1 AS (${step("r0")}),
          r2 AS (${step("r1")}),
          r3 AS (${step("r2")})
          SELECT node, mass FROM r3 ORDER BY mass DESC, node LIMIT 20"""
    },

    // replay: v0 = docs<400; v1 = v0 upserted with keys [300,500)
    // (lang forced to 'xx', n_chars shifted +1e6)
    "q218_stats_drift" ->
      s"""WITH v0 AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
            FROM $DocsPq WHERE doc_id < 400),
          up AS (SELECT doc_id, 'xx' AS lang,
              CAST(n_chars + 1000000 AS BIGINT) AS n_chars
            FROM $DocsPq WHERE doc_id >= 300 AND doc_id < 500),
          v1 AS (SELECT * FROM v0
              WHERE doc_id NOT IN (SELECT doc_id FROM up)
            UNION ALL SELECT * FROM up),
          pf AS (
            SELECT 'lang' AS col_name, count(*) AS rows_from,
              sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nulls_from,
              count(DISTINCT lang) AS distinct_from,
              CAST(min(lang) AS VARCHAR) AS min_from,
              CAST(max(lang) AS VARCHAR) AS max_from
            FROM v0
            UNION ALL
            SELECT 'n_chars', count(*),
              sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
              count(DISTINCT n_chars),
              CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
            FROM v0),
          pt AS (
            SELECT 'lang' AS col_name, count(*) AS rows_to,
              sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nulls_to,
              count(DISTINCT lang) AS distinct_to,
              CAST(min(lang) AS VARCHAR) AS min_to,
              CAST(max(lang) AS VARCHAR) AS max_to
            FROM v1
            UNION ALL
            SELECT 'n_chars', count(*),
              sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
              count(DISTINCT n_chars),
              CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
            FROM v1)
          SELECT col_name,
            CAST(rows_from AS BIGINT) AS rows_from,
            CAST(rows_to AS BIGINT) AS rows_to,
            CAST(nulls_from AS BIGINT) AS nulls_from,
            CAST(nulls_to AS BIGINT) AS nulls_to,
            CAST(distinct_from AS BIGINT) AS distinct_from,
            CAST(distinct_to AS BIGINT) AS distinct_to,
            min_from, min_to, max_from, max_to
          FROM pf JOIN pt USING (col_name) ORDER BY col_name""",

    "q219_common_neighbors" ->
      s"""WITH p AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
              CAST(-(l_suppkey + 1) AS BIGINT) AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
          d AS (SELECT src, count(*) AS n FROM e GROUP BY 1),
          em AS (SELECT e.src, e.dst FROM e JOIN d ON e.src = d.src
            WHERE d.n <= 20),
          w AS (SELECT l.dst AS a, r.dst AS b, count(*) AS n_common
            FROM em l JOIN em r ON l.src = r.src AND l.dst < r.dst
            GROUP BY 1, 2 HAVING count(*) >= 2),
          nw AS (SELECT a, b, n_common FROM w
            WHERE NOT EXISTS (SELECT 1 FROM e
              WHERE e.src = w.a AND e.dst = w.b))
          SELECT a, b, CAST(n_common AS BIGINT) AS n_common
          FROM nw ORDER BY n_common DESC, a, b LIMIT 50""",

    // each step replays the same md5 neighbor pick: hash % d is safe
    // (hash nonneg, d positive, so % ≡ pmod), adjacency indexes by
    // dst-sorted row_number exactly like the Spark side
    "q234_random_walks" ->
      s"""WITH $sqlWalks
          SELECT start, w, cur AS end_node, path FROM s3 ORDER BY start, w""",

    "q235_skipgram_pairs" ->
      s"""WITH $sqlWalks,
          t AS (SELECT start, w, string_split(path, '>') AS arr FROM s3),
          tok AS (SELECT start, w, pos, arr[pos] AS tok FROM (
            SELECT start, w, arr,
              unnest(generate_series(1, len(arr))) AS pos FROM t)),
          sg AS (SELECT a.tok AS center, b.tok AS context, count(*) AS n
            FROM tok a JOIN tok b ON a.start = b.start AND a.w = b.w
              AND a.pos <> b.pos AND abs(a.pos - b.pos) <= 2
            GROUP BY 1, 2)
          SELECT CAST(center AS BIGINT) AS center,
            CAST(context AS BIGINT) AS context, CAST(n AS BIGINT) AS n
          FROM sg ORDER BY n DESC, center, context LIMIT 50""",

    "q250_embedding_release" ->
      s"""WITH $sqlWalks,
          t AS (SELECT start, w, start || '_' || w AS wid,
              string_split(path, '>') AS arr FROM s3),
          tok AS (SELECT wid, pos, arr[pos] AS tok FROM (
            SELECT wid, arr,
              unnest(generate_series(1, len(arr))) AS pos FROM t)),
          sg AS (SELECT a.tok AS center, b.tok AS context,
              CAST(count(*) AS BIGINT) AS n
            FROM tok a JOIN tok b ON a.wid = b.wid
              AND a.pos <> b.pos AND abs(a.pos - b.pos) <= 2
            GROUP BY 1, 2),
          dt AS (SELECT DISTINCT wid, tok FROM tok),
          dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfreq
            FROM dt GROUP BY 1 HAVING count(*) >= 2),
          kept AS (SELECT dt.wid, dt.tok FROM dt JOIN dfq USING (tok)),
          pc AS (SELECT a.tok AS item_a, b.tok AS item_b,
              CAST(count(*) AS BIGINT) AS npair
            FROM kept a JOIN kept b ON a.wid = b.wid AND a.tok < b.tok
            GROUP BY 1, 2 HAVING count(*) >= 2),
          nw AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM s3),
          lift AS (SELECT item_a, item_b, npair,
              npair * (SELECT n_docs FROM nw) * 1000000
                // (da.dfreq * db.dfreq) AS lift_micro
            FROM pc JOIN dfq da ON pc.item_a = da.tok
              JOIN dfq db ON pc.item_b = db.tok),
          top3 AS (SELECT 'pmi' AS facet, item_a || '>' || item_b AS item,
              CAST(lift_micro AS BIGINT) AS value
            FROM lift ORDER BY lift_micro DESC, npair DESC, item_a, item_b
            LIMIT 3),
          rep AS (
            SELECT 'corpus' AS facet, 'n_tokens' AS item,
              CAST(count(*) AS BIGINT) AS value FROM tok
            UNION ALL SELECT 'corpus', 'n_walks',
              CAST(count(*) AS BIGINT) FROM s3
            UNION ALL SELECT 'corpus', 'n_vocab',
              CAST(count(DISTINCT tok) AS BIGINT) FROM tok
            UNION ALL SELECT 'pairs', 'total',
              CAST(sum(n) AS BIGINT) FROM sg
            UNION ALL SELECT 'pairs', 'distinct',
              CAST(count(*) AS BIGINT) FROM sg
            UNION ALL SELECT facet, item, value FROM top3
            UNION ALL SELECT 'shard',
              CAST(${Q.sqlTokenHash("'emb_' || center || '>' || context")} % 4
                AS VARCHAR),
              CAST(count(*) AS BIGINT) FROM sg GROUP BY 2)
          SELECT facet, item, value FROM rep ORDER BY facet, item""",

    "q251_text_skipgrams" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS arr
            FROM ${Q.DocsPq}),
          tok AS (SELECT doc_id, pos, arr[pos] AS tok FROM (
            SELECT doc_id, arr,
              unnest(generate_series(1, len(arr))) AS pos FROM t)),
          sg AS (SELECT a.tok AS center, b.tok AS context,
              CAST(count(*) AS BIGINT) AS n
            FROM tok a JOIN tok b ON a.doc_id = b.doc_id
              AND a.pos <> b.pos AND abs(a.pos - b.pos) <= 3
            GROUP BY 1, 2)
          SELECT center, context, n FROM sg
          ORDER BY n DESC, center, context LIMIT 50""",

    "q236_position_attribution" ->
      s"""WITH conv AS (SELECT user_id, ts AS conv_ts, event_id AS conv_id
            FROM events WHERE event_type = 'purchase'),
          touch AS (SELECT user_id, ts AS touch_ts, event_id AS touch_id
            FROM events WHERE event_type = 'click'),
          j AS (SELECT conv.user_id, conv_id, touch_id,
              row_number() OVER (PARTITION BY conv_id
                ORDER BY touch_ts, touch_id) AS pos,
              count(*) OVER (PARTITION BY conv_id) AS n_touches
            FROM conv JOIN touch ON conv.user_id = touch.user_id
            WHERE touch_ts <= conv_ts
              AND touch_ts > conv_ts - INTERVAL 3600 SECONDS)
          SELECT user_id, conv_id, touch_id, CAST(pos AS INT) AS pos,
            CAST(n_touches AS BIGINT) AS n_touches,
            CAST(CASE WHEN n_touches = 1 THEN 1000000
              WHEN n_touches = 2 THEN 500000
              WHEN pos = 1 OR pos = n_touches THEN 400000
              ELSE 200000 // (n_touches - 2) END AS BIGINT) AS credit_micro
          FROM j ORDER BY conv_id, pos""",

    // `//` vs Spark's `div` agree because every operand is
    // nonnegative; the one transcendental (ln) is micro-rounded once
    // per distinct degree in both engines.
    "q220_clustering_coeff" ->
      s"""WITH pr AS (SELECT doc_a AS u, doc_b AS v
            FROM (${DedupQueries.sqlSimhashPairsAuto})),
          deg AS (SELECT node, count(*) AS degree FROM (
              SELECT u AS node FROM pr UNION ALL SELECT v AS node FROM pr)
            GROUP BY 1),
          tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM pr e1 JOIN pr e2 ON e1.v = e2.u
            JOIN pr e3 ON e3.u = e1.u AND e3.v = e2.v),
          tc AS (SELECT node, count(*) AS n_tri
            FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY 1),
          cc AS (SELECT deg.node, CAST(degree AS BIGINT) AS degree,
              CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
              CAST((coalesce(n_tri, 0) * 2000000) // (degree * (degree - 1))
                AS BIGINT) AS cc_micro
            FROM deg LEFT JOIN tc USING (node) WHERE degree >= 2)
          SELECT node, degree, n_tri, cc_micro FROM cc
          ORDER BY cc_micro DESC, n_tri DESC, node LIMIT 50""",

    "q221_adamic_adar" ->
      s"""WITH $sqlTradeGraph,
          mids AS (SELECT src AS m,
              1000000000000 // CAST(round(ln(d) * 1000000) AS BIGINT)
                AS term_micro
            FROM deg WHERE d >= 2 AND d <= 20),
          em AS (SELECT e.src AS m, e.dst, term_micro
            FROM e JOIN mids ON e.src = mids.m),
          w AS (SELECT l.dst AS a, r.dst AS b, count(*) AS n_common,
              sum(l.term_micro) AS aa_micro
            FROM em l JOIN em r ON l.m = r.m AND l.dst < r.dst
            GROUP BY 1, 2 HAVING count(*) >= 2),
          nw AS (SELECT a, b, n_common, aa_micro FROM w
            WHERE NOT EXISTS (SELECT 1 FROM e
              WHERE e.src = w.a AND e.dst = w.b))
          SELECT a, b, CAST(n_common AS BIGINT) AS n_common,
            CAST(aa_micro AS BIGINT) AS aa_micro
          FROM nw ORDER BY aa_micro DESC, a, b LIMIT 50""",

    // Genuine recursive Bellman-Ford: the working table is last
    // round's full distance map; a round emits only while the
    // (count, sum) signature still moves — per-node distances are
    // monotone non-increasing and nodes only get added, so an
    // unchanged signature IS the fixpoint. Final answer = min per
    // node over the accumulated rounds.
    "q222_weighted_sssp" ->
      s"""WITH RECURSIVE
          pw AS (SELECT CAST(o_custkey AS BIGINT) AS src,
              CAST(-(l_suppkey + 1) AS BIGINT) AS dst,
              CASE WHEN count(*) >= 2 THEN 1 ELSE 3 END AS w
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY 1, 2),
          e AS (SELECT src, dst, w FROM pw
            UNION ALL SELECT dst, src, w FROM pw),
          d AS (
            SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS node,
              CAST(0 AS BIGINT) AS dist
            UNION ALL
            (WITH relaxed AS (
               SELECT node, min(dist) AS dist FROM (
                 SELECT node, dist FROM d
                 UNION ALL
                 SELECT e.dst AS node, d.dist + e.w AS dist
                 FROM d JOIN e ON e.src = d.node
               ) GROUP BY node)
             SELECT node, dist FROM relaxed
             WHERE (SELECT count(*) FROM relaxed) <> (SELECT count(*) FROM d)
                OR (SELECT sum(dist) FROM relaxed) <> (SELECT sum(dist) FROM d))
          ),
          best AS (SELECT node, min(dist) AS dist FROM d GROUP BY node)
          SELECT CAST(dist AS BIGINT) AS dist,
            CAST(count(*) AS BIGINT) AS n_nodes,
            CAST(min(node) AS BIGINT) AS min_node,
            CAST(max(node) AS BIGINT) AS max_node
          FROM best GROUP BY dist ORDER BY dist""",

    // replay: v0 = docs<400, v1 = v0 upserted with (>=300 modified,
    // >=400 inserted); deletes are impossible under upsert. n_chars
    // +1e6 guarantees every overlapped key differs.
    "q149_version_diff" ->
      s"""WITH ins AS (SELECT 'insert' AS op, doc_id FROM $DocsPq WHERE doc_id >= 400),
          upd AS (SELECT 'update' AS op, doc_id FROM $DocsPq
            WHERE doc_id >= 300 AND doc_id < 400)
          SELECT op, doc_id FROM ins UNION ALL SELECT op, doc_id FROM upd
          ORDER BY op, doc_id""",

    "q150_transitions" ->
      s"""WITH o AS (SELECT user_id, event_type,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events)
          SELECT prev, event_type AS cur, CAST(count(*) AS BIGINT) AS n
          FROM o WHERE prev IS NOT NULL
          GROUP BY 1, 2 ORDER BY prev, cur""",

    "q151_attribution" ->
      s"""WITH conv AS (SELECT user_id, ts AS conv_ts, event_id AS conv_id
            FROM events WHERE event_type = 'purchase'),
          touch AS (SELECT user_id, ts AS touch_ts, event_id AS touch_id
            FROM events WHERE event_type = 'click'),
          j AS (SELECT conv.user_id, conv_id, touch_id, conv_ts, touch_ts,
              row_number() OVER (PARTITION BY conv_id
                ORDER BY touch_ts DESC, touch_id DESC) AS rn
            FROM conv JOIN touch ON conv.user_id = touch.user_id
            WHERE touch_ts <= conv_ts
              AND touch_ts > conv_ts - INTERVAL 3600 SECONDS)
          SELECT user_id, conv_id, touch_id,
            CAST(datediff('microseconds', touch_ts, conv_ts) AS BIGINT) AS gap_micros
          FROM j WHERE rn = 1 ORDER BY conv_id""",

    "q152_bfs" ->
      s"""WITH $sqlTradeGraph,
          sd AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS node),
          v0 AS (SELECT node, 0 AS dist FROM sd),
          f1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN sd ON e.src = sd.node
                 WHERE e.dst NOT IN (SELECT node FROM v0)),
          v1 AS (SELECT * FROM v0 UNION ALL SELECT node, 1 FROM f1),
          f2 AS (SELECT DISTINCT e.dst AS node FROM e JOIN f1 ON e.src = f1.node
                 WHERE e.dst NOT IN (SELECT node FROM v1)),
          v2 AS (SELECT * FROM v1 UNION ALL SELECT node, 2 FROM f2),
          f3 AS (SELECT DISTINCT e.dst AS node FROM e JOIN f2 ON e.src = f2.node
                 WHERE e.dst NOT IN (SELECT node FROM v2)),
          v3 AS (SELECT * FROM v2 UNION ALL SELECT node, 3 FROM f3)
          SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
          FROM v3 GROUP BY 1 ORDER BY 1""",

    "q153_degree_hist" ->
      s"""WITH $sqlTradeGraph
          SELECT CAST(floor(log2(d)) AS INT) AS bucket,
            CAST(count(*) AS BIGINT) AS n_nodes
          FROM deg GROUP BY 1 ORDER BY 1""",

    "q154_scd_join" ->
      s"""WITH ch AS (SELECT user_id, ts AS valid_from, event_id AS dim_id, value,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
            FROM events WHERE event_type = 'signup'),
          f AS (SELECT user_id, ts AS p_ts, event_id AS p_id
            FROM events WHERE event_type = 'purchase')
          SELECT p_id, dim_id, round(value, 6) AS dim_value
          FROM f JOIN ch USING (user_id)
          WHERE p_ts >= valid_from AND (valid_to IS NULL OR p_ts < valid_to)
          ORDER BY p_id""",

    // q98's pair definition + recursive reachability (q93's shape) +
    // the per-entity rollup.
    "q155_entity_resolution" ->
      s"""WITH RECURSIVE p AS (
            SELECT l.s_suppkey AS a, r.s_suppkey AS b
            FROM supplier l JOIN supplier r
              ON abs(len(l.s_name) - len(r.s_name)) <= 1
              AND l.s_suppkey < r.s_suppkey
              AND l.s_nationkey = r.s_nationkey
            WHERE levenshtein(l.s_name, r.s_name) <= 1),
          e AS (SELECT a AS src, b AS dst FROM p
                UNION ALL SELECT b AS src, a AS dst FROM p),
          reach(src, dst) AS (
            SELECT src, src AS dst FROM e
            UNION
            SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
          lab AS (SELECT src AS doc, min(dst) AS label FROM reach GROUP BY src),
          m AS (SELECT s.s_suppkey,
              COALESCE(l.label, s.s_suppkey) AS entity,
              CAST(round(s.s_acctbal * 100) AS BIGINT) AS bal_cents
            FROM supplier s LEFT JOIN lab l ON s.s_suppkey = l.doc)
          SELECT entity, CAST(count(*) AS INT) AS n_members,
            max(bal_cents) AS max_bal_cents
          FROM m GROUP BY 1 ORDER BY entity""",

    // the manifest/pruning is layout, not semantics: the oracle is the
    // plain range filter the pruned scan must equal
    "q157_stats_pruned_read" ->
      s"""SELECT lang, CAST(count(*) AS INT) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM $DocsPq WHERE n_chars BETWEEN 150 AND 300
          GROUP BY 1 ORDER BY 1""",

    // bloom prefilter is result-invariant: oracle = the plain join
    "q158_bloom_join" ->
      s"""SELECT c_nationkey, CAST(count(*) AS INT) AS n_orders,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS rev_cents
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE c_acctbal > 9000
          GROUP BY 1 ORDER BY 1""",

    "q159_tfidf_pairs" ->
      s"""WITH sh AS (SELECT doc_id AS id, shingle AS term
            FROM (${DedupQueries.sqlShingles(s"SELECT doc_id, text FROM $DocsPq")})),
          tf AS (SELECT id, term, count(*) AS tf FROM sh GROUP BY 1, 2),
          dfr AS (SELECT term, count(*) AS df FROM tf
            GROUP BY 1 HAVING count(*) <= 100),
          nn AS (SELECT count(*) AS n FROM $DocsPq),
          w AS (SELECT id, term,
              tf * CAST(round(ln(n::DOUBLE / df::DOUBLE) * 1000) AS BIGINT) AS w
            FROM tf JOIN dfr USING (term) CROSS JOIN nn
            WHERE tf * CAST(round(ln(n::DOUBLE / df::DOUBLE) * 1000) AS BIGINT) > 0),
          nrm AS (SELECT id, CAST(sum(w * w) AS BIGINT) AS q FROM w GROUP BY 1),
          d AS (SELECT a.id AS doc_a, b.id AS doc_b,
              CAST(sum(a.w * b.w) AS BIGINT) AS dot
            FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
            GROUP BY 1, 2)
          SELECT doc_a, doc_b, dot,
            round(dot / (sqrt(qa.q) * sqrt(qb.q)), 6) AS cosine
          FROM d JOIN nrm qa ON qa.id = doc_a JOIN nrm qb ON qb.id = doc_b
          WHERE round(dot / (sqrt(qa.q) * sqrt(qb.q)), 6) >= 0.25
          ORDER BY doc_a, doc_b""",

    "q160_profile" -> {
      def leg(c: String) =
        s"""SELECT '$c' AS col_name, n_rows, count($c) AS n_nonnull,
              count(DISTINCT $c) AS n_distinct,
              min(CAST(round($c * 1000000) AS BIGINT)) AS min_micro,
              max(CAST(round($c * 1000000) AS BIGINT)) AS max_micro,
              CAST(sum(CAST(round($c * 1000000) AS BIGINT)) AS BIGINT)
                AS sum_micro
            FROM lineitem CROSS JOIN n GROUP BY n_rows"""
      s"""WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
          ${Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
            .map(leg).mkString(" UNION ALL ")}
          ORDER BY col_name"""
    },

    "q162_star_join" ->
      s"""SELECT n_name,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
              (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
              AS revenue_e4,
            CAST(count(*) AS INT) AS n_lineitems
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
              AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'
          GROUP BY 1 ORDER BY revenue_e4 DESC, n_name""",

    // replay of the merged latest (v0 = docs<400, upsert = docs>=300
    // with n_chars+1000); the manifest pruning is layout, the filter
    // result is the contract
    "q163_versioned_skipping" ->
      s"""WITH merged AS (
            SELECT doc_id, lang, n_chars FROM $DocsPq WHERE doc_id < 300
            UNION ALL
            SELECT doc_id, lang, n_chars + 1000 FROM $DocsPq WHERE doc_id >= 300)
          SELECT lang, CAST(count(*) AS INT) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM merged WHERE n_chars BETWEEN 150 AND 300
          GROUP BY 1 ORDER BY 1""",

    "q164_phrase_search" ->
      s"""WITH tk AS ($sqlToks),
          pos AS (SELECT doc_id, tk[i] AS token, i
            FROM tk, unnest(generate_series(1, len(tk))) AS u(i)),
          l0 AS (SELECT doc_id, i AS start FROM pos WHERE token = 'slow'),
          l1 AS (SELECT doc_id, i - 1 AS start FROM pos WHERE token = 'hash'),
          l2 AS (SELECT doc_id, i - 2 AS start FROM pos WHERE token = 'batch'),
          m AS (SELECT doc_id, start FROM l0
            JOIN l1 USING (doc_id, start) JOIN l2 USING (doc_id, start))
          SELECT doc_id, CAST(count(*) AS INT) AS n_hits,
            CAST(min(start) AS INT) AS first_pos
          FROM m GROUP BY 1 ORDER BY doc_id""",

    // layout is not semantics: the oracle is the plain range filter
    "q165_sorted_export" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(pc) AS BIGINT) AS sum_cents,
            min(pc) AS min_cents, max(pc) AS max_cents
          FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
            FROM lineitem)
          WHERE pc BETWEEN 100000 AND 2000000""",

    // the oracle MATERIALIZES the join the engine only estimates —
    // the gate proves the sum(na*nb) identity across engines
    "q166_join_size" ->
      s"""WITH j AS (SELECT o_orderkey AS k FROM orders
            JOIN lineitem ON o_orderkey = l_orderkey),
          per AS (SELECT k, count(*) AS c FROM j GROUP BY 1)
          SELECT CAST(sum(c) AS BIGINT) AS join_rows,
            CAST(count(*) AS BIGINT) AS n_join_keys,
            CAST(max(c) AS BIGINT) AS max_key_rows
          FROM per""",

    "q167_grouping_sets" ->
      s"""WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type,
              CAST(round(value * 1000000) AS BIGINT) AS vm FROM events)
          SELECT coalesce(CAST(day AS VARCHAR), 'ALL') AS day,
            coalesce(event_type, 'ALL') AS event_type,
            CAST(count(*) AS BIGINT) AS n, CAST(sum(vm) AS BIGINT) AS sum_micro
          FROM e GROUP BY GROUPING SETS ((day, event_type), (day),
            (event_type), ())
          ORDER BY 1, 2""",

    // the oracle ranks with a window; the engine's aggregator must
    // produce the identical cut under the same (score desc, id) order
    "q168_group_topk" ->
      s"""WITH j AS (SELECT c_mktsegment AS seg,
              CAST(round(o_totalprice * 100) AS BIGINT) AS pc, o_orderkey AS ok
            FROM orders JOIN customer ON o_custkey = c_custkey),
          r AS (SELECT seg, pc, ok,
              row_number() OVER (PARTITION BY seg ORDER BY pc DESC, ok) AS rn
            FROM j)
          SELECT seg AS segment, CAST(rn AS INT) AS rank, pc AS price_cents,
            ok AS o_orderkey
          FROM r WHERE rn <= 3 ORDER BY segment, rank""",

    "q169_table_checksum" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(CAST(${Q.sqlTokenHash(
              "concat_ws('|', coalesce(CAST(doc_id AS VARCHAR), '<NULL>'), " +
              "coalesce(lang, '<NULL>'), coalesce(source, '<NULL>'), " +
              "coalesce(CAST(n_chars AS VARCHAR), '<NULL>'))")} AS HUGEINT))
              % 9223372036854775783 AS BIGINT)
              AS checksum
          FROM $DocsPq""",

    "q170_decayed_counts" ->
      s"""WITH a AS (SELECT max(CAST(ts AS DATE)) AS t1 FROM events),
          w AS (SELECT event_type,
              1000000 // (1 << CAST(least(
                datediff('day', CAST(ts AS DATE), t1) // 7, 20) AS INT)) AS wm
            FROM events CROSS JOIN a)
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(wm) AS BIGINT) AS decayed_micro
          FROM w GROUP BY 1 ORDER BY 1""",

    // sketch leg is engine state; exact weekly distincts replayed,
    // within_tol must be 1
    "q171_distinct_rollup" ->
      s"""WITH a AS (SELECT min(CAST(ts AS DATE)) AS t0 FROM events),
          e AS (SELECT CAST(ts AS DATE) AS day,
              datediff('day', t0, CAST(ts AS DATE)) // 7 AS week, user_id
            FROM events CROSS JOIN a)
          SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
            CAST(count(DISTINCT day) AS INT) AS n_days, 1 AS within_tol
          FROM e GROUP BY 1 ORDER BY 1""",

    "q172_quality_rules" -> {
      def leg(name: String, pred: String) =
        s"""SELECT n_rows, '$name' AS rule,
              CAST(sum(CASE WHEN $pred THEN 1 ELSE 0 END) AS BIGINT)
                AS n_violations
            FROM lineitem CROSS JOIN n GROUP BY n_rows"""
      s"""WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
          ${Seq(
            leg("quantity_gt45", "l_quantity > 45"),
            leg("discount_gt8pct", "l_discount > 0.08"),
            leg("tax_out_of_range", "l_tax < 0 OR l_tax > 0.08"),
            leg("price_nonpositive", "l_extendedprice <= 0"),
            s"""SELECT n_rows, 'orphan_lineitem' AS rule,
                (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                  AS n_violations
              FROM n""").mkString(" UNION ALL ")}
          ORDER BY rule"""
    },

    "q179_props_extract" ->
      s"""WITH e AS (SELECT event_type,
              CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
            FROM events)
          SELECT event_type, CAST(count(k) AS BIGINT) AS n_with_k,
            CAST(sum(k) AS BIGINT) AS sum_k,
            CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
            min(k) AS min_k, max(k) AS max_k
          FROM e GROUP BY 1 ORDER BY 1""",

    "q178_ltv_deciles" ->
      s"""WITH u AS (SELECT user_id,
              CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                AS ltv_micro
            FROM events WHERE event_type = 'purchase' GROUP BY 1),
          d AS (SELECT ltv_micro,
              ntile(10) OVER (ORDER BY ltv_micro, user_id) AS decile FROM u)
          SELECT CAST(decile AS INT) AS decile, CAST(count(*) AS INT) AS n_users,
            CAST(sum(ltv_micro) AS BIGINT) AS sum_micro,
            min(ltv_micro) AS min_micro, max(ltv_micro) AS max_micro
          FROM d GROUP BY 1 ORDER BY 1""",

    // the incremental merge must equal the FULL recompute
    "q176_backfill_merge" ->
      s"""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
            CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // v0 = docs<400; batch deletes <50, updates 300-349 (+1e6 chars),
    // inserts 400-449 — final state replayed directly
    "q177_apply_changes" ->
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

    // partition layout is not semantics: oracle = the plain filter
    "q173_partitioned_table" ->
      s"""SELECT source, CAST(count(*) AS INT) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM $DocsPq WHERE lang = 'en'
          GROUP BY 1 ORDER BY 1""",

    "q174_conversion_time" ->
      s"""WITH f AS (SELECT user_id, min(ts) AS t_from FROM events
            WHERE event_type = 'view' GROUP BY 1),
          g AS (SELECT e.user_id,
              min(datediff('microseconds', t_from, e.ts)) AS gap_micros
            FROM events e JOIN f ON e.user_id = f.user_id
            WHERE e.event_type = 'purchase' AND e.ts > f.t_from
            GROUP BY 1)
          SELECT CAST(count(*) AS BIGINT) AS n_converted,
            CAST(round(quantile_cont(gap_micros, 0.5) * 100) AS BIGINT) AS p50_100,
            CAST(round(quantile_cont(gap_micros, 0.95) * 100) AS BIGINT) AS p95_100
          FROM g""",

    "q175_daily_anomalies" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
              count(*) AS n_events FROM events GROUP BY 1, 2),
          vm AS (SELECT event_type,
              CAST(round(n_events * 1000000) AS BIGINT) AS vm FROM daily),
          med AS (SELECT event_type,
              CAST(round(quantile_cont(vm, 0.5) * 2) AS BIGINT) AS med2
            FROM vm GROUP BY 1),
          dev AS (SELECT vm.event_type, abs(2 * vm.vm - med.med2) AS d2
            FROM vm JOIN med USING (event_type)),
          mad AS (SELECT event_type,
              CAST(round(quantile_cont(d2, 0.5) * 2) AS BIGINT) AS mad4
            FROM dev GROUP BY 1)
          SELECT d.event_type, CAST(count(*) AS INT) AS n,
            CAST(sum(CASE WHEN 2 * d.d2 > 3 * m.mad4 THEN 1 ELSE 0 END) AS INT)
              AS n_outliers,
            max(med.med2) AS med2, max(m.mad4) AS mad4
          FROM dev d JOIN mad m USING (event_type) JOIN med USING (event_type)
          GROUP BY 1 ORDER BY 1""",

    // approx leg graded as a contract (the sketch is engine state);
    // exact p95 replayed, within_tol must be 1
    "q161_p95_contract" ->
      s"""WITH vm AS (SELECT event_type,
              CAST(round(value * 1000000) AS BIGINT) AS vm FROM events)
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(round(quantile_cont(vm, 0.95) * 100) AS BIGINT) AS p95_100,
            1 AS within_tol
          FROM vm GROUP BY 1 ORDER BY 1""",

    "q156_mad_outliers" ->
      s"""WITH vm AS (SELECT event_type,
              CAST(round(value * 1000000) AS BIGINT) AS vm FROM events),
          med AS (SELECT event_type,
              CAST(round(quantile_cont(vm, 0.5) * 2) AS BIGINT) AS med2
            FROM vm GROUP BY 1),
          dev AS (SELECT vm.event_type, abs(2 * vm.vm - med.med2) AS d2
            FROM vm JOIN med USING (event_type)),
          mad AS (SELECT event_type,
              CAST(round(quantile_cont(d2, 0.5) * 2) AS BIGINT) AS mad4
            FROM dev GROUP BY 1)
          SELECT d.event_type, CAST(count(*) AS INT) AS n,
            CAST(sum(CASE WHEN 2 * d.d2 > 5 * m.mad4 THEN 1 ELSE 0 END) AS INT)
              AS n_outliers,
            max(med.med2) AS med2, max(m.mad4) AS mad4
          FROM dev d JOIN mad m USING (event_type) JOIN med USING (event_type)
          GROUP BY 1 ORDER BY 1"""
  )
}
