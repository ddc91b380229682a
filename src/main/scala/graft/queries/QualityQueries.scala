package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Features, Quality, Sequence, Versioned}
import Q._

/** Data-quality / governance pack (q223-q248): the audits a corpus
  * passes before anyone trains on it or releases it — one-pass column
  * profiling, referential-integrity orphan checks, k-anonymity risk,
  * join-key skew, path mining, item-item cosine recommendations,
  * series autocorrelation, and a cascading right-to-be-forgotten
  * erasure proved at rest. All integer-unit deterministic ([[Q]]
  * rules); sqrt/Pearson are the only floats and arrive round-6.
  */
object QualityQueries {

  val queries: Map[String, QFn] = Map(
    // One-pass profile of five lineitem columns: row/non-null/exact
    // distinct counts and min/max rendered as strings (aggregated in
    // the native type, cast after). The per-ingest-batch health check.
    "q223_profile_lineitem" -> ((s, dir) =>
      Quality.profileColumns(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate").cast("date").as("l_shipdate")),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
          "l_shipdate"))
        .orderBy(col("col_name"))),

    // Referential-integrity audit of the whole star schema: one
    // anti-join-shaped pass per FK relation; a healthy snapshot reads
    // zero orphans, a broken loader shows up as nonzero before any
    // downstream join silently drops the rows.
    "q224_fk_orphans" -> ((s, dir) => {
      import Quality.FkRel
      Quality.fkOrphans(Seq(
        FkRel("customer->nation", t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation"), "n_nationkey"),
        FkRel("lineitem->orders", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        FkRel("lineitem->part", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"),
        FkRel("lineitem->supplier", t(s, dir, "lineitem"), "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"),
        FkRel("orders->customer", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"),
        FkRel("supplier->nation", t(s, dir, "supplier"), "s_nationkey",
          t(s, dir, "nation"), "n_nationkey")))
        .orderBy(col("relation"))
    }),

    // k-anonymity risk histogram of customers under the quasi
    // identifiers (nation, segment, balance-in-thousands): how many
    // identity groups exist at each group size — everything below the
    // release policy's k is the violation mass, size-1 groups are
    // fully re-identifiable.
    "q225_k_anonymity" -> ((s, dir) =>
      Quality.kAnonymityProfile(t(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_k")))
        .orderBy(col("group_size"))),

    // Join-key skew profile of lineitem's part key: top-25 heaviest
    // keys with exact micro share and cumulative share — the
    // diagnostic you read BEFORE picking a salt factor or trusting
    // AQE's skew split.
    "q226_key_skew" -> ((s, dir) =>
      Quality.keySkewProfile(t(s, dir, "lineitem"), col("l_partkey"), 25)
        .orderBy(col("n_rows").desc, col("key"))),

    // Top event-type 3-grams per user journey (total order ts,
    // event_id): the corridor view of q147's one-step transition
    // matrix — which three-step paths actually dominate.
    "q227_event_paths" -> ((s, dir) =>
      Sequence.eventNgrams(Q.events(s, dir), col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"), n = 3, k = 25)),

    // Item-item cosine similarity over co-purchased parts: q187's
    // bounded co-occurrence kernel ranked by co/sqrt(na*nb) — the
    // neighbor score a recommender consumes, normalized so ubiquitous
    // parts don't dominate raw co-counts.
    "q228_item_cosine" -> ((s, dir) =>
      Curation.cosinePairs(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey"), col("l_partkey"),
        minSupport = 3, minPair = 2, maxPerBasket = 64, k = 50)),

    // Autocorrelation of daily order revenue at lags 1..14: the
    // seasonality fingerprint (weekly cadence spikes at lag 7) every
    // forecast/anomaly monitor reads first. Gaps skip, each lag
    // reports its own pair count.
    "q229_acf_daily_revenue" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(Q.cents(col("o_totalprice"))).as("rev_cents"))
        .select(
          datediff(col("day"), to_date(lit("1970-01-01"))).as("t"),
          col("rev_cents"))
      Features.autocorr(daily, col("t"), col("rev_cents"), maxLag = 14)
    }),

    // Right-to-be-forgotten, cascaded and proved at rest: commit
    // customer+orders snapshots, erase the subject customers (keys
    // ending 00-04) via a CDC delete batch, cascade the delete to
    // their orders, then read BOTH new snapshots back and prove zero
    // subject rows remain. The result is the erasure certificate:
    // per table v0/v1 row counts and the at-rest residue (must be 0).
    "q230_gdpr_erasure" -> ((s, dir) => {
      import s.implicits._
      val base = Q.tempDir("gdpr_")
      val cust = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("c_custkey"), col("c_nationkey"),
        Q.cents(col("c_acctbal")).as("acct_cents"))
      val ords = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        Q.cents(col("o_totalprice")).as("total_cents"))
      Versioned.commit(base + "/customer", cust)
      Versioned.commit(base + "/orders", ords)
      val subjects = cust.filter(col("c_custkey") % 100 < 5)
        .select(col("c_custkey"))
      Versioned.applyChanges(s, base + "/customer",
        cust.join(subjects, "c_custkey").withColumn("op", lit("delete")),
        "c_custkey")
      Versioned.applyChanges(s, base + "/orders",
        ords.join(subjects, ords("o_custkey") === subjects("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("total_cents"))
          .withColumn("op", lit("delete")),
        "o_orderkey")
      val c0 = Versioned.read(s, base + "/customer", Some(0L)).count()
      val o0 = Versioned.read(s, base + "/orders", Some(0L)).count()
      val c1f = Versioned.read(s, base + "/customer")
      val o1f = Versioned.read(s, base + "/orders")
      val c1 = c1f.count()
      val o1 = o1f.count()
      val cres = c1f.filter(col("c_custkey") % 100 < 5).count()
      val ores = o1f.join(subjects, o1f("o_custkey") === subjects("c_custkey"))
        .count()
      Seq(("customer", c0, c1, cres), ("orders", o0, o1, ores))
        .toDF("tbl", "rows_v0", "rows_v1", "subject_rows_left")
        .orderBy(col("tbl"))
    }),

    // Expectation suite over lineitem in ONE scan: domain/range rules
    // with exact pass rates in micro — null predicates count as
    // failures, so a silently-nulled column trips the rule instead of
    // passing through.
    "q231_expectations" -> ((s, dir) =>
      Quality.expectations(t(s, dir, "lineitem"), Seq(
        "qty_in_1_50" -> col("l_quantity").between(1, 50),
        "price_positive" -> (col("l_extendedprice") > 0),
        "discount_in_0_01" -> col("l_discount").between(0, 0.1),
        "flag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "tax_lt_price" -> (col("l_tax") < col("l_extendedprice"))))
        .orderBy(col("rule"))),

    // Calendar completeness of the jumbo-order feed (daily SLA: at
    // least one order above 450k): span vs present vs missing days and
    // the longest dry run — the gap a value-anomaly monitor (q175)
    // cannot see because the missing day produced no rows at all.
    "q232_completeness" -> ((s, dir) =>
      Quality.completeness(
        t(s, dir, "orders").filter(col("o_totalprice") > 450000),
        col("o_orderdate"))),

    // Explicit schema evolution at rest: v0 commits 3 columns, the
    // evolving upsert batch adds quality_micro (and bumps n_chars on
    // its keys); the evolved snapshot backfills untouched rows with
    // null — graded per lang on doc counts, scored counts and sums.
    "q237_schema_evolution" -> ((s, dir) => {
      val base = Q.tempDir("sev_") + "/docs"
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Versioned.commit(base, d)
      val batch = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000000L).as("n_chars"),
          (col("doc_id") % 1000 * 1000L).as("quality_micro"))
      Versioned.upsertEvolve(s, base, batch, "doc_id")
      Versioned.read(s, base)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("quality_micro").isNotNull, 1L).otherwise(0L))
            .as("n_scored"),
          sum(coalesce(col("quality_micro"), lit(0L))).as("sum_quality"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // Deterministic Poisson-bootstrap 95% CI of the mean purchase
    // value: 100 hash-weighted resamples in one pass — the at-scale
    // bootstrap (per-row Poisson(1) weights, no with-replacement
    // shuffle), reproducible bit-identically by the oracle.
    "q238_bootstrap_ci" -> ((s, dir) =>
      Features.bootstrapCI(
        Q.events(s, dir).filter(col("event_type") === "purchase"),
        col("event_id"), Q.cents(col("value")), b = 100)),

    // At-rest format breadth: the q126 TSV roundtrip contract on ORC —
    // write the doc stats as ORC, read them back, aggregate; proves
    // the engine's at-rest surface is not parquet-only.
    "q239_orc_roundtrip" -> ((s, dir) => {
      val stats = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = Q.tempDir("graft_orc") + "/out"
      stats.write.format("orc").mode("overwrite").save(path)
      s.read.format("orc").load(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    }),

    // Time-decay attribution: clicks in the hour before a purchase
    // credited with exact halving buckets (15-min half-life) — the
    // recency-weighted third face of q151/q236, transcendental-free
    // so both engines agree bit-for-bit.
    "q240_decay_attribution" -> ((s, dir) =>
      Sequence.decayAttribution(Q.events(s, dir), "user_id", "ts",
          "event_type", "event_id", convType = "purchase",
          touchType = "click", windowSec = 3600, halfLifeSec = 900)
        .orderBy(col("conv_id"), col("touch_id"))),

    // Two-proportion z-test on conversion: users split A/B by the
    // engine-shared hash parity, conversion = a purchase above 150; pooled
    // z in round-6 — the categorical sibling of q185's Welch test.
    "q241_conversion_ab" -> ((s, dir) => {
      val users = Q.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 150, 1L).otherwise(0L)).as("conv"))
        .withColumn("arm",
          pmod(Q.tokenHash(concat(lit("ab_"), col("user_id"))), lit(2L)))
      users.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
        .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
          round(
            (col("conv_a") / col("n_a") - col("conv_b") / col("n_b")) /
            sqrt((col("conv_a") + col("conv_b")).cast("double") /
                (col("n_a") + col("n_b")) *
              (lit(1.0) - (col("conv_a") + col("conv_b")) /
                (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6)
            .as("z_r6"))
    }),

    // Interquantile (5-95) trimmed mean of purchase value: thresholds
    // from the exact interpolated percentile aggregate, then one
    // filtered pass — the robust-mean companion to q156's MAD without
    // a global row sort.
    "q242_trimmed_mean" -> ((s, dir) => {
      val p = Q.events(s, dir).filter(col("event_type") === "purchase")
        .select(Q.cents(col("value")).as("c"))
      val th = p.agg(expr("percentile(c, 0.05)").as("lo"),
        expr("percentile(c, 0.95)").as("hi"))
      p.crossJoin(broadcast(th))
        .filter(col("c") >= col("lo") && col("c") <= col("hi"))
        .agg(count(lit(1)).as("n_kept"),
          round(avg(col("c")), 6).as("trimmed_mean_cents_r6"),
          round(max(col("lo")), 6).as("lo_r6"),
          round(max(col("hi")), 6).as("hi_r6"))
    }),

    // l-diversity of the balance bucket within (nation, segment)
    // groups: k-anonymity's blind spot — a large group whose members
    // all share one sensitive value still discloses it. Histogram of
    // distinct sensitive values per quasi group, graded beside q225.
    "q245_l_diversity" -> ((s, dir) =>
      Quality.lDiversityProfile(t(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        floor(col("c_acctbal") / 1000).cast("long"))
        .orderBy(col("l"))),

    // Per-nation 7-day rolling revenue extremes: a RANGE-framed window
    // over day indices partitioned by nation — the partitioned rolling
    // aggregate shape (state = frame, shuffle = one hash exchange on
    // nation), graded on each nation's peak/trough week.
    "q246_rolling_revenue" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          datediff(col("o_orderdate").cast("date"),
            to_date(lit("1970-01-01"))).as("t"))
        .agg(sum(Q.cents(col("o_totalprice"))).as("v"))
      val w = Window.partitionBy(col("nation")).orderBy(col("t"))
        .rangeBetween(-6, 0)
      daily.withColumn("r7", sum(col("v")).over(w))
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n_days"),
          max(col("r7")).as("max_r7_cents"), min(col("r7")).as("min_r7_cents"))
        .orderBy(col("nation"))
    }),

    // Seasonal-naive forecast error: predict each day's revenue as
    // the value 7 days earlier and report the exact integer sMAPE
    // (|a-f|·1e6 div (a+f) per day, mean r6) — the baseline every
    // real forecast must beat, and the cheapest seasonality-strength
    // readout after q229's ACF.
    "q243_seasonal_naive" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(Q.cents(col("o_totalprice"))).as("v"))
      val lagged = daily.select(date_add(col("day"), 7).as("day"),
        col("v").as("f"))
      // the |a-f|*1e6 numerator rides DECIMAL(38,0): daily cents at
      // multi-TB tiers pass ~9.2e12, and *1e6 in LONG wraps 2^63
      // (the q205/q229 overflow class) — DuckDB's // widens on its own
      daily.join(lagged, Seq("day"))
        .select(expr(
          "cast(abs(v - f) as decimal(38,0)) * 1000000 div (v + f)")
          .as("smape_micro"))
        .agg(count(lit(1)).as("n_days"),
          round(avg(col("smape_micro")), 6).as("mean_smape_micro_r6"),
          max(col("smape_micro")).as("worst_smape_micro"))
    }),

    // PERMISSIVE-mode ingestion audit: write a CSV feed with known-bad
    // rows (letters in a numeric column), read it back with a typed
    // schema + columnNameOfCorruptRecord, and report clean vs corrupt
    // counts and the clean sum — the quarantine gate a raw-feed loader
    // runs before anything downstream trusts the batch.
    "q244_permissive_ingest" -> ((s, dir) => {
      val base = Q.tempDir("csvq_")
      val raw = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 97 === 0, lit("not_a_number"))
            .otherwise(col("n_chars").cast("string")).as("n_chars"))
      raw.write.option("header", "true").mode("overwrite")
        .csv(base + "/feed")
      s.read
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .schema("doc_id LONG, lang STRING, n_chars LONG, _bad STRING")
        .csv(base + "/feed")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_bad").isNull, 1L).otherwise(0L)).as("n_clean"),
          sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
          sum(when(col("_bad").isNull, col("n_chars")).otherwise(0L))
            .as("clean_sum_chars"))
    }),

    // Fairness audit under the four-fifths rule: per-group (user_id
    // mod 10 cohort) conversion rate vs the BEST group's rate in exact
    // micro; any group below 800000 micro (80%) of the best is an
    // adverse-impact flag — the disparity screen a gating model's
    // training data goes through before release.
    "q247_fairness_audit" -> ((s, dir) => {
      val users = Q.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
          col("value") > 150, 1L).otherwise(0L)).as("conv"))
        .withColumn("grp", pmod(col("user_id"), lit(10L)))
      val rates = users.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
        .withColumn("rate_micro", expr("n_conv * 1000000 div n_users"))
      val best = broadcast(rates.agg(max(col("rate_micro")).as("best")))
      rates.crossJoin(best)
        .select(col("grp"), col("n_users"), col("n_conv"), col("rate_micro"),
          expr("rate_micro * 1000000 div best").as("parity_micro"),
          (expr("rate_micro * 1000000 div best") < 800000L)
            .as("adverse_impact"))
        .orderBy(col("grp"))
    }),

    // Cardinality-estimation accuracy CONTRACT: each engine's own HLL
    // estimate of distinct documents-tokens must land within 5% of the
    // exact count — graded on the exact count and the PASS BIT (the
    // estimators differ across engines by design; the CONTRACT is what
    // both must satisfy), the q161 approx-percentile pattern.
    "q248_hll_contract" -> ((s, dir) =>
      Q.explodedTokens(t(s, dir, "documents"), "doc_id", "text")
        .agg(countDistinct(col("token")).as("exact"),
          approx_count_distinct(col("token")).as("est"))
        .select(col("exact"),
          (abs(col("est") - col("exact")) * 1000000L / col("exact") <
            50000L).as("within_5pct"))),

    // The composed governance report — ONE call a release pipeline
    // makes before promoting a batch: null counts per profiled column,
    // expectation failures per rule, FK orphans per relation, k-anon
    // risk mass, calendar gaps — unified into a (check, item, value)
    // long frame. Composes q223/q224/q225/q231/q232's operators; the
    // per-facet queries grade the parts, this grades the composition.
    "q249_governance_report" -> ((s, dir) => {
      import Quality.FkRel
      val li = t(s, dir, "lineitem")
      val nulls = Quality.profileColumns(
          li.select(col("l_orderkey"), col("l_returnflag"),
            col("l_shipdate").cast("date").as("l_shipdate")),
          Seq("l_orderkey", "l_returnflag", "l_shipdate"))
        .select(lit("nulls").as("audit"), col("col_name").as("item"),
          (col("n_rows") - col("n_nonnull")).as("value"))
      val expect = Quality.expectations(li, Seq(
          "qty_in_1_50" -> col("l_quantity").between(1, 50),
          "flag_domain" -> col("l_returnflag").isin("A", "N", "R")))
        .select(lit("expect_fail").as("audit"), col("rule").as("item"),
          col("n_fail").as("value"))
      val fk = Quality.fkOrphans(Seq(
          FkRel("lineitem->orders", li, "l_orderkey",
            t(s, dir, "orders"), "o_orderkey"),
          FkRel("orders->customer", t(s, dir, "orders"), "o_custkey",
            t(s, dir, "customer"), "c_custkey")))
        .select(lit("orphans").as("audit"), col("relation").as("item"),
          col("n_orphan_rows").as("value"))
      val kanon = Quality.kAnonymityProfile(t(s, dir, "customer"),
          Seq(col("c_nationkey"), col("c_mktsegment")))
        .filter(col("group_size") < 5)
        .agg(coalesce(sum(col("n_rows")), lit(0L)).as("value"))
        .select(lit("kanon_rows_lt5").as("audit"),
          lit("customer").as("item"), col("value"))
      val gaps = Quality.completeness(
          t(s, dir, "orders").filter(col("o_totalprice") > 450000),
          col("o_orderdate"))
        .select(lit("missing_days").as("audit"),
          lit("jumbo_orders").as("item"), col("n_missing_days").as("value"))
      nulls.unionAll(expect).unionAll(fk).unionAll(kanon).unionAll(gaps)
        .orderBy(col("audit"), col("item"))
    }),

    // Functional-dependency audit: c_custkey -> c_nationkey must hold
    // (a customer lives in one nation); l_partkey -> l_suppkey must
    // NOT (TPC-H supplies each part from several suppliers) — the
    // audit that catches a "dimension" silently fanning out a join.
    "q233_fd_check" -> ((s, dir) => {
      val holds = Quality.fdViolations(t(s, dir, "customer"),
          Seq(col("c_custkey")), col("c_nationkey"))
        .select(lit("customer: custkey->nationkey").as("fd"), col("*"))
      val breaks = Quality.fdViolations(t(s, dir, "lineitem"),
          Seq(col("l_partkey")), col("l_suppkey"))
        .select(lit("lineitem: partkey->suppkey").as("fd"), col("*"))
      holds.unionAll(breaks).orderBy(col("fd"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q223_profile_lineitem" -> {
      def one(c: String, e: String) =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count($e) AS BIGINT) AS n_nonnull,
            CAST(count(DISTINCT $e) AS BIGINT) AS n_distinct,
            CAST(min($e) AS VARCHAR) AS min_str,
            CAST(max($e) AS VARCHAR) AS max_str FROM lineitem"""
      Seq(one("l_orderkey", "l_orderkey"),
        one("l_linenumber", "l_linenumber"),
        one("l_returnflag", "l_returnflag"),
        one("l_linestatus", "l_linestatus"),
        one("l_shipdate", "CAST(l_shipdate AS DATE)"))
        .mkString("", " UNION ALL ", " ORDER BY col_name")
    },

    "q224_fk_orphans" -> {
      def one(name: String, child: String, ck: String, parent: String,
          pk: String) =
        s"""SELECT '$name' AS relation, CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(DISTINCT $ck) AS BIGINT) AS n_keys,
            CAST(sum(CASE WHEN $ck IS NOT NULL AND hit IS NULL
              THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_rows,
            CAST(count(DISTINCT CASE WHEN hit IS NULL THEN $ck END)
              AS BIGINT) AS n_orphan_keys
          FROM $child LEFT JOIN
            (SELECT DISTINCT $pk AS pkey, 1 AS hit FROM $parent) p
            ON $ck = p.pkey"""
      Seq(one("customer->nation", "customer", "c_nationkey", "nation",
          "n_nationkey"),
        one("lineitem->orders", "lineitem", "l_orderkey", "orders",
          "o_orderkey"),
        one("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        one("lineitem->supplier", "lineitem", "l_suppkey", "supplier",
          "s_suppkey"),
        one("orders->customer", "orders", "o_custkey", "customer",
          "c_custkey"),
        one("supplier->nation", "supplier", "s_nationkey", "nation",
          "n_nationkey"))
        .mkString("", " UNION ALL ", " ORDER BY relation")
    },

    "q225_k_anonymity" ->
      s"""WITH g AS (SELECT c_nationkey, c_mktsegment,
            CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
            count(*) AS group_size
          FROM customer GROUP BY 1, 2, 3)
          SELECT CAST(group_size AS BIGINT) AS group_size,
            CAST(count(*) AS BIGINT) AS n_groups,
            CAST(sum(group_size) AS BIGINT) AS n_rows
          FROM g GROUP BY 1 ORDER BY 1""",

    // `//` ≡ Spark `div` here: every operand nonnegative
    "q226_key_skew" ->
      s"""WITH c AS (SELECT l_partkey AS key, count(*) AS n_rows
            FROM lineitem GROUP BY 1),
          t AS (SELECT sum(n_rows) AS n_total FROM c),
          top AS (SELECT key, n_rows FROM c ORDER BY n_rows DESC, key LIMIT 25),
          w AS (SELECT key, n_rows,
              sum(n_rows) OVER (ORDER BY n_rows DESC, key
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM top)
          SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
            CAST(n_rows * 1000000 // n_total AS BIGINT) AS share_micro,
            CAST(cum * 1000000 // n_total AS BIGINT) AS cum_micro
          FROM w CROSS JOIN t ORDER BY n_rows DESC, key""",

    "q227_event_paths" ->
      s"""WITH s AS (SELECT event_type,
            lead(event_type, 1) OVER w AS e2,
            lead(event_type, 2) OVER w AS e3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          SELECT event_type || '>' || e2 || '>' || e3 AS path,
            CAST(count(*) AS BIGINT) AS n_paths
          FROM s WHERE e3 IS NOT NULL
          GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 25""",

    "q228_item_cosine" ->
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS id, l_partkey AS item
            FROM lineitem),
          dfreq AS (SELECT item, count(*) AS dfreq FROM inc
            GROUP BY 1 HAVING count(*) >= 3),
          kept AS (SELECT id, item FROM (
              SELECT i.id, i.item,
                row_number() OVER (PARTITION BY i.id ORDER BY i.item) AS rn
              FROM inc i JOIN dfreq USING (item)) WHERE rn <= 64),
          pairs AS (SELECT a.item AS item_a, b.item AS item_b,
              count(*) AS npair
            FROM kept a JOIN kept b ON a.id = b.id AND a.item < b.item
            GROUP BY 1, 2 HAVING count(*) >= 2)
          SELECT item_a, item_b, CAST(npair AS INT) AS npair,
            CAST(da.dfreq AS INT) AS na, CAST(db.dfreq AS INT) AS nb,
            round(npair / sqrt(CAST(da.dfreq AS DOUBLE) * db.dfreq), 6)
              AS cos_r6
          FROM pairs JOIN dfreq da ON pairs.item_a = da.item
            JOIN dfreq db ON pairs.item_b = db.item
          ORDER BY cos_r6 DESC, npair DESC, item_a, item_b LIMIT 50""",

    // exact HUGEINT moments cast to double ONCE each — mirrors the
    // Spark side's DECIMAL(38,0) accumulation + final double promote
    "q229_acf_daily_revenue" ->
      s"""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
              sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
            FROM orders GROUP BY 1),
          s AS (SELECT date_diff('day', DATE '1970-01-01', day) AS t, v
            FROM d),
          lags AS (SELECT unnest(generate_series(1, 14)) AS lag),
          p AS (SELECT lag, a.v AS x, b.v AS y
            FROM s a CROSS JOIN lags JOIN s b ON b.t = a.t + lag),
          m AS (SELECT lag, count(*) AS n,
              sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
              sum(CAST(x AS HUGEINT) * y) AS sxy,
              sum(CAST(x AS HUGEINT) * x) AS sxx,
              sum(CAST(y AS HUGEINT) * y) AS syy
            FROM p GROUP BY 1)
          SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
            round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                  CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                  CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r_r6
          FROM m ORDER BY lag""",

    "q230_gdpr_erasure" ->
      s"""SELECT 'customer' AS tbl,
            CAST((SELECT count(*) FROM customer) AS BIGINT) AS rows_v0,
            CAST((SELECT count(*) FROM customer WHERE c_custkey % 100 >= 5)
              AS BIGINT) AS rows_v1,
            CAST(0 AS BIGINT) AS subject_rows_left
          UNION ALL
          SELECT 'orders',
            CAST((SELECT count(*) FROM orders) AS BIGINT),
            CAST((SELECT count(*) FROM orders WHERE o_custkey % 100 >= 5)
              AS BIGINT),
            CAST(0 AS BIGINT)
          ORDER BY tbl""",

    "q231_expectations" -> {
      def one(name: String, pred: String) =
        s"""SELECT '$name' AS rule, CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(CASE WHEN coalesce($pred, false) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pass,
            CAST(count(*) - sum(CASE WHEN coalesce($pred, false)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
            CAST(sum(CASE WHEN coalesce($pred, false) THEN 1 ELSE 0 END)
              * 1000000 // count(*) AS BIGINT) AS pass_micro
          FROM lineitem"""
      Seq(one("qty_in_1_50", "l_quantity BETWEEN 1 AND 50"),
        one("price_positive", "l_extendedprice > 0"),
        one("discount_in_0_01", "l_discount BETWEEN 0 AND 0.1"),
        one("flag_domain", "l_returnflag IN ('A', 'N', 'R')"),
        one("tax_lt_price", "l_tax < l_extendedprice"))
        .mkString("", " UNION ALL ", " ORDER BY rule")
    },

    "q232_completeness" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
              count(*) AS n
            FROM orders WHERE o_totalprice > 450000 GROUP BY 1),
          b AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
          spine AS (SELECT CAST(unnest(generate_series(mn, mx,
              INTERVAL 1 DAY)) AS DATE) AS day FROM b),
          f AS (SELECT spine.day, daily.n IS NULL AS gap
            FROM spine LEFT JOIN daily ON spine.day = daily.day),
          gd AS (SELECT date_diff('day', DATE '1970-01-01', day) -
                row_number() OVER (ORDER BY day) AS grp
            FROM f WHERE gap),
          runs AS (SELECT grp, count(*) AS run FROM gd GROUP BY 1),
          mr AS (SELECT coalesce(max(run), 0) AS max_gap_days FROM runs)
          SELECT CAST(count(*) AS BIGINT) AS n_span_days,
            CAST(sum(CASE WHEN gap THEN 0 ELSE 1 END) AS BIGINT)
              AS n_present_days,
            CAST(sum(CASE WHEN gap THEN 1 ELSE 0 END) AS BIGINT)
              AS n_missing_days,
            CAST(max(max_gap_days) AS BIGINT) AS max_gap_days
          FROM f CROSS JOIN mr""",

    "q247_fairness_audit" ->
      s"""WITH u AS (SELECT user_id,
              max(CASE WHEN event_type = 'purchase' AND value > 150
                THEN 1 ELSE 0 END) AS conv,
              user_id % 10 AS grp
            FROM events GROUP BY user_id),
          r AS (SELECT grp, count(*) AS n_users, sum(conv) AS n_conv,
              sum(conv) * 1000000 // count(*) AS rate_micro
            FROM u GROUP BY 1),
          b AS (SELECT max(rate_micro) AS best FROM r)
          SELECT CAST(grp AS BIGINT) AS grp, CAST(n_users AS BIGINT) AS n_users,
            CAST(n_conv AS BIGINT) AS n_conv,
            CAST(rate_micro AS BIGINT) AS rate_micro,
            CAST(rate_micro * 1000000 // best AS BIGINT) AS parity_micro,
            (rate_micro * 1000000 // best) < 800000 AS adverse_impact
          FROM r CROSS JOIN b ORDER BY grp""",

    "q249_governance_report" ->
      s"""WITH nulls AS (
            SELECT 'nulls' AS audit, c AS item, v AS value FROM (
              SELECT unnest(['l_orderkey', 'l_returnflag', 'l_shipdate']) AS c,
                unnest([count(*) - count(l_orderkey),
                  count(*) - count(l_returnflag),
                  count(*) - count(l_shipdate)]) AS v
              FROM lineitem)),
          expectf AS (
            SELECT 'expect_fail' AS audit, r AS item, v AS value FROM (
              SELECT unnest(['qty_in_1_50', 'flag_domain']) AS r,
                unnest([
                  count(*) - sum(CASE WHEN coalesce(
                    l_quantity BETWEEN 1 AND 50, false) THEN 1 ELSE 0 END),
                  count(*) - sum(CASE WHEN coalesce(
                    l_returnflag IN ('A', 'N', 'R'), false)
                    THEN 1 ELSE 0 END)]) AS v
              FROM lineitem)),
          fk AS (
            SELECT 'orphans' AS audit, 'lineitem->orders' AS item,
              (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
                AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                  WHERE o_orderkey IS NOT NULL)) AS value
            UNION ALL
            SELECT 'orphans', 'orders->customer',
              (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
                AND o_custkey NOT IN (SELECT c_custkey FROM customer
                  WHERE c_custkey IS NOT NULL))),
          kanon AS (
            SELECT 'kanon_rows_lt5' AS audit, 'customer' AS item,
              coalesce(sum(n), 0) AS value FROM (
                SELECT count(*) AS n FROM customer
                GROUP BY c_nationkey, c_mktsegment) WHERE n < 5),
          gaps AS (
            SELECT 'missing_days' AS audit, 'jumbo_orders' AS item,
              date_diff('day', min(CAST(o_orderdate AS DATE)),
                max(CAST(o_orderdate AS DATE))) + 1
                - count(DISTINCT CAST(o_orderdate AS DATE)) AS value
            FROM orders WHERE o_totalprice > 450000)
          SELECT audit, item, CAST(value AS BIGINT) AS value FROM (
            SELECT * FROM nulls UNION ALL SELECT * FROM expectf
            UNION ALL SELECT * FROM fk UNION ALL SELECT * FROM kanon
            UNION ALL SELECT * FROM gaps)
          ORDER BY audit, item""",

    // each engine uses ITS OWN HLL estimator; the graded contract is
    // the exact count plus the 5% accuracy bit both must satisfy
    "q248_hll_contract" ->
      s"""WITH tk AS (SELECT unnest(tk) AS token FROM (${
            DedupQueries.sqlToks(s"SELECT doc_id, text FROM $DocsPq")}))
          SELECT CAST(count(DISTINCT token) AS BIGINT) AS exact,
            abs(approx_count_distinct(token) - count(DISTINCT token))
              * 1000000.0 / count(DISTINCT token) < 50000 AS within_5pct
          FROM tk""",

    "q245_l_diversity" ->
      s"""WITH g AS (SELECT c_nationkey, c_mktsegment,
            count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l,
            count(*) AS n
          FROM customer GROUP BY 1, 2)
          SELECT CAST(l AS BIGINT) AS l, CAST(count(*) AS BIGINT) AS n_groups,
            CAST(sum(n) AS BIGINT) AS n_rows
          FROM g GROUP BY 1 ORDER BY 1""",

    "q246_rolling_revenue" ->
      s"""WITH d AS (SELECT c_nationkey AS nation,
              date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                AS t,
              sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2),
          r AS (SELECT nation, t, sum(v) OVER (PARTITION BY nation ORDER BY t
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS r7
            FROM d)
          SELECT nation, CAST(count(*) AS BIGINT) AS n_days,
            CAST(max(r7) AS BIGINT) AS max_r7_cents,
            CAST(min(r7) AS BIGINT) AS min_r7_cents
          FROM r GROUP BY 1 ORDER BY 1""",

    "q243_seasonal_naive" ->
      s"""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
              sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
            FROM orders GROUP BY 1),
          j AS (SELECT a.v AS v, b.v AS f FROM d a
            JOIN d b ON a.day = b.day + INTERVAL 7 DAYS),
          sm AS (SELECT abs(CAST(v AS HUGEINT) - f) * 1000000 // (v + f)
            AS smape_micro FROM j)
          SELECT CAST(count(*) AS BIGINT) AS n_days,
            round(avg(smape_micro), 6) AS mean_smape_micro_r6,
            CAST(max(smape_micro) AS BIGINT) AS worst_smape_micro
          FROM sm""",

    // corrupt rows are the doc_id % 97 == 0 ones by construction;
    // clean rows keep their exact n_chars
    "q244_permissive_ingest" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
            CAST(sum(CASE WHEN doc_id % 97 <> 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_clean,
            CAST(sum(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_corrupt,
            CAST(sum(CASE WHEN doc_id % 97 <> 0 THEN n_chars ELSE 0 END)
              AS BIGINT) AS clean_sum_chars
          FROM $DocsPq""",

    "q239_orc_roundtrip" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            min(doc_id) AS min_id, max(doc_id) AS max_id
          FROM $DocsPq GROUP BY lang ORDER BY lang""",

    // `//` ≡ div and % ≡ pmod here: gaps and hashes are nonnegative
    "q240_decay_attribution" ->
      s"""WITH conv AS (SELECT user_id, ts AS conv_ts, event_id AS conv_id
            FROM events WHERE event_type = 'purchase'),
          touch AS (SELECT user_id, ts AS touch_ts, event_id AS touch_id
            FROM events WHERE event_type = 'click'),
          j AS (SELECT conv.user_id, conv_id, touch_id,
              datediff('microseconds', touch_ts, conv_ts) // 1000000 AS gap_s
            FROM conv JOIN touch ON conv.user_id = touch.user_id
            WHERE touch_ts <= conv_ts
              AND touch_ts > conv_ts - INTERVAL 3600 SECONDS)
          SELECT user_id, conv_id, touch_id, CAST(gap_s AS BIGINT) AS gap_s,
            CAST(1000000 // (1 << CAST(gap_s // 900 AS INT)) AS BIGINT)
              AS credit_micro
          FROM j ORDER BY conv_id, touch_id""",

    "q241_conversion_ab" ->
      s"""WITH u AS (SELECT user_id,
              max(CASE WHEN event_type = 'purchase' AND value > 150
                THEN 1 ELSE 0 END) AS conv,
              ${Q.sqlTokenHash("'ab_' || CAST(user_id AS VARCHAR)")} % 2 AS arm
            FROM events GROUP BY user_id),
          s AS (SELECT
              sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
              sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
              sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS conv_a,
              sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS conv_b
            FROM u)
          SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
            CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
            round(
              (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
              sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) *
                (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
                (1.0 / n_a + 1.0 / n_b)), 6) AS z_r6
          FROM s""",

    "q242_trimmed_mean" ->
      s"""WITH p AS (SELECT CAST(round(value * 100) AS BIGINT) AS c
            FROM events WHERE event_type = 'purchase'),
          th AS (SELECT quantile_cont(c, 0.05) AS lo,
              quantile_cont(c, 0.95) AS hi FROM p)
          SELECT CAST(count(*) AS BIGINT) AS n_kept,
            round(avg(c), 6) AS trimmed_mean_cents_r6,
            round(max(lo), 6) AS lo_r6, round(max(hi), 6) AS hi_r6
          FROM p CROSS JOIN th WHERE c >= lo AND c <= hi""",

    "q237_schema_evolution" ->
      s"""WITH fin AS (
            SELECT doc_id, lang, n_chars, NULL AS quality_micro
            FROM $DocsPq WHERE doc_id % 10 <> 0
            UNION ALL
            SELECT doc_id, lang, n_chars + 1000000,
              (doc_id % 1000) * 1000
            FROM $DocsPq WHERE doc_id % 10 = 0)
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN quality_micro IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_scored,
            CAST(sum(coalesce(quality_micro, 0)) AS BIGINT) AS sum_quality,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM fin GROUP BY 1 ORDER BY 1""",

    // same micro-rounded Poisson(1) CDF constants as the Spark side;
    // each resample mean is one double division of exact integers
    "q238_bootstrap_ci" ->
      s"""WITH p AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c
            FROM events WHERE event_type = 'purchase'),
          sp AS (SELECT unnest(generate_series(0, 99)) AS bi),
          ww AS (SELECT bi, c,
              (('0x' || substr(md5('boot_' || CAST(event_id AS VARCHAR) ||
                '_' || CAST(bi AS VARCHAR)), 1, 8))::BIGINT) % 1000000 AS u
            FROM p CROSS JOIN sp),
          kk AS (SELECT bi, c,
              CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
                WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
                WHEN u < 999999 THEN 8 ELSE 9 END AS w
            FROM ww),
          m AS (SELECT bi, CAST(sum(w * c) AS DOUBLE) / sum(w) AS m
            FROM kk GROUP BY 1),
          r AS (SELECT m, bi, row_number() OVER (ORDER BY m, bi) AS rn FROM m)
          SELECT CAST(count(*) AS BIGINT) AS n_resamples,
            round(avg(m), 6) AS mean_of_means_r6,
            round(max(CASE WHEN rn = 3 THEN m END), 6) AS ci_lo_r6,
            round(max(CASE WHEN rn = 98 THEN m END), 6) AS ci_hi_r6
          FROM r""",

    "q233_fd_check" ->
      s"""WITH c AS (SELECT count(DISTINCT c_nationkey) AS variants
            FROM customer GROUP BY c_custkey),
          l AS (SELECT count(DISTINCT l_suppkey) AS variants
            FROM lineitem GROUP BY l_partkey)
          SELECT 'customer: custkey->nationkey' AS fd,
            CAST(count(*) AS BIGINT) AS n_groups,
            CAST(sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_violating,
            CAST(max(variants) AS BIGINT) AS max_variants FROM c
          UNION ALL
          SELECT 'lineitem: partkey->suppkey',
            CAST(count(*) AS BIGINT),
            CAST(sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT),
            CAST(max(variants) AS BIGINT) FROM l
          ORDER BY fd""")
}
