package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Scans, row-level transforms and aggregations (SURVEY.md §2.1-2.3).
  * Each query names the reference op it re-expresses; oracle SQL is the
  * DuckDB-equivalent the driver hash-checks.
  */
object CoreQueries {

  val queries: Map[String, QFn] = Map(
    // TPC-H-Q1-shaped flagship: filter + a_group_by + associative
    // reduces (`a_group_by`/`ARReduce.sum`,
    // /root/reference/dampr/dampr.py:386-404, :701-708). Catalyst plans
    // partial+final HashAggregate — the reference's hand-built combiner.
    "q01_agg_lineitem" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("sum_disc_cents"),
          r4(avg(col("l_quantity"))).as("avg_qty"),
          r4(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // map + filter fused into the scan (`PMap.map`/`filter`,
    // dampr/dampr.py:277-288, :343-356): predicate and projection both
    // push into the parquet reader.
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") && col("l_quantity") < 10)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // flat_map + count: the reference's wordcount flagship
    // (examples/wc.py:11-14) over `documents`.
    "q03_wordcount" -> ((s, dir) => {
      explodedTokens(t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("token"))
    }),

    // per-key count (`count`, dampr/dampr.py:439-448).
    "q04_groupby_count" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // per-key mean (`mean`, dampr/dampr.py:450-467).
    "q05_mean" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment")).agg(r4(avg(col("c_acctbal"))).as("avg_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // fold_by with associative binop (`fold_by`, dampr/dampr.py:406-410):
    // integer-exact sum of quantities per supplier.
    "q06_fold_sum" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey")).agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("l_suppkey"))
    }),

    // per-key distinct values (`PReduce.unique`, dampr/dampr.py:727-746)
    // as a sorted set per key. Emitted as a joined string: the driver's
    // comparer cannot hash array-typed columns.
    "q07_unique_set" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(array_join(sort_array(collect_set(col("c_mktsegment"))), ",").as("segments"))
        .orderBy(col("c_nationkey"))
    }),

    // global count (`len`, dampr/dampr.py:245-275) — kept in-plan as an
    // aggregate rather than a driver-side action.
    "q08_global_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("n"))),

    // deterministic `first` per key (`ARReduce.first`,
    // dampr/dampr.py:693-699): min as the order-stable stand-in.
    "q09_first_per_key" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag")).agg(min(col("l_orderkey")).as("first_key"))
        .orderBy(col("l_returnflag"))
    }),

    // whole-row distinct (`unique` at row level).
    "q10_distinct_rows" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // deterministic sample: the reference samples with a time-seeded
    // RNG (dampr/dampr.py:969-976); for oracle parity we sample by key
    // modulus, which is also the cross-engine-reproducible idiom.
    "q11_sample_mod" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(20)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), cents(col("o_totalprice")).as("total_cents"))
        .orderBy(col("o_orderkey"))
    }),

    // JSON ingestion (`Dampr.json`, dampr/dampr.py:897-902): extract a
    // typed field from the `events.props` JSON string.
    "q12_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy(col("event_id"))
    }),

    // the reference's flagship entry point (examples/wc.py:11-17)
    // driven END-TO-END through the typed Pipe surface — flatMap →
    // foldBy (an in-mapper combiner per partition, then reduceGroups'
    // partial/final ObjectHashAggregate on the combined rows) → sortBy
    // — and graded against q03's oracle, proving the Dataset-combinator
    // surface computes exactly what the SQL surface does. Closure
    // tokenization mirrors Q.tokens: lowercase, split single spaces,
    // drop empties.
    "q123_pipe_wordcount" -> ((s, dir) => {
      import s.implicits._
      graft.Pipe.fromDataset(t(s, dir, "documents").select(col("text")).as[String])
        .flatMap(_.toLowerCase(java.util.Locale.ROOT).split(" ").iterator.filter(_.nonEmpty))
        .map(tok => (tok, 1L))
        .foldBy(_._1) { case ((tok, a), (_, b)) => (tok, a + b) }
        .map { case (tok, (_, cnt)) => (tok, cnt) }
        .sortBy(_._1)
        .ds.toDF("token", "cnt")
    }))

  val oracleSql: Map[String, String] = Map(
    "q01_agg_lineitem" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS revenue_cents
         FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber""",
    "q03_wordcount" ->
      s"""SELECT token, count(*) AS cnt FROM ($SqlTok) WHERE token <> ''
          GROUP BY token ORDER BY token""",
    "q04_groupby_count" ->
      "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "q05_mean" ->
      """SELECT c_mktsegment, round(avg(c_acctbal), 4) AS avg_bal
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q06_fold_sum" ->
      """SELECT l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""",
    "q07_unique_set" ->
      """SELECT c_nationkey, array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q08_global_count" ->
      "SELECT count(*) AS n FROM lineitem",
    "q09_first_per_key" ->
      """SELECT l_returnflag, min(l_orderkey) AS first_key
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q10_distinct_rows" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q11_sample_mod" ->
      """SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
         FROM orders WHERE o_orderkey % 20 = 0 ORDER BY o_orderkey""",
    "q12_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""",
    // same oracle as q03 — the Pipe surface must reproduce it exactly
    "q123_pipe_wordcount" ->
      s"""SELECT token, count(*) AS cnt FROM ($SqlTok) WHERE token <> ''
          GROUP BY token ORDER BY token""")
}
