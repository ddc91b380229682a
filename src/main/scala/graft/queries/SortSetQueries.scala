package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Relational
import Q._

/** Sorts, top-k, set ops, utility pipelines and the batch form of the
  * windowed event analytics (SURVEY.md §2.5-2.6, §2.9-2.10).
  */
object SortSetQueries {

  val queries: Map[String, QFn] = Map(
    // global sort (`sort_by`, /root/reference/dampr/dampr.py:412-422):
    // range-partitioned total order, strictly stronger than the
    // reference's read-time heap merge.
    "q30_sort" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("total_cents"))
        .orderBy(col("total_cents").desc, col("o_orderkey"))
    }),

    // global top-k (`topk`, dampr/dampr.py:621-652) — plans as
    // TakeOrderedAndProject: O(k) state per partition, no total sort.
    "q31_topk" -> ((s, dir) =>
      Relational.topK(
        t(s, dir, "part").select(col("p_partkey"), col("p_name"), col("p_retailprice")),
        100, col("p_retailprice").desc, col("p_partkey"))),

    // per-group top-k via ranking window — what the reference
    // hand-builds with block mappers (tests/test_dampr.py:239-311).
    "q32_topk_per_group" -> ((s, dir) =>
      Relational.topKPerGroup(
        t(s, dir, "customer").select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal")),
        3, Seq(col("c_mktsegment")), Seq(col("c_acctbal").desc, col("c_custkey")))
        .orderBy(col("c_mktsegment"), col("c_acctbal").desc, col("c_custkey"))),

    // distinct union (`read_input(a,b)` concat + unique, SURVEY §2.6).
    "q33_union" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.union(su).distinct().orderBy(col("nationkey"))
    }),

    // intersect — absent in the reference (SURVEY §2.6), first-class here.
    "q34_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(su).orderBy(col("nationkey"))
    }),

    // except
    "q35_except" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.except(su).orderBy(col("nationkey"))
    }),

    // filter_by_count semi-join idiom (dampr/utils/common.py:2-15):
    // orders of customers with >= 20 orders, then re-aggregated.
    "q36_filter_by_count" -> ((s, dir) => {
      Relational.filterByCount(t(s, dir, "orders"), Seq("o_custkey"), _ >= 20)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_custkey"))
    }),

    // tf-idf pipeline — the reference's flagship benchmark workload
    // (benchmarks/tf-idf-dampr.py:9-21), idf = ln(1 + N/df). ONE
    // tokenize+explode pass: df (docs per token) is derived from the tf
    // frame — tf rows are distinct (doc, token) pairs, so counting them
    // per token (count OVER partition by token) equals
    // countDistinct(doc_id) over the raw token stream, without
    // re-exploding the corpus. The window form costs exactly the one
    // hash(token) exchange the old groupBy-df + join needed, but the
    // vocabulary frame never exists as a join build side — nothing
    // corpus-sized is ever broadcast (the old forced broadcast(df) was
    // the board's one scale-killer: vocabulary grows with the corpus).
    // The only broadcast left is the 1-row n_docs frame.
    "q37_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tok = explodedTokens(docs, "doc_id", "text")
      val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          r6(col("tf") * log(lit(1.0) + col("n_docs") / col("df"))).as("tfidf"))
        .orderBy(col("doc_id"), col("token"))
    }),

    // inverted index build (dampr/utils/indexer.py:35-70): token →
    // sorted postings + term frequency. Postings joined to a string for
    // the driver's comparer (cannot hash array columns).
    "q38_inverted_index" -> ((s, dir) =>
      Relational.invertedIndex(t(s, dir, "documents"), "doc_id", "text")
        .select(col("token"),
          array_join(col("postings").cast("array<string>"), ",").as("postings"),
          col("tf"))
        .orderBy(col("token"))),

    // index intersect retrieval (dampr/utils/indexer.py:94-125): docs
    // matching >= 2 of the probe tokens.
    "q39_index_intersect" -> ((s, dir) => {
      val idx = Relational.invertedIndex(t(s, dir, "documents"), "doc_id", "text")
      Relational.indexIntersect(idx, Seq("spark", "query", "join"), 2)
        .orderBy(col("doc_id"))
    }),

    // index union retrieval (dampr/utils/indexer.py:72-92): ANY-match —
    // docs containing at least one probe token. Completes the Indexer
    // surface's oracle coverage beside q39's intersect.
    "q124_index_union" -> ((s, dir) => {
      val idx = Relational.invertedIndex(t(s, dir, "documents"), "doc_id", "text")
      Relational.indexUnion(idx, Seq("spark", "query", "join"))
        .orderBy(col("doc_id"))
    }),

    // custom DSv2 SINK graded end-to-end (§2.7 write-path parity,
    // dampr/dampr.py:610-637): doc stats go out through the two-phase
    // commit TSV sink (staged task files, driver-side promote +
    // _SUCCESS — see graft.sources.TsvTap) and come back through its
    // read leg (one input split per committed part file), then
    // aggregate. A broken escape, type codec, commit rename or stray
    // uncommitted attempt file changes the counts and the hash.
    "q126_sink_roundtrip" -> ((s, dir) => {
      val stats = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = Q.tempDir("graft_tsv_sink") + "/out"
      stats.write.format("graft.sources.TsvTap").option("path", path)
        .mode("overwrite").save()
      s.read.format("graft.sources.TsvTap").option("path", path)
        .option("schema", "doc_id BIGINT, lang STRING, n_chars BIGINT").load()
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // versioned at-rest table graded end-to-end (operators/Versioned):
    // commit a base corpus snapshot, upsert a batch that OVERLAPS it
    // (keys 300-399 replaced, 400+ appended), read the committed
    // latest back — plus the row count of v0 via time travel, proving
    // the pre-upsert snapshot is still intact at rest. A broken merge,
    // pointer swap or snapshot isolation changes rows or the v0 count.
    "q129_versioned_upsert" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = Q.tempDir("graft_versioned") + "/table"
      graft.operators.Versioned.commit(path, docs.filter(col("doc_id") < 400))
      val updates = docs.filter(col("doc_id") >= 300)
        .withColumn("n_chars", col("n_chars") + 1000000L)
      graft.operators.Versioned.upsert(s, path, updates, "doc_id")
      val v0Rows = graft.operators.Versioned.read(s, path, Some(0L)).count()
      graft.operators.Versioned.read(s, path)
        .withColumn("v0_rows", lit(v0Rows))
        .orderBy(col("doc_id"))
    }),

    // BM25-ranked retrieval over the same probe terms — the ranked
    // flavor of q38/q39 (see Relational.bm25TopK for the one-shuffle
    // fixed-width plan). Ordering is on the round-6 score with doc_id
    // tie-break, so the top-k cut is engine-exact.
    "q109_bm25_topk" -> ((s, dir) =>
      Relational.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "query", "join"), 15)),

    // hybrid retrieval: RRF-fuse the BM25 lexical list with a dense
    // ANN list for query vector 0 (doc_id = vec_id in the testdata) —
    // the two-tower retrieval pattern RAG/curation probes run. Both
    // lists are top-50-bounded before fusion, so the fusion stage is
    // O(100) rows regardless of corpus size.
    "q110_hybrid_rrf" -> ((s, dir) => {
      val bm = Relational.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "query", "join"), 50).withColumnRenamed("bm25", "score")
      val ann = graft.operators.Similarity.bruteForceTopK(t(s, dir, "embeddings"), 0L, 50)
        .select(col("vec_id").as("doc_id"), col("cos_sim").as("score"))
      Relational.rrfFusion(Seq(bm, ann), "doc_id", "score", 10)
    }),

    // tumbling-window event aggregation — the batch semantics of the
    // phase-9 streaming query (SURVEY §2.10; reference has no
    // streaming at all). window() buckets == DuckDB time_bucket.
    "q40_window_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("value_cents"))
        .orderBy(col("wstart"), col("event_type"))
    }),

    // sessionization in batch (gap > 30 min starts a new session):
    // lag + running sum window — the stateful-streaming shape
    // (flatMapGroupsWithState) expressed relationally.
    "q41_sessions" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts").cast("double") - col("prev_ts").cast("double") > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q30_sort" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
         FROM orders ORDER BY total_cents DESC, o_orderkey""",
    "q31_topk" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
         ORDER BY p_retailprice DESC, p_partkey LIMIT 100""",
    "q32_topk_per_group" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer) WHERE rn <= 3
         ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""",
    "q33_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
         UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""",
    "q34_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""",
    "q35_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey""",
    "q36_filter_by_count" ->
      """SELECT o_custkey, count(*) AS n FROM orders
         GROUP BY o_custkey HAVING count(*) >= 20 ORDER BY o_custkey""",
    "q37_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, token FROM ($SqlTok) WHERE token <> ''),
          tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
          df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM $DocsPq)
          SELECT tf.doc_id, tf.token, round(tf.tf * ln(1 + n.n_docs / df.df), 6) AS tfidf
          FROM tf JOIN df USING (token) CROSS JOIN n
          ORDER BY tf.doc_id, tf.token""",
    "q38_inverted_index" ->
      s"""SELECT token, array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings, count(*) AS tf
          FROM ($SqlTok) WHERE token <> '' GROUP BY token ORDER BY token""",
    "q39_index_intersect" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id, token FROM ($SqlTok) WHERE token <> '')
          SELECT doc_id, count(*) AS n_match FROM tok
          WHERE token IN ('spark', 'query', 'join')
          GROUP BY doc_id HAVING count(*) >= 2 ORDER BY doc_id""",
    "q124_index_union" ->
      s"""SELECT DISTINCT doc_id FROM ($SqlTok)
          WHERE token IN ('spark', 'query', 'join') ORDER BY doc_id""",
    // the sink round trip must be value-preserving, so the oracle is
    // simply the same aggregate over the source table
    "q126_sink_roundtrip" ->
      s"""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM $DocsPq GROUP BY lang ORDER BY lang""",
    // upsert semantics spelled in SQL: carried-over base rows (key not
    // in the batch) + the batch; v0_rows = the base snapshot's size
    "q129_versioned_upsert" ->
      s"""WITH base AS (SELECT doc_id, lang, n_chars FROM $DocsPq WHERE doc_id < 400),
          upd AS (SELECT doc_id, lang, n_chars + 1000000 AS n_chars FROM $DocsPq WHERE doc_id >= 300)
          SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
            (SELECT count(*) FROM base) AS v0_rows
          FROM (SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM upd)
                UNION ALL SELECT * FROM upd)
          ORDER BY doc_id""",
    // BM25: Robertson idf with Lucene +1 smoothing, k1=1.2 b=0.75 —
    // the same arithmetic Relational.bm25TopK builds from its one
    // driver stats row; both engines order by the ROUNDED score.
    "q109_bm25_topk" ->
      s"""WITH tok AS (SELECT doc_id, token FROM ($SqlTok) WHERE token <> ''),
          d AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
          tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
                 WHERE token IN ('spark', 'query', 'join') GROUP BY 1, 2),
          dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
          SELECT tf.doc_id,
            round(sum(ln((stats.n - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
              * tf.tf * 2.2
              / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl / stats.avgdl))), 6) AS bm25
          FROM tf JOIN dfx USING (token) JOIN d USING (doc_id) CROSS JOIN stats
          GROUP BY tf.doc_id, stats.n, stats.avgdl
          ORDER BY bm25 DESC, tf.doc_id LIMIT 15""",
    // RRF: ranks re-derived with the same (score desc, id) ordering the
    // engine uses; fused score = sum of 1/(60+rank) over the two lists
    // (two-term double add — order-independent), round-9 tie-break by id.
    "q110_hybrid_rrf" ->
      s"""WITH tok AS (SELECT doc_id, token FROM ($SqlTok) WHERE token <> ''),
          d AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
          tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
                 WHERE token IN ('spark', 'query', 'join') GROUP BY 1, 2),
          dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
          bm AS (SELECT tf.doc_id,
              round(sum(ln((stats.n - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
                * tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl / stats.avgdl))), 6) AS score
            FROM tf JOIN dfx USING (token) JOIN d USING (doc_id) CROSS JOIN stats
            GROUP BY tf.doc_id, stats.n, stats.avgdl
            ORDER BY score DESC, tf.doc_id LIMIT 50),
          q AS (SELECT embedding::DOUBLE[] AS qe FROM $EmbPq WHERE vec_id = 0),
          ann AS (SELECT vec_id AS doc_id,
              round(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS score
            FROM $EmbPq, q WHERE vec_id <> 0
            ORDER BY score DESC, vec_id LIMIT 50),
          u AS (SELECT doc_id, 1.0 / (60 + row_number() OVER (ORDER BY score DESC, doc_id)) AS contrib FROM bm
                UNION ALL
                SELECT doc_id, 1.0 / (60 + row_number() OVER (ORDER BY score DESC, doc_id)) FROM ann)
          SELECT doc_id, round(sum(contrib), 9) AS rrf FROM u
          GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10""",
    "q40_window_events" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, event_type,
         count(*) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""",
    "q41_sessions" ->
      """WITH x AS (SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events)
         SELECT user_id,
           CAST(sum(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           count(*) AS n_events
         FROM x GROUP BY user_id ORDER BY user_id""")
}
