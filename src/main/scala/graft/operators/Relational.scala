package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DataFrame-first relational operator pack (SURVEY.md §2.2-2.6, §2.9).
  * These are the Catalyst-optimizable lowerings of the reference's DSL
  * ops — filters/projections stay as `Column` expressions so predicate
  * pushdown, column pruning and whole-stage codegen all survive.
  */
object Relational {

  /** Global top-k: `topk` (`/root/reference/dampr/dampr.py:621-652`).
    * `orderBy.limit(k)` plans as `TakeOrderedAndProject` — the same
    * per-partition bounded heap + final merge the reference hand-rolls,
    * but without materializing a total sort. O(n) scan, O(k) state per
    * partition: holds at 100 TB since only k rows per partition reach
    * the driver-side merge.
    */
  def topK(df: DataFrame, k: Int, ordering: Column*): DataFrame =
    df.orderBy(ordering: _*).limit(k)

  /** Per-group top-k via ranking window — the capability the reference
    * composes by hand with block mappers/reducers
    * (`/root/reference/tests/test_dampr.py:239-311`). One shuffle on
    * the partition keys; rank filter is applied streaming per group.
    */
  def topKPerGroup(df: DataFrame, k: Int, partitionCols: Seq[Column], ordering: Seq[Column]): DataFrame =
    df.withColumn("_rank", row_number().over(Window.partitionBy(partitionCols: _*).orderBy(ordering: _*)))
      .filter(col("_rank") <= k)
      .drop("_rank")

  /** Deterministic per-group uniform subsample: rank rows inside each
    * group by a salted md5 of their id — a fixed pseudorandom order any
    * engine can recompute — and keep k. The "N documents per
    * language/source" curation primitive: reproducible across runs and
    * engines, one shuffle on the group keys, no RNG state.
    */
  def samplePerGroup(df: DataFrame, groupCols: Seq[Column], k: Int, idCol: Column): DataFrame =
    topKPerGroup(df, k, groupCols, Seq(md5(concat_ws("_", lit("smp"), idCol)).asc, idCol.asc))

  /** `filter_by_count` (`/root/reference/dampr/utils/common.py:2-15`):
    * keep rows whose key frequency passes a predicate. Lowered to an
    * aggregate + semi-join on the key — the aggregate output is tiny
    * (distinct keys), so AQE turns the join broadcast when it fits.
    */
  def filterByCount(df: DataFrame, keyCols: Seq[String], countPred: Column => Column): DataFrame = {
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_n"))
      .filter(countPred(col("_n")))
      .select(keyCols.map(col): _*)
    df.join(counts, keyCols, "left_semi")
  }

  /** Inverted index build (`/root/reference/dampr/utils/indexer.py:35-70`
    * re-imagined relationally): token → sorted postings list of doc
    * ids. Parquet-backed instead of per-file SQLite; `collect_list`
    * after an explode keeps one shuffle on the token.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.functions.Tokenize.exploded(docs, col(idCol), col(textCol))
      .groupBy("token")
      .agg(sort_array(collect_set(col(idCol))).as("postings"), count(lit(1)).as("tf"))

  /** Index retrieval, ANY-match — `Indexer.union`
    * (`/root/reference/dampr/utils/indexer.py:72-92`).
    */
  def indexUnion(index: DataFrame, keys: Seq[String]): DataFrame =
    index.filter(col("token").isin(keys: _*))
      .select(explode(col("postings")).as("doc_id")).distinct()

  /** Index retrieval, at-least-m-match — `Indexer.intersect`
    * (`/root/reference/dampr/utils/indexer.py:94-125`).
    */
  def indexIntersect(index: DataFrame, keys: Seq[String], minMatch: Int): DataFrame =
    index.filter(col("token").isin(keys: _*))
      .select(explode(col("postings")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_match"))
      .filter(col("n_match") >= minMatch)

  /** BM25-ranked top-k retrieval (Robertson/Sparck Jones idf with the
    * Lucene-style `+1` smoothing and `(k1+1)` numerator) for a
    * bag-of-words query — the RANKED flavor of [[indexUnion]]/
    * [[indexIntersect]], and the ad-hoc probe curation pipelines run
    * against a corpus (targeted decontamination, quality spot-checks)
    * when no index is at rest. One pass, one shuffle: per-doc length
    * AND per-query-term frequencies come out of a single map-side-
    * combined aggregation whose rows are fixed-width longs (the term
    * columns are literal conditionals — no token strings shuffle);
    * corpus stats (N, avgdl, per-term df) reduce to ONE driver row off
    * the cached frame, ride into the scoring projection as literals,
    * and the ranking is TakeOrdered bounded by `k`. Ordering is on the
    * ROUNDED score (ties broken by id) so the ranking is engine-exact.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 64, "bm25TopK: 1..64 query terms")
    val toks = graft.functions.Tokenize.exploded(docs, col(idCol), col(textCol))
    val tfCols = terms.map(t =>
      sum(when(col("token") === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val agged = graft.GraftCache.registered(
      toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"), tfCols: _*))
    val statCols = avg(col("dl")).as("avgdl") +:
      terms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val st = agged.agg(count(lit(1)).as("n"), statCols: _*).head()
    val n = st.getAs[Long]("n").toDouble
    val avgdl = st.getAs[Double]("avgdl")
    val score = terms.map { t =>
      val idf = math.log((n - st.getAs[Long](s"df_$t") + 0.5) /
        (st.getAs[Long](s"df_$t") + 0.5) + 1.0)
      val tf = col(s"tf_$t").cast("double")
      lit(idf) * tf * (k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    }.reduce(_ + _)
    agged.filter(terms.map(t => col(s"tf_$t") > 0).reduce(_ || _))
      .select(col(idCol), round(score, 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol)).limit(k)
  }

  /** Skew-resilient inner equi-join: the big side gets a deterministic
    * per-row salt (hash of the whole row, mod `salts`), the small side
    * is replicated `salts` ways, and the join key becomes (key, salt) —
    * so one hot key's rows spread over `salts` shuffle partitions
    * instead of hot-spotting one task. Results are exactly the plain
    * join's (every salted big row meets its key's every small row in
    * exactly one salt bucket).
    *
    * When to reach for this at 100 TB: AQE's skew-join handles
    * sort-merge skew by splitting oversized partitions at runtime, on by
    * default in Spark 4 (not a [[graft.GraftSession]] setting) — prefer
    * that for plain joins.
    * Explicit salting is the remaining lever when the skewed side must
    * ALSO feed a hash-partitioned downstream op on the same key (AQE
    * splits would be re-merged by the reuse), when the join is
    * shuffle-hash (AQE skew handling is SMJ-shaped), or when the salt
    * should persist into a bucketed layout. The cost is explicit:
    * `salts`× replication of the small side — same trade as q73's
    * salted aggregation ([[graft.queries.CoreQueries]]).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String, smallKey: String,
      salts: Int): DataFrame = {
    require(salts >= 1, "saltedJoin: salts >= 1")
    val salted = big.withColumn("_salt",
      pmod(hash(big.columns.toIndexedSeq.map(col): _*), lit(salts)))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated,
        salted(bigKey) === replicated(smallKey) && salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }

  /** Data-quality rule report: each rule is (name, violation
    * predicate); ONE aggregation pass over the table emits every
    * rule's violation count (`sum(when(pred, 1))` columns, map-side
    * combined), stack-unpivoted to a row per rule. The
    * ingest-gate companion of [[numericProfile]]: rules are ordinary
    * `Column` predicates, so anything expressible in the engine
    * (ranges, set membership, regex, null checks, cross-column
    * comparisons) costs the same single scan regardless of rule
    * count. Cross-TABLE rules (referential integrity) are anti-join
    * counts — compose them beside this per-table pass.
    */
  def qualityReport(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "qualityReport: at least one rule")
    val aggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(pred, 1L).otherwise(0L)).as(s"r_$i") }
    val stackArgs = rules.zipWithIndex
      .map { case ((name, _), i) => s"'$name', r_$i" }.mkString(", ")
    df.agg(count(lit(1)).cast("long").as("n_rows"), aggs: _*)
      .selectExpr("n_rows",
        s"stack(${rules.size}, $stackArgs) AS (rule, n_violations)")
  }

  /** Order-independent content checksum of a table projection: per row,
    * the 32-bit md5-prefix hash of a canonical `|`-joined rendering of
    * the columns (nulls rendered as a sentinel), summed exactly. Any
    * engine that agrees on the canonical string computes the identical
    * (n_rows, checksum) pair in ANY row order and ANY partitioning —
    * the cheap replication/migration verdict ("did the copy arrive
    * intact?") that doesn't need a sorted diff of two 100 TB tables.
    * One scan, map-side combined to two longs per partition.
    *
    * A checksum, not an identity: `|` inside string values (and string
    * values equal to the null sentinel) canonicalize ambiguously, and
    * colliding row multisets exist — the verdict is probabilistic the
    * way every content hash is.
    *
    * Wrap behavior is part of the contract: the per-row 32-bit values
    * accumulate in DECIMAL(38,0) (exact past any row count — a plain
    * long sum would silently wrap mod 2^64 past ~2^31 rows while an
    * ANSI/HUGEINT engine raises, so the two replicas being compared
    * could diverge on the very verdict this computes) and the
    * published checksum is that exact sum mod 2^63-25 (the largest
    * prime below 2^63 — fits BIGINT in every engine). Below ~2^31
    * rows the modulus is inert and the checksum equals the plain sum.
    */
  val ChecksumModulus = 9223372036854775783L // largest prime < 2^63

  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableChecksum: at least one column")
    val canon = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("<NULL>"))): _*)
    df.agg(count(lit(1)).cast("long").as("n_rows"),
      pmod(sum(graft.plans.Md5Prefix32.md5prefix32(canon).cast("decimal(38,0)")),
        lit(new java.math.BigDecimal(ChecksumModulus))).cast("long").as("checksum"))
  }

  /** Inner-equi-join output size WITHOUT executing the join:
    * |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k), computed from the two per-key
    * count frames. The count frames are distinct-key-sized (map-side
    * combined), so the cost is two aggregates plus a key-count join —
    * at 100 TB that is the difference between a planning probe and
    * materializing a possibly-exploding join. This is the
    * pre-flight check before a risky join: a blown-up estimate
    * (hot-key product) says "salt it ([[saltedJoin]]) or rethink"
    * BEFORE the 10-hour shuffle, and the per-key products this sums
    * are exactly the skew diagnostic ordered by contribution.
    *
    * Returns one row: est rows, distinct join keys, and the largest
    * single-key contribution (the skew headline).
    */
  def joinSize(a: DataFrame, b: DataFrame, aKey: String, bKey: String): DataFrame = {
    val ca = a.groupBy(col(aKey).as("k")).agg(count(lit(1)).as("na"))
    val cb = b.groupBy(col(bKey).as("k")).agg(count(lit(1)).as("nb"))
    ca.join(cb, "k")
      .select((col("na") * col("nb")).as("prod"))
      .agg(sum(col("prod")).as("join_rows"),
        count(lit(1)).as("n_join_keys"),
        max(col("prod")).as("max_key_rows"))
  }

  /** Exact phrase search over a POSITIONAL token index — the retrieval
    * primitive [[invertedIndex]]'s bag-of-words postings cannot answer
    * (adjacency is lost once positions are dropped). Tokens explode
    * with their position; each phrase term becomes one selective leg
    * `(doc, pos - i)` and an occurrence is a (doc, start) key all legs
    * share — the standard positional-postings intersection, expressed
    * as |phrase| keyed equi-joins.
    *
    * Scale posture: each leg's volume is that TERM's posting count,
    * not the corpus (with an at-rest index the scan prunes to the
    * queried terms; inline, the filter collapses the exploded stream
    * map-side), and the joins key on (doc, start) so co-partitioned
    * legs never fan out — an occurrence can only exist where the
    * rarest term occurs, bounding everything by min posting size.
    * Overlapping matches count (start positions differ), duplicates
    * cannot (one row per (doc, start) per leg by construction).
    *
    * Returns one row per matching doc: hit count + first match
    * position (1-based).
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty && phrase.size <= 16, "phraseSearch: 1..16 terms")
    // conjunctive substring prefilter: a doc missing any term as a raw
    // substring cannot match the tokenized phrase, and `contains` is a
    // codegen'd scan predicate — at corpus scale this drops almost
    // everything BEFORE the (non-codegen) tokenize+explode runs
    val candidates = docs.filter(
      phrase.map(t => lower(col(textCol)).contains(t)).reduce(_ && _))
    // ONE explode pass shared by every leg (the first cut re-ran the
    // corpus explode once per term — 3x the whole-scan cost at x1000);
    // only the phrase terms' postings persist, which is index-sized
    val pos = graft.GraftCache.registered(
      candidates.select(col(idCol).as("id"),
          posexplode(graft.functions.Tokenize.arr(col(textCol))).as(Seq("p", "token")))
        .filter(col("token").isin(phrase.distinct: _*)))
    val legs = phrase.zipWithIndex.map { case (term, i) =>
      pos.filter(col("token") === term).select(col("id"), (col("p") - i).as("start"))
    }
    legs.reduce((a, b) => a.join(b, Seq("id", "start")))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("int").as("n_hits"),
        (min(col("start")) + 1).cast("int").as("first_pos"))
  }

  /** One-pass numeric column profiler — the "what is in this table"
    * sweep every ingest/audit pipeline runs before anything else: per
    * column, non-null count, exact distinct count, min/max/sum in
    * integer micro-units (exact in any aggregation order, so the
    * profile hashes identically across engines). ONE aggregation job
    * over the table produces a single wide row; `stack` unpivots it to
    * a (column, metrics) row per profiled column — the table is
    * scanned once no matter how many columns are profiled.
    *
    * The exact distinct counts plan as one Expand-based multi-distinct
    * aggregate (rows replicate per distinct column). At 100 TB swap
    * `countDistinct` for `approx_count_distinct` — same single pass,
    * no Expand, HLL-sized state; micro sums of huge corpora may also
    * need decimal(38) instead of long. The exact form here is what the
    * cross-engine gate can hash.
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "numericProfile: at least one column")
    def micro(c: String) = round(col(c).cast("double") * 1e6).cast("long")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c"),
      min(micro(c)).as(s"mn_$c"),
      max(micro(c)).as(s"mx_$c"),
      sum(micro(c)).as(s"sm_$c")) }
    val stackArgs = cols.map(c => s"'$c', nn_$c, nd_$c, mn_$c, mx_$c, sm_$c")
      .mkString(", ")
    df.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .selectExpr("n_rows",
        s"stack(${cols.size}, $stackArgs) AS " +
          "(col_name, n_nonnull, n_distinct, min_micro, max_micro, sum_micro)")
  }

  /** Bloom-pruned inner equi-join: build a Bloom filter over the small
    * side's keys (driver-held, kilobytes at any corpus size for a
    * bounded small side), broadcast it, and drop big-side rows that
    * cannot match BEFORE the join's shuffle. False positives survive
    * the prefilter and are removed by the exact join, so the result is
    * exactly the plain inner join's — the bloom only decides how many
    * non-matching rows pay shuffle I/O. At 100 TB this is the
    * difference between shuffling the whole fact table and shuffling
    * the ~matching slice when the small side is selective but too big
    * to broadcast-join outright.
    *
    * Spark's own runtime bloom join (`spark.sql.optimizer.runtime.
    * bloomFilter.enabled`, a Spark 4 default that [[graft.GraftSession]]
    * leaves alone) covers the
    * planner-visible case; reach for the explicit form when the small
    * side comes from a computation Catalyst can't see through (an
    * at-rest index, a collected driver artifact) or the filter should
    * be built once and reused across several probes.
    *
    * `expectedKeys <= 0` counts the small side first (one cheap
    * aggregate of the side that is small by contract).
    */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, expectedKeys: Long = 0L, fpp: Double = 0.03): DataFrame = {
    val exp = if (expectedKeys > 0) expectedKeys else math.max(1L, small.count())
    val bf = small.stat.bloomFilter(smallKey, exp, fpp)
    val bc = big.sparkSession.sparkContext.broadcast(bf)
    val keyIsString =
      big.schema(bigKey).dataType == org.apache.spark.sql.types.StringType
    val might =
      if (keyIsString) udf((k: String) => k != null && bc.value.mightContainString(k))
      else udf((k: java.lang.Long) => k != null && bc.value.mightContainLong(k))
    val keyIn = if (keyIsString) col(bigKey) else col(bigKey).cast("long")
    big.filter(might(keyIn))
      .join(small, big(bigKey) === small(smallKey))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of several
    * retrieval lists: each input is (id, score, higher-better), rank is
    * re-derived inside the fusion with the engine-exact (score desc, id)
    * ordering, and the fused score is Σ 1/(c + rank). The inputs are
    * top-k-bounded lists (the product of [[bm25TopK]] / ANN searches),
    * so the single-partition ranking windows and the fusion aggregation
    * touch O(lists·k) rows total — at 100 TB all the scale lives in the
    * retrieval stages, which have already reduced to k rows each; the
    * fusion itself is constant-size by construction. The fused score is
    * rounded (ties broken by id) so the final cut is engine-exact: with
    * a handful of lists the sum is a commutative add of ≤ |lists|
    * doubles, identical in any evaluation order.
    */
  def rrfFusion(rankings: Seq[DataFrame], idCol: String, scoreCol: String,
      k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFusion: at least one ranking")
    val w = Window.orderBy(col(scoreCol).desc, col(idCol))
    rankings
      .map(_.select(col(idCol),
        (lit(1.0) / (lit(c.toDouble) + row_number().over(w))).as("contrib")))
      .reduce(_ union _)
      .groupBy(col(idCol)).agg(round(sum(col("contrib")), 9).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol)).limit(k)
  }
}
