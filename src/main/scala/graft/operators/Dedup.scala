package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard. All hashing derives from md5
  * (engine-portable, see `graft.queries.Q.tokenHash`) so every operator
  * is DuckDB-oracle-checkable, and all are expressed as Column
  * pipelines — integer arithmetic end to end, so results are
  * bit-identical across engines.
  *
  * Scale design: the only quadratic step anywhere is *within an LSH
  * bucket / band group*, never across the corpus. At 100 TB: shingling
  * and signatures are map-side expressions; the band-bucket self-join
  * shuffles once on the band key; candidate verification touches only
  * bucket-cohabiting pairs.
  *
  * Cache lifetime: the pair pipelines persist intermediate frames that
  * are read more than once (signature sets, verified pairs). Every such
  * persist is tracked by [[graft.GraftCache]] — long-lived sessions
  * running many pipelines call `GraftCache.releaseAll()` after each
  * terminal action to drop exactly the graft-created entries without
  * touching user caches.
  */
object Dedup {

  /** Fail fast when a blocking bucket is large enough to make the
    * within-bucket quadratic step explode. Exact blocked variants
    * ([[ngramJaccardPairs]], label-blocked embedding near-dup) check
    * their block populations against `graft.block.maxBucket` (session
    * conf, default 100000 ≈ 5e9 candidate pairs per bucket) before
    * planning the self-join; the LSH twins have no such cliff because
    * bucket cohabitation is bounded by similarity, not corpus size.
    * The check is one count aggregate over `blocks` — which the callers
    * persist anyway, so the scan is not wasted work.
    */
  private[graft] def requireBoundedBlocks(blocks: DataFrame, keys: Seq[Column],
      lshAlternative: String): Unit = {
    val spark = blocks.sparkSession
    val key = "graft.block.maxBucket"
    val limit = spark.conf.getOption(key).map { raw =>
      val n = try raw.trim.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$key must be a positive integer, got '$raw'")
      }
      if (n <= 0) throw new IllegalArgumentException(s"$key must be a positive integer, got '$raw'")
      n
    }.getOrElse(100000L)
    val top = blocks.groupBy(keys: _*).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(1).collect()
    top.headOption.foreach { r =>
      val n = r.getLong(r.length - 1)
      if (n > limit) {
        val bucket = keys.indices.map(i => s"${keys(i)}=${r.get(i)}").mkString(", ")
        throw new IllegalArgumentException(
          s"blocking bucket ($bucket) holds $n rows > $key=$limit: the within-bucket " +
            s"pair join would materialize ~${n * n / 2} candidates. Use $lshAlternative " +
            s"(bucket size bounded by similarity, not corpus size), or raise $key.")
      }
    }
  }

  /** 31-bit base hash shared bit-for-bit with DuckDB — the single
    * definition lives in [[TextFunctions.h31]] (codegen kernel, no hex
    * string intermediate); forwarded here for the dedup call sites.
    */
  def h31(c: Column): Column = graft.functions.TextFunctions.h31(c)

  /** 2^31 - 1: products with 31-bit multipliers stay below 2^63, so the
    * same expression is overflow-free in Spark longs and DuckDB BIGINTs.
    */
  val P = 2147483647L
  val MinhashA: Seq[Long] = Seq(1299721L, 15485863L, 32452843L, 49979687L, 67867967L, 86028121L, 104395301L, 122949823L)
  val MinhashB: Seq[Long] = Seq(7368787L, 104729L, 41729L, 6291469L, 193877777L, 10619863L, 413158511L, 201326611L)

  def permuted(h: Column, i: Int): Column =
    pmod(lit(MinhashA(i)) * h + lit(MinhashB(i)), lit(P))

  /** Exact duplicate groups: one surviving id + copy count per distinct
    * normalized text. Single hash-aggregate; at scale, grouping on the
    * 128-bit fingerprint means the shuffle carries 16 bytes, not the
    * document.
    */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Hashed 3-word shingles: (doc_id, h) with h = 31-bit md5-derived
    * hash. The single expensive map-side pass (tokenize + shingle +
    * md5) that every minhash stage derives from. Shingling runs as a
    * typed flatMap (sliding window over the token array): ~3x faster
    * than the `transform`/`element_at` higher-order-function form,
    * whose lambda evaluation falls out of whole-stage codegen. The
    * md5 hash stays an expression (codegen kernel).
    */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        val tk = graft.functions.Tokenize.closure(text)
        if (tk.length < 3) Iterator.empty
        else tk.sliding(3).map(s => (id, s.mkString(" ")))
      }
      .toDF("doc_id", "shingle")
      .select(col("doc_id"), h31(col("shingle")).as("h"))
  }

  /** MinHash signatures from hashed shingles: doc_id, mh0..mh{k-1}.
    * One grouped min-aggregate (map-side combined), k permutations as
    * expressions over the same base hash.
    */
  def signaturesFromHashes(sh: DataFrame, k: Int = 8): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(min(permuted(col("h"), 0)).as("mh0"),
        (1 until k).map(i => min(permuted(col("h"), i)).as(s"mh$i")): _*)

  /** MinHash signatures over 3-word shingles: doc_id, mh0..mh{k-1}. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame =
    signaturesFromHashes(shingleHashes(docs, idCol, textCol), k)

  /** [[signaturesFromHashes]] over the index-generated affine family —
    * any width k, no constant table (the [[permutedAffine]] family),
    * so contract-derived geometries like [[minhashGeometryFor]]'s
    * (3, 10) = 30 permutations are expressible.
    */
  def signaturesFromHashesAffine(sh: DataFrame, k: Int): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(min(permutedAffine(col("h"), 0)).as("mh0"),
        (1 until k).map(i => min(permutedAffine(col("h"), i)).as(s"mh$i")): _*)

  /** (doc_id, band, band_key) rows for a signature frame — the banding
    * used by [[minhashCandidates]] and stored at rest by
    * [[writeDedupIndex]] (ONE definition, so in-session pairs and
    * index-probe candidates can never disagree on bucketing).
    */
  def bandKeys(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    def key(b: Int): Column =
      concat_ws("_", (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i")): _*)
    // posexplode over bands, not a union of per-band branches: one
    // scan emits every band key per row and partition count stays
    // flat — a b-way union concatenates partitions, which at the
    // budget advisor's 39 bands multiplies task count for no work.
    // bands == 1 (full-signature match, the q72 family) skips the
    // generator entirely: a one-element posexplode is a pure per-row
    // generator-node tax (measured ~2x on the candidate stage).
    if (bands == 1)
      sigs.select(col("doc_id"), lit(0).as("band"), key(0).as("band_key"))
    else
      sigs.select(col("doc_id"),
        posexplode(array((0 until bands).map(key): _*)).as(Seq("band", "band_key")))
  }

  /** LSH banding: candidate pairs = docs agreeing on an entire band of
    * the signature. Bands are hashed to one key column and self-joined
    * on (band, band_key) — the shuffle key is the bucket, so
    * cross-corpus pairs never materialize.
    *
    * The banded frame is skinny (doc_id, band, key) and read by both
    * join sides. At CONTRACT geometries (double-digit bands — the
    * frame is bands× the corpus) it is persisted partitioned ON the
    * join key, so the cache's HashPartitioning satisfies both sides
    * and the candidate stage needs no exchange. At narrow legacy
    * geometries the cache is MISPRICED: both join sides are the
    * identical subtree, so Catalyst already reuses one exchange
    * (ReusedExchange), and the cache insert (write + two cache reads)
    * costs more than the nothing it saves — r12's unconditional
    * persist took q72 (bands = 1) from 0.37 s to 2.02 s with no code
    * change to the query. Gate: persist only at
    * `bands >= graft.dedup.bandCacheMinBands` (default 8 — between
    * the legacy 1–4 band family and the shallowest contract geometry;
    * measured break-even in NOTES_r13).
    */
  def minhashCandidates(sigs: DataFrame, k: Int = 8, bands: Int = 2): DataFrame = {
    val minBands = sigs.sparkSession.conf
      .get("graft.dedup.bandCacheMinBands", "8").toInt
    // The narrow branch deliberately does NOT pin a shuffle join the
    // way [[simhashPairs]] does. The simhash trap (Generate's size
    // estimate is its child's, so a huge banded frame can still plan
    // as a broadcast self-join with no exchange) does not transfer:
    // simhash band keys live in a FIXED 2^h keyspace, so buckets grow
    // linearly with corpus size and within-bucket pairs quadratically —
    // a mis-planned broadcast join concentrates saturating work on few
    // partitions. MinHash band keys are open-ended hash strings;
    // bucket population tracks duplicate-cluster size, not corpus
    // size, and the 72B/row signature frame crosses the broadcast
    // threshold (→ planned exchanges + ReusedExchange) long before
    // candidate volume is large. Measured: forcing merge here costs
    // the narrow family 1.6x at sf0.1 (6.06 → 9.41 s over
    // q51/q67/q72/q115) for no x100 change.
    val banded =
      if (bands >= minBands)
        graft.GraftCache.registered(
          bandKeys(sigs, k, bands).repartition(col("band"), col("band_key")))
      else bandKeys(sigs, k, bands)
    val cand = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.band_key") === col("r.band_key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
    // the distinct exists because a pair can cohabit SEVERAL bands; at
    // bands == 1 (full-signature blocking, the q72 family) the join
    // emits each pair exactly once and the distinct would shuffle the
    // entire candidate set for nothing — at the x100 soak tier that
    // set is ~16M rows
    if (bands == 1) cand else cand.distinct()
  }

  /** Exact Jaccard over shingle sets for candidate pairs — the verify
    * step after LSH banding.
    */
  def jaccardVerify(docs: DataFrame, candidates: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    jaccardVerifyHashed(shingleHashes(docs, idCol, textCol), candidates, threshold)

  /** Jaccard verification over *hashed* shingle sets: set arithmetic on
    * longs instead of 3-word strings (identical result modulo 31-bit
    * collisions; the oracle computes the same hashed form). Much
    * cheaper arrays to intersect, and `sh` can be a persisted frame
    * shared with signature computation.
    */
  def jaccardVerifyHashed(sh: DataFrame, candidates: DataFrame, threshold: Double): DataFrame =
    verifyCandidatesWithSets(candidates,
      // int sets: h is a 31-bit hash, so the cast is lossless and the
      // sort order is unchanged — §2.3 narrower types, halves the hs
      // payload the verify joins replicate per candidate pair (the
      // dominant bytes of every blocked-Jaccard verify at soak tiers)
      sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("h").cast("int"))).as("hs")), threshold)

  /** Shared verify tail: attach each candidate pair's (doc_id, hs) hash
    * sets via two hash joins (AQE broadcasts the set side when it
    * fits — per-pair arrays never cross a shuffle) and keep pairs at or
    * above the Jaccard threshold.
    *
    * `hs` must be SORTED sets (every producer sorts once per doc at
    * aggregation): the per-pair Jaccard is then one merge scan
    * ([[graft.plans.SortedIntersectCount]]) plus the set identity
    * |A ∪ B| = |A| + |B| - |A ∩ B| — versus `array_intersect` +
    * `array_union`, which build two hash sets per PAIR (measured ~3x
    * on the q53 verify loop; value-identical, pinned in PlanSpec).
    */
  private def verifyCandidatesWithSets(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    scoredCandidates(cand, sets)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Candidate pairs annotated with (|A ∩ B|, |A|, |B|) — the shared
    * scoring shape both the Jaccard and the containment verify tails
    * project their metric from.
    */
  private def scoredCandidates(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.plans.SortedIntersectCount.sorted_intersect_count(col("hs_a"), col("hs_b")).as("inter"),
        size(col("hs_a")).as("na"), size(col("hs_b")).as("nb"))

  /** End-to-end MinHash near-dup pipeline over 3-word shingles — see
    * [[pairsFromHashes]] for the shared shuffle-minimal shape (one
    * persisted signature/set aggregation, skinny band-join candidates,
    * broadcastable set attachment).
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, bands: Int = 2, threshold: Double = 0.6): DataFrame =
    pairsFromHashes(shingleHashes(docs, idCol, textCol), k, bands, threshold)

  /** The MinHash+LSH pair pipeline over any (doc_id, h) hashed feature
    * frame — shared by the shingle variant ([[minhashPairs]]) and the
    * token variant ([[ngramJaccardPairsLsh]]). LSH bounds bucket
    * cohabitation by SIMILARITY — which still saturates when the corpus
    * holds huge classes of (near-)identical feature sets: a class of m
    * same-signature docs yields m^2/2 verified pairs no matter how the
    * candidates are found (measured: SOAK.json q72 bends superlinearly
    * on the synthetic corpus, whose ~31-token vocabulary makes whole
    * token SETS collide). The standard composition collapses exact
    * duplicates first ([[exactDupGroups]], as CorpusPipeline.clean
    * does) so LSH only ever sees one representative per identical
    * class. ONE aggregation computes
    * the k signature mins AND the shingle set per doc (persisted, so
    * both derivations read it once); the band self-join then carries
    * only (doc_id, band_key) — candidate pairs are deduped while still
    * skinny, and the hash sets are attached by two hash joins (AQE
    * broadcasts the set side when it fits) so per-pair arrays never
    * cross a shuffle. On high-collision corpora this is the difference
    * between shuffling kilobytes and shuffling the candidate arrays.
    */
  def pairsFromHashes(sh: DataFrame, k: Int, bands: Int, threshold: Double): DataFrame = {
    // hs as array<int>: the 31-bit hash is lossless in an int and the
    // sort order is unchanged — §2.3 narrower types, halves the set
    // payload in the cached frame and in the verify joins' replication
    val sigSets = graft.GraftCache.registered(sh.groupBy(col("doc_id"))
      .agg(min(permuted(col("h"), 0)).as("mh0"),
        (1 until k).map(i => min(permuted(col("h"), i)).as(s"mh$i")) :+
          sort_array(collect_set(col("h").cast("int"))).as("hs"): _*))
    // band join + skinny-candidate dedup and the verify tail are the
    // single shared implementations — the extra hs column rides along
    // harmlessly through minhashCandidates' projection
    verifyCandidatesWithSets(minhashCandidates(sigSets, k, bands),
      sigSets.select(col("doc_id"), col("hs")), threshold)
  }

  /** Affine MinHash permutation `i` over the 31-bit base hash — the
    * same arithmetic family the simhash bit votes use, so ANY number
    * of permutations can be generated from the index alone (the fixed
    * [[MinhashA]]/[[MinhashB]] lists stop at 8) and a SQL oracle can
    * replay permutation i without a constant table. Multipliers stay
    * < 2^21 for any realistic i, so `mult * h < 2^52` never overflows
    * a long or a DuckDB BIGINT.
    */
  def permutedAffine(h: Column, i: Int): Column =
    pmod(lit(1299721L + 2L * i) * h + lit(104729L * (i + 1L)), lit(P))

  /** Rows-per-band for an `n`-doc corpus (2 bands): the smallest r ≥ 4
    * with n / 2^r ≤ `targetBucket`, capped at 16 — integer-exact via
    * [[graft.operators.Similarity.planesFor]] so the SQL oracle
    * replays the identical width. The model treats per-row signature
    * agreement of NON-near-dup pairs as ≤ 1/2 (adversarially high —
    * real shingle-set Jaccard of random pairs is far lower), so
    * expected accidental band cohabitation stays ~targetBucket as the
    * corpus grows. The trade this buys candidate volume with is the
    * standard LSH S-curve shift: near-exact duplicate classes
    * (J ≈ 1 — what corpus boilerplate actually is) keep recall ~1 at
    * any r, while partial overlaps near the threshold lose candidate
    * recall as r grows (P ≈ 1-(1-J^r)^2). Workloads needing a FIXED
    * recall floor at a given threshold should derive (rows, bands)
    * from the contract with [[minhashGeometryFor]] and pass them to
    * [[minhashPairs]]/[[pairsFromHashesAffine]]; [[lshRecallAudit]]
    * (q253) measures the resulting curve on the actual corpus.
    */
  def minhashRowsFor(n: Long, targetBucket: Long = 250L): Int =
    math.min(16, Similarity.planesFor(n, targetBucket, 4))

  /** Exact banding S-curve: P[candidate | J] = 1 − (1 − J^r)^b in
    * integer micros (floored), computed in exact BigInt rational
    * arithmetic — no pow/exp drift, no MathContext rounding, so specs
    * and docs can quote it bit-stably on any JVM. This is the curve
    * q253 MEASURES on real data.
    */
  def recallAtMicro(rows: Int, bands: Int, jMicro: Long): Long = {
    require(rows >= 1 && bands >= 1 && jMicro >= 0 && jMicro <= 1000000,
      s"rows/bands >= 1 and jMicro in [0, 1e6], got ($rows, $bands, $jMicro)")
    val M = BigInt(1000000)
    // miss = ((M^r − j^r) / M^r)^b; recallMicro = 1e6 − ceil(1e6·miss)
    val num = (M.pow(rows) - BigInt(jMicro).pow(rows)).pow(bands) * M
    val den = M.pow(rows * bands)
    1000000L - ((num + den - 1) / den).toLong
  }

  /** Pick the cheapest MinHash geometry from the CONTRACT instead of
    * the corpus size: the least-cost (rows, bands) — minimal k = r·b,
    * ties to fewer bands — with
    *   recall  1 − (1 − J^r)^b ≥ targetRecall at J = threshold, and
    *   false-candidate rate ≤ maxFp at the background similarity bg
    * (the S-curve must FALL between bg and threshold — a recall floor
    * alone degenerates to r = 1, which admits every pair sharing one
    * min-hash). All arithmetic exact (see [[recallAtMicro]]). Throws
    * with the binding constraint if no geometry within (maxRows,
    * maxBands) satisfies both — the caller should relax the recall
    * floor or split the corpus (tighter bg) rather than silently run
    * a geometry that cannot meet its contract.
    *
    * Grounding: q253 measured the default (4, 2) curve at 20% caught
    * for J ≈ 0.5 — matching 1−(1−0.55⁴)² = 17.5%. A "J ≥ 0.6 at 90%
    * recall, ≤ 1% false candidates at bg 0.1" contract resolves to
    * (3, 10): k = 30 permutations, knee pulled below 0.6.
    */
  def minhashGeometryFor(thresholdMicro: Long, targetRecallMicro: Long,
      bgMicro: Long = 100000L, maxFpMicro: Long = 10000L,
      maxRows: Int = 16, maxBands: Int = 64): (Int, Int) = {
    require(thresholdMicro > bgMicro,
      s"threshold ($thresholdMicro) must exceed background similarity ($bgMicro)")
    require(targetRecallMicro > 0 && targetRecallMicro < 1000000,
      s"targetRecallMicro must be in (0, 1e6), got $targetRecallMicro")
    val ok = for {
      r <- 1 to maxRows
      b <- 1 to maxBands
      if recallAtMicro(r, b, thresholdMicro) >= targetRecallMicro
      if recallAtMicro(r, b, bgMicro) <= maxFpMicro
    } yield (r, b)
    ok.sortBy { case (r, b) => (r * b, b) }.headOption.getOrElse {
      val recallOnly = (1 to maxRows).flatMap(r => (1 to maxBands).map(r -> _))
        .exists { case (r, b) => recallAtMicro(r, b, thresholdMicro) >= targetRecallMicro }
      throw new IllegalArgumentException(
        if (recallOnly)
          s"no geometry within (maxRows=$maxRows, maxBands=$maxBands) holds false-candidates <= " +
            s"$maxFpMicro micro at bg=$bgMicro while meeting recall >= $targetRecallMicro at " +
            s"J=$thresholdMicro: raise maxRows (steeper curve) or tighten bg by pre-blocking"
        else
          s"recall >= $targetRecallMicro at J=$thresholdMicro is unreachable within " +
            s"(maxRows=$maxRows, maxBands=$maxBands): relax the recall floor or raise maxBands")
    }
  }

  /** [[minhashGeometryFor]] with the false-candidate ceiling derived
    * from a PER-ROW CANDIDATE BUDGET at a stated corpus size — the
    * MinHash twin of
    * [[graft.operators.Similarity.cosineLshGeometryForBudget]]: a
    * fraction ceiling admits O(n²) false candidates as the corpus
    * grows, a linear budget (fp ≤ 2·candPerRow/n, exact integer
    * micros) tightens rows-per-band with n so the band join stays
    * linear by construction. MinHash's feasibility frontier reaches
    * far beyond sign-bit LSH's: (bg/threshold)^r decays geometrically
    * in r (vs the cosine family's fixed per-plane agreement ratio),
    * so "J ≥ 0.7 at 90% recall, ≤ 64 candidates/row at n = 1e9"
    * RESOLVES here — while the equivalent cosine contract refuses at
    * that scale — which is why shingle-MinHash, not sign-bit LSH, is
    * the text-dedup workhorse at 100 TB.
    */
  def minhashGeometryForBudget(n: Long, thresholdMicro: Long,
      targetRecallMicro: Long, bgMicro: Long = 100000L,
      candPerRow: Long = 64L, maxRows: Int = 16, maxBands: Int = 64): (Int, Int) = {
    require(n >= 2, s"corpus size n must be >= 2, got $n")
    require(candPerRow >= 1, s"candPerRow must be >= 1, got $candPerRow")
    val fpMicro = (BigInt(2) * candPerRow * 1000000L / n).toLong
    minhashGeometryFor(thresholdMicro, targetRecallMicro, bgMicro, fpMicro,
      maxRows, maxBands)
  }

  /** [[minhashPairsContract]] under the linear candidate budget: the
    * caller states the design corpus size once and the geometry is
    * FIXED from the exact S-curve — recall is n-independent, so the
    * design geometry run on a smaller validation corpus still meets
    * the floor, while candidate volume at the design scale stays
    * linear by construction.
    */
  def minhashPairsBudget(docs: DataFrame, idCol: String, textCol: String,
      designN: Long, threshold: Double = 0.7,
      targetRecallMicro: Long = 900000L, bgMicro: Long = 100000L,
      candPerRow: Long = 64L): DataFrame = {
    val (r, b) = minhashGeometryForBudget(designN,
      math.round(threshold * 1000000L), targetRecallMicro, bgMicro, candPerRow)
    pairsFromHashesAffine(shingleHashes(docs, idCol, textCol), r, b, threshold)
  }

  /** [[pairsFromHashes]] over the affine permutation family with
    * dynamic signature width k = 2·rows — the same one-aggregation /
    * skinny-band-join / broadcastable-verify shape, parameterized so
    * [[minhashPairsAuto]] can size rows from the corpus count.
    */
  def pairsFromHashesAffine(sh: DataFrame, rows: Int, bands: Int, threshold: Double): DataFrame = {
    val k = rows * bands
    val sigSets = graft.GraftCache.registered(sigSetsAffine(sh, k))
    verifyCandidatesWithSets(minhashCandidates(sigSets, k, bands),
      sigSets.select(col("doc_id"), col("hs")), threshold)
  }

  /** [[minhashPairs]] at a CONTRACT-derived geometry: (rows, bands)
    * come from [[minhashGeometryFor]] — the cheapest exact S-curve
    * satisfying "recall ≥ `targetRecallMicro` at J = `threshold`,
    * false-candidate rate ≤ `maxFpMicro` at background `bgMicro`" —
    * instead of the fixed legacy (4, 2), whose measured curve (q253)
    * delivers ~20% recall at J ≈ 0.55 and misses ~12% of pairs even
    * at J = 0.9. This is the variant production cleaning paths use
    * ([[graft.examples.CorpusPipeline]], the q252 leakage-safe split):
    * the default contract resolves to (3, 10) = 30 affine
    * permutations — a wider signature aggregate (30 vs 8 mins over
    * the same shingle frame, map-side combined) traded for a recall
    * floor the geometry can actually honor. The derivation is exact
    * BigInt arithmetic over integer micros, so a SQL oracle resolving
    * the same contract replays the identical geometry. The fp ceiling
    * is a FRACTION of all pairs — O(n²) admissions as the corpus
    * grows; for corpus-scale runs use [[minhashPairsBudget]], whose
    * ceiling is a linear per-row budget at a stated design size.
    */
  def minhashPairsContract(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, targetRecallMicro: Long = 900000L,
      bgMicro: Long = 100000L, maxFpMicro: Long = 10000L): DataFrame = {
    val (r, b) = minhashGeometryFor(math.round(threshold * 1000000L),
      targetRecallMicro, bgMicro, maxFpMicro)
    pairsFromHashesAffine(shingleHashes(docs, idCol, textCol), r, b, threshold)
  }

  /** [[minhashPairs]] with the band width sized from the corpus count
    * — the config-free twin completing the auto-sizing family (q99
    * planes, q100 simhash bits, this one MinHash rows-per-band): fixed
    * r = 4 lets accidental band collisions grow ~n²·J̄⁴ with the
    * corpus, auto-sizing holds expected band cohabitation at
    * ~`targetBucket` at any size. One deterministic count() picks the
    * width, so the result stays oracle-replayable (the oracle replays
    * [[minhashRowsFor]] from the same COUNT(*) with the shared
    * integer-corrected CEIL(LOG2) rule).
    */
  def minhashPairsAuto(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, targetBucket: Long = 250L): DataFrame =
    pairsFromHashesAffine(shingleHashes(docs, idCol, textCol),
      minhashRowsFor(docs.count(), targetBucket), 2, threshold)

  /** LSH-banded token-Jaccard near-dup pairs — the 100 TB alternative
    * to [[ngramJaccardPairs]]: same verified token-set Jaccard, but
    * candidates come from MinHash bands over the token hashes instead
    * of (lang, len_bucket) blocking, so bucket cohabitation is bounded
    * by similarity, not by corpus size.
    */
  def ngramJaccardPairsLsh(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 8, bands: Int = 4): DataFrame =
    pairsFromHashes(
      graft.functions.Tokenize.exploded(docs, col(idCol).as("doc_id"), col(textCol))
        .select(col("doc_id"), h31(col("token")).as("h")),
      k, bands, threshold)

  /** `bits`-bit SimHash (Charikar 2002) from token hashes: per bit
    * position, sign of the +1/-1 vote sum across tokens; pure integer
    * arithmetic → engine-exact. All `bits` vote sums run as conditional
    * aggregates in ONE `groupBy(doc_id)` — one shuffle of (doc_id,
    * bits×long) partial rows with map-side combine. (The earlier
    * `explode(sequence(0, bits-1))` form multiplied the token stream
    * bits× and paid a second shuffled aggregation on (doc_id, bit);
    * same values, strictly more rows moved.)
    *
    * Each bit's vote is the parity of its own affine permutation of the
    * 31-bit base hash, `((1299721 + 2*bit) * h + 104729 * (bit + 1))
    * mod P` — NOT bit `b` of `h` directly: the base hash has no entropy
    * above bit 30, so raw extraction would make every bit position
    * >= 31 constant (the 30x soak caught exactly this — a 48-bit
    * simhash whose top band was identically zero collided the whole
    * corpus into one bucket). The affine family gives every position an
    * independent full-entropy bit at any width <= 63; multipliers stay
    * < 2^21 so `mult * h < 2^52` never overflows a long (or a DuckDB
    * BIGINT — the oracle computes the identical expression).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    val votes = (0 until bits).map { b =>
      sum(when(((lit(1299721L + 2L * b) * col("h") + lit(104729L * (b + 1L))) % P) % 2 === 1, 1L)
        .otherwise(-1L)).as(s"v$b")
    }
    graft.functions.Tokenize.exploded(docs, col(idCol).as("doc_id"), col(textCol))
      .select(col("doc_id"), h31(col("token")).as("h"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs via band blocking: split the `bits`-bit
    * simhash into `bands` bands; by pigeonhole, docs within hamming
    * distance <= bands - 1 agree on at least one full band, so the
    * union of the band-equality self-joins is a COMPLETE candidate set
    * for distance <= bands - 1 (enforced: maxHamming <= bands - 1 —
    * derive the geometry from a radius contract with
    * [[simhashGeometryFor]]; beyond the complete radius the catch
    * probability follows [[simhashRecallAtMicro]]'s exact curve, which
    * [[simhashRecallAudit]] measures on real data). Exact hamming
    * (xor + bit_count) filters candidates. Same banding idea as
    * MinHash LSH — the quadratic step only happens inside a band bucket.
    *
    * SCALING RULE (measured in SOAK.json: the 32-bit default bends
    * superlinearly past ~100k docs): a band has 2^(bits/4) distinct
    * keys, so bucket population grows ~N/2^(bits/4) and within-bucket
    * pairs grow quadratically once buckets saturate. Size
    * `bits >= 4 * (log2(N) - log2(target bucket))` — e.g. 60 bits
    * (32768 buckets/band) holds buckets at ~30k docs each at N = 10^9.
    * `bits` must be <= 63 (the simhash is summed into one signed long).
    * Bucket growth is guarded by `graft.block.maxBucket` like the other
    * blocked self-joins; the error names this lever.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bits >= 4 && bits <= 63, s"bits must be in [4, 63], got $bits")
    require(bands >= 2 && bits % bands == 0,
      s"bands must be >= 2 and divide bits, got (bits=$bits, bands=$bands)")
    require(maxHamming <= bands - 1,
      s"banding is only COMPLETE for hamming <= bands - 1 (pigeonhole): " +
        s"maxHamming=$maxHamming needs >= ${maxHamming + 1} bands, got $bands — " +
        "derive (bits, bands) from simhashGeometryFor(maxHamming, n)")
    val bandBits = bits / bands
    val sh = graft.GraftCache.registered(simhash(docs, idCol, textCol, bits))
    // posexplode over bands, not a bands-way union of per-band selects:
    // same rationale (and measured lesson) as [[bandKeys]] — one scan
    // of the cached signature frame emits every (band, band_key) and
    // the partition count stays flat, where the union form multiplies
    // task count by `bands` on both self-join sides for no work.
    // posexplode over bands, not a bands-way union of per-band selects
    // (one scan of the cached signature frame, flat partition count —
    // the [[bandKeys]] lesson). TRAP that comes with it: Catalyst's
    // size estimate for a Generate node is its CHILD's size — the
    // bands-times fan-out is invisible to stats — so past the corpus
    // size where the banded frame still *looks* broadcastable the
    // planner picks a broadcast self-join with no exchange, and the
    // quadratic within-bucket expansion runs on the cached frame's few
    // AQE-coalesced partitions: a single-task straggler exactly where
    // the work explodes (measured at the x100 soak tier: 118.7 s vs
    // 7.4 s). The shuffle_hash hint pins the exchange on (band,
    // band_key): both sides are the identical subtree, so one shuffle
    // is planned and reused, and the expansion runs at full shuffle
    // parallelism at any scale (merge over shuffle_hash: measured
    // 7.5 s vs 10.6 s at x100 — the sort is cheap on 16-byte rows and
    // SMJ streams the many-many groups instead of re-probing them).
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        expr(s"(simhash >> ${b * bandBits}) % ${1L << bandBits}")): _*)).as(Seq("band", "band_key")))
      .hint("merge")
    requireBoundedBlocks(banded, Seq(col("band"), col("band_key")),
      s"a wider simhash (bits > $bits: buckets/band = 2^(bits/$bands), currently ${1L << bandBits})")
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.band_key") === col("r.band_key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        expr("bit_count(l.simhash ^ r.simhash)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Simhash width for an `n`-doc corpus: the banding splits the hash
    * into 4 bands, so a band has 2^(bits/4) keys and expected bucket
    * population is n / 2^(bits/4) — this picks the smallest width ≥
    * `minBits` that holds population at ~`targetBucket`, capped at 60
    * (the simhash must stay in a signed long). Integer-exact via
    * [[graft.operators.Similarity.planesFor]], so the SQL oracle
    * replays the identical width from the same count.
    */
  def bitsFor(n: Long, targetBucket: Long = 250L, minBits: Int = 32): Int =
    4 * math.min(15, Similarity.planesFor(n, targetBucket, minBits / 4))

  /** [[simhashPairs]] with the width sized from the corpus itself —
    * the config-free twin, same shape as
    * [[graft.operators.Similarity.nearDupByLshAuto]]: fixed widths
    * saturate (the 32-bit config bends past ~100k docs, measured in
    * SOAK.json), auto-sizing keeps band buckets at ~`targetBucket` at
    * any corpus size. One deterministic count() picks the width, so
    * the result stays oracle-replayable.
    */
  def simhashPairsAuto(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, targetBucket: Long = 250L): DataFrame =
    simhashPairs(docs, idCol, textCol, bitsFor(docs.count(), targetBucket), maxHamming)

  /** Exact SimHash banding curve: P[candidate | hamming distance d] in
    * integer micros (floored), for a `bits`-bit signature split into
    * `bands` bands of bits/bands — assuming the d differing bit
    * positions are uniformly placed (the standard LSH analysis; the
    * audit below measures the real-corpus deviation). A pair is a
    * candidate iff some band holds NONE of the d differing bits, so by
    * inclusion–exclusion over "band j clean":
    *   P = Σ_{j=1..bands} (−1)^{j+1} · C(bands, j) · C(bits − j·m, d)
    *       / C(bits, d),  m = bits/bands.
    * All BigInt (the binomials reach ~2^60 at 63 bits) — bit-stable on
    * any JVM, and = 1e6 exactly for every d ≤ bands − 1 (pigeonhole).
    * This is the MinHash [[recallAtMicro]] analogue for the hamming
    * family (q52/q69/q87/q100).
    */
  def simhashRecallAtMicro(bits: Int, bands: Int, d: Int): Long = {
    require(bits >= 1 && bands >= 1 && bits % bands == 0,
      s"need bands >= 1 dividing bits, got (bits=$bits, bands=$bands)")
    require(d >= 0 && d <= bits, s"hamming distance must be in [0, $bits], got $d")
    val m = bits / bands
    def c(n: Int, k: Int): BigInt =
      if (k < 0 || k > n) BigInt(0)
      else (BigInt(n - k + 1) to BigInt(n)).product / (BigInt(1) to BigInt(k)).product
    val caught = (1 to bands).map { j =>
      val term = c(bands, j) * c(bits - j * m, d)
      if (j % 2 == 1) term else -term
    }.sum
    ((caught * 1000000) / c(bits, d)).toLong
  }

  /** SimHash geometry from the RADIUS contract instead of a fixed
    * width: `maxHamming + 1` bands make the banding pigeonhole-COMPLETE
    * for hamming ≤ maxHamming (recall exactly 1, not an S-curve bet),
    * and the band width is sized from the corpus count so expected
    * band-bucket population stays ~`targetBucket` at any size (the
    * same integer-exact [[graft.operators.Similarity.planesFor]] rule
    * as [[bitsFor]], so a SQL oracle replays the width from the same
    * COUNT(*)). Returns (bits, bands). Throws when the contract cannot
    * fit a signed long (bands · bandBits > 63): relax the radius or
    * raise targetBucket rather than silently running an incomplete
    * geometry.
    */
  def simhashGeometryFor(maxHamming: Int, n: Long, targetBucket: Long = 250L,
      minBandBits: Int = 8): (Int, Int) = {
    require(maxHamming >= 1, s"maxHamming must be >= 1, got $maxHamming")
    val bands = maxHamming + 1
    val bandBits = Similarity.planesFor(n, targetBucket, minBandBits)
    val bits = bands * bandBits
    if (bits > 63) throw new IllegalArgumentException(
      s"complete radius $maxHamming needs $bands bands x $bandBits band bits = $bits > 63 " +
        s"(the simhash must stay in a signed long): relax the radius, raise targetBucket " +
        s"(coarser buckets), or pre-block the corpus")
    (bits, bands)
  }

  /** [[simhashGeometryFor]] under a LINEAR PER-ROW CANDIDATE BUDGET at
    * a stated design size — the SimHash member of the budget family
    * ([[minhashGeometryForBudget]] / [[graft.operators.Similarity.cosineLshGeometryForBudget]]),
    * replacing [[simhashGeometryFor]]'s bucket-population heuristic
    * (which is a fraction-of-pairs admission in disguise: ~targetBucket
    * candidates PER ROW regardless of n) with an explicit contract:
    * "radius-complete for hamming ≤ maxHamming, ≤ candPerRow false
    * candidates per row at n = designN".
    *
    * Model: bands = maxHamming + 1 (pigeonhole completeness — recall
    * is exactly 1 inside the radius, never an S-curve bet), and a
    * background pair agrees on one band of width h with probability
    * pAgree^h (pAgree = per-bit agreement of UNRELATED docs; 0.5 for
    * ideal unbiased bits — real corpora run higher, measure with
    * [[simhashRecallAudit]] and pass it in). Union bound over bands:
    *   fp ≤ bands · pAgree^h  ≤  2·candPerRow / n
    * evaluated EXACTLY in BigInt micros (bands·pAgreeMicro^h·n ≤
    * 2·candPerRow·1e6^h — no doubles, so the oracle replays the same
    * integer decision). Returns the narrowest feasible (bits, bands).
    *
    * FEASIBILITY FRONTIER (the reason this advisor exists): widening
    * a band cuts fp geometrically (pAgree^h), but the signature must
    * fit a signed long — bands·h ≤ 63. At n = 1e9 with 64
    * candidates/row and ideal bits, radius 1 RESOLVES to (48, 2)
    * (h = 24: 2·2^-24·1e9 ≈ 119 ≤ 128, well inside the 31-bit cap),
    * radius 2 (3 bands ≤ 21 bits each, fp ≥ 3·2^-21 ≈ 1.4e-6 →
    * ~1430/row) REFUSES, and every radius beyond refuses harder. Radius-complete SimHash banding is
    * word-size-limited where MinHash's (bg/J)^r decay is not
    * ([[minhashGeometryForBudget]] resolves J ≥ 0.7 at the same
    * scale) — the two advisor outcomes that say WHY shingle-MinHash,
    * not SimHash, is the wide-radius text-dedup workhorse at 100 TB,
    * and why SimHash remains the right tool at radius ≤ 1 (typo-class
    * dups) where its signature is 8× cheaper to store.
    */
  def simhashGeometryForBudget(n: Long, maxHamming: Int,
      pAgreeMicro: Long = 500000L, candPerRow: Long = 64L,
      minBandBits: Int = 8): (Int, Int) = {
    require(n >= 2, s"design size n must be >= 2, got $n")
    require(maxHamming >= 1, s"maxHamming must be >= 1, got $maxHamming")
    require(pAgreeMicro >= 1 && pAgreeMicro < 1000000,
      s"pAgreeMicro must be in [1, 1e6), got $pAgreeMicro")
    require(candPerRow >= 1, s"candPerRow must be >= 1, got $candPerRow")
    val bands = maxHamming + 1
    val M = BigInt(1000000)
    val budgetOk = (h: Int) =>
      BigInt(bands) * BigInt(pAgreeMicro).pow(h) * BigInt(n) <=
        BigInt(2) * BigInt(candPerRow) * M.pow(h)
    (minBandBits to 63 / bands).find(budgetOk).map(h => (bands * h, bands))
      .getOrElse {
        val hMax = 63 / bands
        throw new IllegalArgumentException(
          s"radius-complete SimHash banding cannot meet <= $candPerRow candidates/row at " +
            s"n = $n for hamming radius $maxHamming: $bands bands cap band width at " +
            s"$hMax bits (bands x width <= 63, one signed long), leaving fp >= " +
            s"bands x pAgree^$hMax — the word-size frontier. Relax the radius " +
            s"(radius 1 resolves at n = 1e9), pre-block the corpus (smaller n per " +
            s"block), or switch family: minhashGeometryForBudget's (bg/J)^r decay " +
            s"is not word-size-limited")
      }
  }

  /** [[simhashPairs]] at the geometry the BUDGET advisor resolves for
    * a stated design size — the SimHash twin of [[minhashPairsBudget]]:
    * recall inside the radius is pigeonhole-exact and n-independent,
    * so the design geometry run on a smaller validation corpus is the
    * same pair set contract, while candidate volume at the design
    * scale stays linear by construction.
    */
  def simhashPairsBudget(docs: DataFrame, idCol: String, textCol: String,
      designN: Long, maxHamming: Int = 1, pAgreeMicro: Long = 500000L,
      candPerRow: Long = 64L): DataFrame = {
    val (bits, bands) = simhashGeometryForBudget(designN, maxHamming, pAgreeMicro, candPerRow)
    simhashPairs(docs, idCol, textCol, bits, maxHamming, bands)
  }

  /** SimHash banding recall audit — the q253 pattern applied to the
    * hamming family: measures P[caught | hamming distance d] against a
    * BANDING-INDEPENDENT ground truth, per distance bucket. Truth:
    * rare-shingle blocked pairs (df ∈ [2, maxDf] counted across
    * collapsed classes, [[requireBoundedBlocks]]-guarded) with exact
    * hamming = bit_count(simhash_a ^ simhash_b), kept to
    * d ≤ `maxHammingAudit`; caught: the pair agrees on ≥ 1 of the
    * `bands` band keys. Identical TEXTS collapse to one representative
    * with multiplicity before anything is hashed (same simhash by
    * construction — the vote sum is a pure function of the token
    * stream), within-class pairs (d = 0, structurally always caught)
    * are emitted analytically, and weighted counts accumulate in
    * DECIMAL(38,0) — the exact-collapse discipline that keeps replica
    * mass out of the quadratic stage at soak tiers. Expected curve is
    * [[simhashRecallAtMicro]]: 1e6 through d = bands − 1, falling
    * beyond — the audit detects real-corpus deviation (differing bits
    * are NOT uniformly placed when token edits are correlated).
    */
  def simhashRecallAudit(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, bands: Int = 4, maxDf: Int = 5,
      maxHammingAudit: Int = 12): DataFrame = {
    require(bands >= 2 && bits % bands == 0,
      s"bands must be >= 2 and divide bits, got (bits=$bits, bands=$bands)")
    val bandBits = bits / bands
    val texts = graft.GraftCache.registered(docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("txt"))
      .groupBy(col("txt"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("m")))
    // one token pass feeds BOTH the shingle blocking and the simhash
    val sh = graft.GraftCache.registered(
      shingleHashes(texts, "doc_id", "txt").distinct())
    val rare = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select(col("h"))
    val blocked = sh.join(rare, "h")
    requireBoundedBlocks(blocked, Seq(col("h")),
      s"a smaller maxDf (currently $maxDf: rare-shingle blocking saturates when maxDf " +
        "admits boilerplate shingles)")
    // The truth pair set is persisted so the TRUTH JOIN (rare-shingle
    // blocked self-join + distinct — the expensive quadratic-ish stage)
    // is cache-isolated from the band probe below: without this the
    // warm re-run recomputes the whole self-join inside the same plan
    // that probes bands, and under x100 memory pressure the two stages'
    // spill + the persisted signature frames evict each other (measured
    // warm 93-179 s run-to-run spread at the x100 soak tier, contained
    // only by the GC-retry). Bounded: the blocked join is behind
    // requireBoundedBlocks, so truth volume is linear in corpus size.
    val cand = graft.GraftCache.registered(
      blocked.as("l").join(blocked.as("r"),
          col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct())
    val sig = graft.GraftCache.registered(
      simhash(texts, "doc_id", "txt", bits)
        .join(texts.select(col("doc_id"), col("m")), "doc_id"))
    // "caught" (some band agrees) is a PURE PER-PAIR EXPRESSION over
    // the two simhashes — the first cut materialized the production
    // banding self-join over the WHOLE corpus to decide it, which
    // saturates exactly when the audited geometry does (that is the
    // thing being measured!): at the x100 soak tier the 32-bit default
    // put ~2000 docs in every 8-bit band bucket = ~2e9 join rows and
    // 71 GB of shuffle spill before the run was killed. Deciding band
    // agreement on the already-blocked candidate pairs keeps the audit
    // linear in the truth volume AT ANY GEOMETRY — an audit must stay
    // cheap precisely where the instrument it audits breaks down.
    val bandAgree = (0 until bands).map { b =>
      expr(s"(sh_a >> ${b * bandBits}) % ${1L << bandBits}") ===
        expr(s"(sh_b >> ${b * bandBits}) % ${1L << bandBits}")
    }.reduce(_ || _)
    val cross = cand
      .join(sig.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
        col("m").as("m_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
        col("m").as("m_b")), "doc_b")
      .withColumn("hamming", expr("cast(bit_count(sh_a ^ sh_b) as int)"))
      .filter(col("hamming") <= maxHammingAudit)
      .withColumn("caught", when(bandAgree, 1L).otherwise(0L))
      .groupBy(col("hamming").as("h_bucket"))
      .agg(sum(expr("m_a * m_b")).as("n_truth"),
        sum(expr("m_a * m_b * caught")).as("n_caught"))
    val within = texts.filter(col("m") >= 2)
      .agg(sum(expr("m * (m - 1) div 2")).as("n_truth"))
      .filter(col("n_truth") > 0)
      .select(lit(0).as("h_bucket"), col("n_truth"), col("n_truth").as("n_caught"))
    cross.unionByName(within)
      .groupBy(col("h_bucket"))
      .agg(sum(col("n_truth")).as("n_truth"), sum(col("n_caught")).as("n_caught"))
      .withColumn("recall_micro",
        expr("cast((cast(n_caught as decimal(38,0)) * 1000000) div n_truth as bigint)"))
      .orderBy(col("h_bucket"))
  }

  /** Duplicate-cluster assignment from near-dup pairs: `iters` rounds
    * of min-label propagation over the symmetric pair graph. Each round
    * is one join + one aggregate; after k rounds every node within
    * graph distance k of its component minimum carries that minimum —
    * deterministic, and unrollable to identical SQL.
    *
    * USER-FACING CONSEQUENCE of the bounded rounds: a component whose
    * diameter exceeds `iters` SPLITS — e.g. a chain of 5+ near-dups with
    * `iters = 3` keeps 2+ representatives instead of 1, so some
    * transitive duplicates survive dedup. Raising `iters` buys recall on
    * long chains at one extra join+distinct per hop; `iters = 3` is
    * exact for the clique-ish clusters boilerplate duplication actually
    * produces. When the diameter is unknown or chains matter, use
    * [[connectedComponents]] — exact on any graph shape, converging in
    * O(log^2 n) rounds via alternating large-star/small-star.
    */
  def labelPropagate(pairs: DataFrame, iters: Int = 3): DataFrame = {
    // Path-expansion form: label(d) = min over nodes within graph
    // distance <= iters — identical to round-based min-label
    // propagation, but as ONE linear plan (chained hop joins + union +
    // aggregate) instead of per-round materialization barriers.
    // PAIRS is what gets materialized, not the symmetrized edge list:
    // the union below reads `pairs` twice (once per direction), and
    // every hop level reads it again. An EAGER localCheckpoint (same
    // treatment as connectedComponents' rounds) rather than a lazy
    // persist, for two measured reasons: (a) a lazy persist's blocks
    // can be EVICTED under storage pressure, silently re-deriving the
    // whole upstream near-dup pipeline on each of the 5+ plan reads
    // (the mechanism behind q67's 19s-vs-3.3s driver-sweep artifact in
    // round 6); (b) the checkpoint CUTS the lineage, so the unrolled
    // union-of-hops plan contains `iters`+2 scans of a materialized
    // (long, long) RDD instead of `iters`+2 copies of the MinHash
    // pipeline's plan tree — codegen compiles one small hop plan, not
    // a quadratic-size one (q67 isolated cold was 13.3s vs q93's 4.2s
    // on the same pairs for exactly this reason). On a cluster where
    // executor loss must be survivable, prefer a reliable checkpoint
    // (setCheckpointDir + .checkpoint()) — see connectedComponents.
    val p = pairs.localCheckpoint(true)
    val e = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // Each hop frame that feeds a FURTHER join is reduced to distinct
    // NODE pairs first: without this, the chain enumerates all <=k-hop
    // PATHS, which is O(d^2)-O(d^3) rows for a degree-d near-clique
    // (boilerplate dup clusters) — the scale-killer at 100 TB. The last
    // hop skips the distinct: the final min-aggregate dedups it for
    // free, so the extra exchange would buy nothing.
    var hops = List(e)
    for (i <- 2 to iters) {
      val hop = hops.head.as("p").join(e.as("n"), col("p.dst") === col("n.src"))
        .select(col("p.src").as("src"), col("n.dst").as("dst"))
      hops = (if (i < iters) hop.distinct() else hop) :: hops
    }
    val reach = (e.select(col("src"), col("src").as("dst")) :: hops).reduce(_.union(_))
    reach.groupBy(col("src")).agg(min(col("dst")).as("label"))
      .withColumnRenamed("src", "doc")
  }

  /** EXACT connected components over a near-dup pair graph, via the
    * alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    * convergent complement to [[labelPropagate]]: where bounded rounds
    * split any component whose diameter exceeds `iters`, this converges
    * to the TRUE component minimum for every node on any graph shape,
    * in O(log^2 n) rounds regardless of diameter (a million-node chain
    * takes ~tens of rounds, not a million).
    *
    * Scale shape: each round is two star operations; each star is one
    * groupBy-min plus one join, both keyed on node id — the shuffles
    * carry (long, long) pairs only, and no per-component state ever
    * concentrates on one key (the star transforms themselves are the
    * skew treatment: high-degree nodes shed their neighborhoods toward
    * the minimum). The only driver traffic is a 2-value convergence
    * signature per round. Each round's edge set is eagerly
    * local-checkpointed and the previous round's released immediately,
    * so both lineage and the logical plan stay one round deep (see the
    * in-body comment for the cluster-reliability tradeoff).
    *
    * Choosing between the two: [[labelPropagate]] is ONE linear plan
    * (no convergence loop, unrollable to SQL) and exact for clusters of
    * diameter <= iters — the boilerplate near-cliques dedup actually
    * meets. Use `connectedComponents` when transitive chains matter
    * (entity resolution, fuzzy matches composing a->b->c->...) and the
    * diameter is unknown.
    *
    * Self-pairs are dropped; nodes appearing only in self-pairs do not
    * appear in the output (they have no near-dup edges). Output schema
    * matches [[labelPropagate]]: (doc, label).
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    // Per-round lineage cut, in two durability flavors. Default:
    // eager localCheckpoint — fastest, but blocks live on executors
    // and cannot be recomputed after executor loss once lineage is
    // cut. With `checkpointDir` (HDFS/S3 on a real cluster): reliable
    // `.checkpoint()` — each round's edge set persists to storage, so
    // a 1000-executor run survives preemption mid-iteration. Same
    // algorithm, same result (OperatorsSpec pins both modes).
    val pin = Iterative.pin(pairs.sparkSession, checkpointDir)
    // canonical undirected edges (a < b), deduped
    val edges0 = pairs
      .select(col("doc_a").cast("long").as("x"), col("doc_b").cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()

    // large-star: per node u over the SYMMETRIC neighbor view, connect
    // every strictly-larger neighbor to m = min(N(u) ∪ {u}). Emitted
    // pairs are (m, v) with m < v — already canonical.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()
    }

    // small-star: orient each edge toward its LARGER endpoint, then per
    // node u connect every smaller neighbor (and u itself) to
    // m = min(N(u)); since all of N(u) < u, m = min(N(u)) < u.
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(col("b").as("u"), col("a").as("v")) // canonical ⇒ v < u
      val mins = o.groupBy("u").agg(min(col("v")).as("m"))
      val leaves = o.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b"))
      val centers = mins.select(col("m").as("a"), col("u").as("b"))
      leaves.union(centers).distinct()
    }

    // Convergence signature: (edge count, sum of 64-bit edge hashes —
    // summed as decimal(38,0) so ANSI mode can't overflow). One tiny
    // aggregate per round — it doubles as the action that materializes
    // the round's persisted edge set. The signature is PROBABILISTIC
    // (two distinct edge sets could share count + hash-sum), so a match
    // only nominates the round for the exact confirmation below — a
    // collision costs one extra round, never a wrong answer.
    def signature(e: DataFrame): (Long, String) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).collect().head
      (r.getLong(0), if (r.isNullAt(1)) "" else r.getDecimal(1).toString)
    }

    // Each round is EAGERLY checkpointed (local or reliable per `pin`
    // above): a star references its input twice and a round composes
    // two stars, so without lineage truncation the logical plan
    // quadruples per round and the analyzer/optimizer, not the data,
    // becomes the bottleneck. The checkpoint materializes two longs
    // per edge.
    var cur = pin(edges0)
    // Node ids are enumerated from the FIRST checkpoint, eagerly (its
    // blocks are released inside the loop, after which the cut lineage
    // cannot recompute) — deriving them from `edges0` at the end would
    // re-run the whole upstream pair pipeline a second time.
    val nodes = pin(cur.select(col("a").as("doc")).union(cur.select(col("b").as("doc")))
      .distinct())
    var sig = signature(cur)

    // SMALL-GRAPH FAST PATH (same spirit as Catalyst's broadcast
    // threshold): below `graft.cc.localMaxEdges` canonical edges
    // (default 1M ≈ 16 MB of longs — the same order as a broadcast
    // side), union-find on the driver replaces the iterative rounds —
    // identical labels (min id per component, pinned against the
    // distributed path in OperatorsSpec), none of the per-round
    // shuffle/checkpoint latency that dominates when the pair graph is
    // tiny next to the corpus that produced it. The signature() above
    // already materialized the checkpoint and counted the edges, so
    // the routing decision is free; at production scale the threshold
    // simply never triggers.
    val localMax = pairs.sparkSession.conf
      .getOption("graft.cc.localMaxEdges").map(_.toLong).getOrElse(1000000L)
    if (sig._1 <= localMax) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      cur.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { // union by MIN so the root IS the label
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      cur.unpersist(blocking = false)
      val spark = pairs.sparkSession
      import spark.implicits._
      val labels = parent.keySet.union(parent.values.toSet)
        .map(d => (d, find(d))).toSeq.toDF("doc", "label")
      return nodes.join(labels, Seq("doc"), "left")
        .select(col("doc"), coalesce(col("label"), col("doc")).as("label"))
    }
    var rounds = 0
    var converged = sig._1 == 0L
    while (!converged && rounds < maxRounds) {
      val next = pin(smallStar(largeStar(cur)))
      val nextSig = signature(next)
      // Signature match => confirm exactly. Counts are equal, so
      // next ⊆ cur implies set equality; one except().isEmpty is the
      // whole check, and it runs at most once per collision + once at
      // the true fixpoint — not per round.
      converged = nextSig == sig && next.except(cur).isEmpty
      cur.unpersist(blocking = false)
      cur = next; sig = nextSig; rounds += 1
    }
    if (!converged) {
      cur.unpersist(blocking = false)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds — " +
          "raise maxRounds (rounds needed grow ~log^2 of the largest component)")
    }

    // At the fixpoint the edge set is a star forest: every canonical
    // edge is (component-min, leaf). Centers label themselves. `cur`
    // and `nodes` are checkpointed (blocks freed by the ContextCleaner
    // when the frames are unreachable), so the returned plan is shallow.
    val leafLabels = cur.groupBy(col("b").as("doc")).agg(min(col("a")).as("lbl"))
    nodes.join(leafLabels, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("lbl"), col("doc")).as("label"))
  }

  /** Leakage-safe train/val/test split: assign every document a split
    * by the md5 hash of its near-duplicate COMPONENT, not its own id —
    * the split discipline an evaluation pipeline needs, because a
    * near-duplicate of a training document sitting in the test set is
    * contamination that per-document hashing cannot prevent (the pair
    * graph routinely links documents whose ids hash to different
    * buckets). Components come from [[connectedComponents]] over the
    * caller's candidate pairs; documents with no near-dup edges are
    * their own singleton group. The split is a pure function of
    * (salt, group): reproducible across engines, runs and cluster
    * sizes, and structurally leak-free — a group CANNOT span splits.
    *
    * Returns (id, grp, split) with split ∈ train/val/test at
    * `trainPct`/`valPct`/remainder percent of GROUPS (mod-100 md5
    * buckets — sizes converge to the percentages over many groups,
    * exactly like hash sharding).
    *
    * Scale: the component step is the alternating-star fixpoint
    * (linear rounds, checkpoint-durable); the assignment is one
    * left join against the (much smaller) non-singleton label frame
    * plus a codegen'd hash — no extra shuffle beyond the join.
    */
  def leakageSafeSplit(ids: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10, salt: String = "split",
      checkpointDir: Option[String] = None): DataFrame = {
    require(trainPct >= 1 && valPct >= 1 && trainPct + valPct <= 99,
      s"leakageSafeSplit: need 1 <= trainPct, 1 <= valPct, trainPct+valPct <= 99 " +
        s"(got $trainPct/$valPct) — the test split is the remainder")
    val comps = connectedComponents(pairs, checkpointDir = checkpointDir)
    val labeled = ids.select(col(idCol).cast("long").as("id"))
      .join(comps.select(col("doc").as("id"), col("label")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("label"), col("id")).as("grp"))
    val b = pmod(graft.queries.Q.tokenHash(
      concat(lit(salt + "_"), col("grp").cast("string"))), lit(100))
    labeled.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Blocked fuzzy-duplicate pairs by Levenshtein edit distance — the
    * entity-resolution primitive for near-identical short strings
    * (names, titles, ids with typos). Candidates share a blocking key
    * and similar length (strings within distance d can differ in length
    * by at most d), then the exact edit-distance filter runs only
    * within blocks.
    *
    * Default pass blocks on the 2-char PREFIX — complete for edits
    * beyond position 2, silently missing leading-character typos.
    * `bothEnds = true` adds (a) a second pass blocked on the 2-char
    * SUFFIX, which catches any edit that leaves the last two characters
    * intact, and (b) an all-pairs pass over strings shorter than 5
    * chars, where prefix and suffix windows can both overlap a single
    * edit. The union is COMPLETE for maxDist = 1 (a single edit cannot
    * disturb both the first two and the last two characters of a
    * 5+-char string) — property-tested against a brute-force oracle in
    * OperatorsSpec. The short-string pass is one bucket keyed by a
    * constant: its population is bounded by the corpus's sub-5-char
    * vocabulary (≤ |alphabet|^4 distinct values), not the corpus.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String, maxDist: Int,
      bothEnds: Boolean = false): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"), length(col(strCol)).as("len"))
    def pass(blockKey: Column): DataFrame = {
      val b = base.withColumn("blk", blockKey)
      // 2-char blocks have a FIXED key space (~|alphabet|^2), so bucket
      // population grows linearly with the corpus (measured: SOAK.json
      // q76 bends ~quadratically past 10x) — guard like the other
      // blocked self-joins
      requireBoundedBlocks(b, Seq(col("blk")),
        "a longer blocking key or pre-grouping (2-char blocks saturate as the corpus grows)")
      b.as("l").join(b.as("r"),
          col("l.blk") === col("r.blk") &&
            abs(col("l.len") - col("r.len")) <= maxDist &&
            col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
          // thresholded variant short-circuits once the running distance
          // exceeds maxDist (returns -1), so far pairs cost O(maxDist*n)
          // instead of O(n^2) per comparison
          levenshtein(col("l.s"), col("r.s"), maxDist).as("dist"))
        .filter(col("dist") >= 0)
    }
    val prefixPass = pass(substring(col("s"), 1, 2))
    if (!bothEnds) prefixPass
    else {
      val suffixPass = pass(substring(reverse(col("s")), 1, 2))
      val shortPass = {
        val shorts = base.filter(col("len") < 5).withColumn("blk", lit("_short"))
        shorts.as("l").join(shorts.as("r"),
            col("l.blk") === col("r.blk") &&
              abs(col("l.len") - col("r.len")) <= maxDist && col("l.id") < col("r.id"))
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
            levenshtein(col("l.s"), col("r.s"), maxDist).as("dist"))
          .filter(col("dist") >= 0)
      }
      // each pass computes the same exact distance for a pair it finds,
      // so a plain distinct dedups the overlap
      prefixPass.union(suffixPass).union(shortPass).distinct()
    }
  }

  /** Deletion-neighborhood fuzzy pairs — the FastSS candidate scheme
    * (Bocek et al. 2007, "Fast Similarity Search in Large
    * Dictionaries"), and the scale path that retires
    * [[editDistancePairs]]'s fixed-key blocking for maxDist = 1.
    *
    * Every string emits its deletion neighborhood — all strings
    * reachable by deleting up to `maxDist` characters (maxDist = 1: at
    * most len+1 variants; maxDist = 2: ~len²/2, see the length guard
    * below) — 64-bit-hashed down to a long join key. Two strings
    * within Levenshtein distance d ≤ maxDist ALWAYS share an element:
    * take an optimal alignment and delete from each side the positions
    * it edits (≤ d on each side) — the surviving common subsequence is
    * in both neighborhoods (for d = 1 concretely: equal strings share
    * s itself; insert/delete: the shorter string is in the longer
    * one's neighborhood; substitute: both sides minus the edited
    * position coincide). So the hash self-join is a COMPLETE candidate
    * set; and any two strings sharing an element are within distance
    * 2·maxDist, so one thresholded `levenshtein` per distinct
    * candidate pair verifies exactly. Both directions are
    * property-tested against a brute-force oracle in OperatorsSpec
    * (maxDist = 1 and 2).
    *
    * Scale shape: a neighborhood bucket's population is bounded by the
    * corpus's TRUE near-duplicate structure (plus ~2^-64 hash
    * collisions, which the verify filter removes), not by corpus size —
    * unlike 2-char blocking there is no saturation cliff, so no
    * `graft.block.maxBucket` guard is needed. The candidate self-join
    * shuffles only (id, 64-bit key) pairs — |s|+1 fixed-width rows per
    * string, length-INDEPENDENT — and the strings are joined back just
    * for the (few) surviving pairs' verify step; carrying the string
    * through the variant explode instead would shuffle O(len²) bytes
    * per string, which long keys turn into the dominant cost.
    */
  def editDistancePairsDeletion(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2, got $maxDist")
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val nbrs =
      if (maxDist == 1) {
        // index 0 keeps s itself; index i in 1..len deletes character i.
        // array_distinct collapses equal variants (doubled characters,
        // and all deletions inside a run) before the explode so a pair
        // is not joined once per duplicate.
        base.select(col("id"),
          explode(array_distinct(transform(
            sequence(lit(0), length(col("s"))),
            i => when(i === 0, col("s")).otherwise(
              concat(col("s").substr(lit(1), i - 1),
                col("s").substr(i + 1, length(col("s")) - i)))))).as("v"))
          .select(col("id"), xxhash64(col("v")).as("k"))
      } else {
        // maxDist = 2: the 2-deletion neighborhood is ~len^2/2 variants
        // per string, so the blowup is quadratic in STRING LENGTH (not
        // corpus size) — guarded by `graft.fuzzy.maxLen` (default 64:
        // ~2k variants/string; entity-resolution strings — names,
        // titles, ids — sit far below it). The guard refuses, naming
        // the conf, instead of silently exploding a long-document
        // column that should be deduped by shingles, not edit distance.
        val spark = df.sparkSession
        val key = "graft.fuzzy.maxLen"
        val maxLen = spark.conf.getOption(key).map(_.trim.toInt).getOrElse(64)
        val longest = base.agg(max(length(col("s")))).collect().head
        val actual = if (longest.isNullAt(0)) 0 else longest.getInt(0)
        if (actual > maxLen) throw new IllegalArgumentException(
          s"longest string has $actual chars > $key=$maxLen: the 2-deletion " +
            s"neighborhood would hold ~${actual.toLong * actual / 2} variants per string. " +
            s"Raise $key, or use shingle-based dedup (Dedup.minhashPairs) for long text.")
        // variant generation runs as a typed flatMap (the doubly-nested
        // index loop has no codegen-friendly Column form); the variants
        // are xxhash64-hashed in the SAME stage, so — exactly like the
        // maxDist = 1 path — only (id, long) rows ever reach a shuffle.
        import spark.implicits._
        base.select(col("id").cast("long"), col("s")).as[(Long, String)].flatMap { case (id, s) =>
          val out = scala.collection.mutable.LinkedHashSet[String](s)
          var i = 0
          while (i < s.length) {
            val d1 = s.substring(0, i) + s.substring(i + 1)
            out += d1
            var j = 0
            while (j < d1.length) { out += d1.substring(0, j) + d1.substring(j + 1); j += 1 }
            i += 1
          }
          out.iterator.map(v => (id, v))
        }.toDF("id", "v")
          .select(col("id"), xxhash64(col("v")).as("k"))
      }
    // The candidate self-join is ALSO shuffle-hash-hinted: the variant
    // frame explodes ~len rows per string off a small parquet source,
    // and Catalyst's static estimate stays near the SOURCE size — at
    // the 1000x tier the planner tried to broadcast ~1.2 GB of actual
    // (id, hash) rows (driver maxResultSize abort). Per-partition hash
    // builds scale; driver-side broadcasts of estimate-defying frames
    // do not.
    val cand = nbrs.hint("shuffle_hash").as("l").join(nbrs.as("r"),
        col("l.k") === col("r.k") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      // dedup BEFORE scoring: a pair sharing m neighborhood elements
      // would otherwise pay m levenshtein evaluations
      .dropDuplicates("id_a", "id_b")
    // The verify joins carry a SHUFFLE_HASH hint on the corpus side:
    // Catalyst's static size estimate for `cand` (a self-join behind a
    // dropDuplicates) is a gross UNDERestimate, and without the hint
    // the planner broadcast the candidate side — at the 1000x soak
    // tier that tried to collect ~1.2 GB of actual pairs to the driver
    // (spark.driver.maxResultSize abort), and at 100 TB it is fatal by
    // construction. Hashing the corpus side per partition is the shape
    // that scales: both sides shuffle by id (cand rows are fixed-width
    // longs), and the build side is the bounded corpus, never the
    // estimate-defying candidate set. Pinned in PlanSpec (no broadcast
    // exchange anywhere in the q102 plan).
    cand
      .join(base.select(col("id").as("id_a"), col("s").as("sa")).hint("shuffle_hash"), "id_a")
      .join(base.select(col("id").as("id_b"), col("s").as("sb")).hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"), levenshtein(col("sa"), col("sb"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Token-level Jaccard similarity restricted to blocking buckets
    * (same lang, similar length) — the bounded n-gram-Jaccard near-dup
    * scan. Blocking turns the quadratic step into per-bucket work.
    * Token sets are 31-bit-hashed once map-side so the per-pair set
    * arithmetic runs on sorted long arrays, not strings (identical
    * Jaccard modulo hash collisions; the oracle hashes the same way).
    *
    * Scale honesty: bucket population grows linearly with the corpus,
    * so within-bucket pairs grow quadratically — this exact variant is
    * for corpora/buckets that fit the budget, and it refuses (via
    * [[requireBoundedBlocks]], `graft.block.maxBucket`) when a bucket
    * is large enough that the self-join would explode; at 100 TB use
    * [[ngramJaccardPairsLsh]] (LSH bands bound bucket cohabitation by
    * similarity, not by corpus size).
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val base = graft.GraftCache.registered(docs.select(col("doc_id"), col("lang"),
        (col("n_chars") / 64).cast("long").as("len_bucket"),
        array_sort(array_distinct(transform(tokenize(col("text")), t => h31(t)))).as("toks")))
    requireBoundedBlocks(base.select(col("lang"), col("len_bucket")),
      Seq(col("lang"), col("len_bucket")), "Dedup.ngramJaccardPairsLsh")
    // J(A,B) >= t bounds the set sizes: t*|B| <= |A ∩ B| <= |A| (and
    // symmetrically), so the size-ratio predicate below is LOSSLESS —
    // it prunes pairs before the per-pair merge scan runs. Sizes ride
    // in the join condition; the merge-scan Jaccard (sorted sets + the
    // union identity, see [[verifyCandidatesWithSets]]) runs only on
    // surviving pairs.
    base.as("l").join(base.as("r"),
        col("l.lang") === col("r.lang") && col("l.len_bucket") === col("r.len_bucket") &&
          col("l.doc_id") < col("r.doc_id") &&
          size(col("l.toks")).cast("double") >= lit(threshold) * size(col("r.toks")) &&
          size(col("r.toks")).cast("double") >= lit(threshold) * size(col("l.toks")))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        graft.plans.SortedIntersectCount.sorted_intersect_count(col("l.toks"), col("r.toks")).as("inter"),
        size(col("l.toks")).as("na"), size(col("r.toks")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Duplicated-substring SPANS (the token-level form of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — their unit is a 50-char substring over a
    * suffix array; ours is an `l`-token gram over a distributed
    * hash-count, the shape that parallelizes): a position is
    * duplicated when the `l`-gram starting there occurs >= `minCount`
    * times across the whole corpus (within-doc repeats included, as in
    * the paper); overlapping/adjacent duplicated grams merge into
    * maximal spans via a per-doc gaps-and-islands window.
    *
    * Scale: gram hashing is map-side (`h31`, so the oracle replays it);
    * only fixed-width (doc_id, start, hash) longs ever shuffle — gram
    * STRINGS never leave the map stage. Three shuffles total: count by
    * hash, hash-join occurrences to the duplicated-hash set, and one
    * per-doc window; each is keyed, never all-pairs. The occurrence
    * frame is read twice (count + join) and is persisted via
    * [[graft.GraftCache]].
    *
    * Output: (doc_id, span_start, span_end, span_len) in 1-based token
    * positions, one row per maximal duplicated span.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String, l: Int = 5,
      minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(l >= 2, "dupSpans: gram length >= 2")
    val occ = graft.GraftCache.registered(
      docs.select(col(idCol).as("doc_id"),
          posexplode(shingles(tokenize(col(textCol)), l)).as(Seq("p0", "gram")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("s"), h31(col("gram")).as("gh")))
    val dup = occ.groupBy(col("gh")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount).select(col("gh"))
    val hits = occ.join(dup, Seq("gh"))
      .select(col("doc_id"), col("s"), (col("s") + (l - 1)).as("e"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val prevMax = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("fresh",
        when(prevMax.isNull || col("s") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("fresh"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** At-rest dedup index for INCREMENTAL ingestion — the production
    * shape at 100 TB: the already-ingested corpus is summarized ONCE
    * into three skinny parquet tables under `path`, and every new
    * batch dedups against those summaries without ever re-reading (or
    * re-shingling) the corpus itself:
    *
    *   - `fingerprints/` (fp)                — exact-dup keys
    *   - `bands/` (doc_id, band, band_key)   — LSH band buckets
    *   - `sets/`  (doc_id, hs)               — sorted shingle-hash sets
    *                                           for candidate verify
    *
    * Index bytes are O(corpus docs), not O(corpus bytes): a fingerprint
    * row is 32 hex chars, a band row ~3 longs' worth, and `hs` the
    * distinct shingle hashes — the 100 TB corpus's text never lives in
    * the index. Signatures and sets come out of ONE aggregation (the
    * q51 lesson), and banding goes through [[bandKeys]] so index
    * buckets are bit-identical to in-session LSH.
    */
  def writeDedupIndex(corpus: DataFrame, idCol: String, textCol: String, path: String,
      k: Int = 8, bands: Int = 2): Unit = {
    val sigSets = graft.GraftCache.registered(
      shingleHashes(corpus, idCol, textCol).groupBy(col("doc_id"))
        .agg(min(permuted(col("h"), 0)).as("mh0"),
          (1 until k).map(i => min(permuted(col("h"), i)).as(s"mh$i")) :+
            sort_array(collect_set(col("h"))).as("hs"): _*))
    corpus.select(fingerprint(col(textCol)).as("fp")).distinct()
      .write.mode("overwrite").parquet(s"$path/fingerprints")
    bandKeys(sigSets, k, bands)
      .write.mode("overwrite").parquet(s"$path/bands")
    sigSets.select(col("doc_id"), col("hs"))
      .write.mode("overwrite").parquet(s"$path/sets")
  }

  /** Incremental dedup of a new batch against a [[writeDedupIndex]]
    * index: per new doc, verdict `exact_dup` (fingerprint already in
    * the corpus), `near_dup` (an LSH band collision with a corpus doc
    * verified at Jaccard >= `threshold`), or `kept` — exact wins when
    * both hold (it is the stronger claim, and the near check on an
    * exact copy is redundant work the verdict order makes harmless).
    *
    * Scale: the batch shingles/hashes map-side; the exact check is a
    * semi-join on fingerprints; candidates come from a keyed join of
    * batch band keys against the at-rest buckets (the shuffle key is
    * the bucket — corpus×batch pairs never materialize); the verify
    * join touches only colliding (new, corpus) pairs and runs the same
    * sorted-merge intersect kernel as [[pairsFromHashes]]. Nothing in
    * the plan scales with corpus TEXT bytes — only with index rows and
    * collision counts.
    */
  def dedupAgainstIndex(newDocs: DataFrame, idCol: String, textCol: String, path: String,
      threshold: Double = 0.6, k: Int = 8, bands: Int = 2): DataFrame = {
    val sigSets = graft.GraftCache.registered(
      shingleHashes(newDocs, idCol, textCol).groupBy(col("doc_id"))
        .agg(min(permuted(col("h"), 0)).as("mh0"),
          (1 until k).map(i => min(permuted(col("h"), i)).as(s"mh$i")) :+
            sort_array(collect_set(col("h"))).as("hs"): _*))
    dedupAgainstIndexCore(newDocs, idCol, textCol, path, sigSets, k, bands, threshold)
  }

  /** The probe side shared by [[dedupAgainstIndex]] (fixed-table
    * signatures) and [[dedupAgainstIndexContract]] (affine signatures
    * at the index's persisted geometry): exact fingerprint semi-join,
    * band-keyed candidate join, sorted-intersect verify.
    */
  private def dedupAgainstIndexCore(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, sigSets: DataFrame, k: Int, bands: Int, threshold: Double): DataFrame = {
    val spark = newDocs.sparkSession
    val idxFp = spark.read.parquet(s"$path/fingerprints")
    val idxBands = spark.read.parquet(s"$path/bands")
      .select(col("doc_id").as("corpus_id"), col("band"), col("band_key"))
    val idxSets = spark.read.parquet(s"$path/sets")
      .select(col("doc_id").as("corpus_id"), col("hs").as("corpus_hs"))
    val base = newDocs.select(col(idCol).cast("long").as("doc_id"),
      fingerprint(col(textCol)).as("fp"))
    val exactIds = base.join(idxFp, Seq("fp"), "left_semi")
      .select(col("doc_id"), lit("exact_dup").as("v_exact"))
    val cand = bandKeys(sigSets, k, bands)
      .join(idxBands, Seq("band", "band_key"))
      .select(col("doc_id"), col("corpus_id")).distinct()
    val nearIds = cand
      .join(sigSets.select(col("doc_id"), col("hs")), Seq("doc_id"))
      .join(idxSets, Seq("corpus_id"))
      .select(col("doc_id"),
        graft.plans.SortedIntersectCount.sorted_intersect_count(col("hs"), col("corpus_hs")).as("inter"),
        size(col("hs")).as("na"), size(col("corpus_hs")).as("nb"))
      .filter(round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"), 6) >= threshold)
      .select(col("doc_id")).distinct()
      .withColumn("v_near", lit("near_dup"))
    base.select(col("doc_id"))
      .join(exactIds, Seq("doc_id"), "left_outer")
      .join(nearIds, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("v_exact"), col("v_near"), lit("kept")).as("verdict"))
  }

  /** Affine-family signature/set aggregate at width `k` — the builder
    * shared by [[pairsFromHashesAffine]]-style in-session pairing and
    * the contract index write/probe sides (ONE definition, so an index
    * written today always agrees with a batch signed tomorrow).
    */
  private def sigSetsAffine(sh: DataFrame, k: Int): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(min(permutedAffine(col("h"), 0)).as("mh0"),
        (1 until k).map(i => min(permutedAffine(col("h"), i)).as(s"mh$i")) :+
          sort_array(collect_set(col("h"))).as("hs"): _*)

  /** [[writeDedupIndex]] at a CONTRACT-derived geometry, with the
    * geometry PERSISTED: (rows, bands) come from [[minhashGeometryFor]]
    * — not the legacy (4, 2) whose measured curve (q253) misses ~80%
    * of pairs at J ≈ 0.55 — and are written to `_geometry/` inside the
    * index (underscore-prefixed, invisible to partition discovery —
    * the [[graft.operators.Similarity.writeIvfIndex]] `_centroids`
    * convention). The legacy pair trusted the CALLER to re-supply the
    * writer's (k, bands) at probe time — a silent recall hole when
    * they drift (a batch signed at a different width simply never
    * cohabits a band). [[dedupAgainstIndexContract]] reads the
    * persisted geometry instead, so writer and prober cannot disagree.
    * Signatures use the index-generated affine family, which replays
    * at any contract width.
    */
  def writeDedupIndexContract(corpus: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double = 0.6, targetRecallMicro: Long = 900000L,
      bgMicro: Long = 100000L, maxFpMicro: Long = 10000L): Unit = {
    val thresholdMicro = math.round(threshold * 1000000L)
    val (r, b) = minhashGeometryFor(thresholdMicro, targetRecallMicro, bgMicro, maxFpMicro)
    val k = r * b
    val spark = corpus.sparkSession
    import spark.implicits._
    val sigSets = graft.GraftCache.registered(
      sigSetsAffine(shingleHashes(corpus, idCol, textCol), k))
    corpus.select(fingerprint(col(textCol)).as("fp")).distinct()
      .write.mode("overwrite").parquet(s"$path/fingerprints")
    bandKeys(sigSets, k, b)
      .write.mode("overwrite").parquet(s"$path/bands")
    sigSets.select(col("doc_id"), col("hs"))
      .write.mode("overwrite").parquet(s"$path/sets")
    Seq((r, b, thresholdMicro))
      .toDF("rows", "bands", "threshold_micro")
      .write.mode("overwrite").parquet(s"$path/_geometry")
  }

  /** [[dedupAgainstIndex]] against a [[writeDedupIndexContract]] index:
    * the batch is signed at the geometry READ FROM the index's
    * `_geometry/` metadata — the caller supplies no (k, bands) at all,
    * so the write-time contract governs every future probe. Verdict
    * semantics identical to the legacy prober (exact wins over near
    * wins over kept); probe cost tracks the batch and its band
    * collisions, never corpus text bytes.
    */
  def dedupAgainstIndexContract(newDocs: DataFrame, idCol: String, textCol: String,
      path: String): DataFrame =
    dedupAgainstIndexContract(newDocs, idCol, textCol, path,
      readDedupIndexGeometry(newDocs.sparkSession, path))

  /** The contract probe with the geometry ALREADY READ — for callers
    * that probe the same index many times (a micro-batch stream): read
    * `_geometry/` once with [[readDedupIndexGeometry]] at pipeline
    * construction, then probe per batch without re-reading the
    * metadata. Same refusal semantics (the read refuses a legacy
    * index); passing a hand-built tuple instead of the read's result
    * re-opens the drift hole the contract closes — don't.
    */
  def dedupAgainstIndexContract(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, geometry: (Int, Int, Double)): DataFrame = {
    val (r, b, threshold) = geometry
    val k = r * b
    val sigSets = graft.GraftCache.registered(
      sigSetsAffine(shingleHashes(newDocs, idCol, textCol), k))
    dedupAgainstIndexCore(newDocs, idCol, textCol, path, sigSets, k, b, threshold)
  }

  /** Read a [[writeDedupIndexContract]] index's persisted geometry:
    * (rows, bands, threshold). Refuses (no `_geometry/`, or not
    * exactly one row) on a legacy caller-trusted-geometry index.
    */
  def readDedupIndexGeometry(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Double) = {
    val g = spark.read.parquet(s"$path/_geometry").collect()
    require(g.length == 1,
      s"dedupAgainstIndexContract: $path/_geometry must hold exactly one geometry row " +
        s"(found ${g.length}) — was the index written by writeDedupIndexContract?")
    (g.head.getAs[Int]("rows"), g.head.getAs[Int]("bands"),
      g.head.getAs[Long]("threshold_micro").toDouble / 1000000.0)
  }

  /** Substring-level dedup: drop every token covered by a
    * [[dupSpans]] span and reassemble the surviving tokens (the
    * paper's aggressive variant — ALL occurrences of a duplicated
    * span are removed, which is the deterministic contract; keep-first
    * requires a global owner election per span cluster). All docs are
    * returned, including untouched ones (n_removed = 0) and fully-
    * boilerplate ones (clean_text = '').
    *
    * Scale: the spans frame is keyed by doc and bounded by token
    * count; the removal itself is MAP-SIDE — spans aggregate to one
    * array per doc, ride a single key join back to the doc row, and a
    * codegen `filter(tokens, (tok, i) -> !exists(spans covering i))`
    * rebuilds the text without any per-token shuffle.
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String, l: Int = 5,
      minCount: Long = 2L): DataFrame = {
    val spans = dupSpans(docs, idCol, textCol, l, minCount)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.select(col(idCol).as("doc_id"), tokenize(col(textCol)).as("tk"))
      .join(spans, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("tk"),
        when(col("spans").isNull, col("tk")).otherwise(
          filter(col("tk"), (_, i) => !exists(col("spans"),
            sp => i + 1 >= sp("span_start") && i + 1 <= sp("span_end"))))
          .as("kept"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Canonical-document selection per near-duplicate cluster — the
    * "which duplicate do you keep" step of a production dedup pass.
    * [[CorpusPipeline.clean]] keeps each cluster's min-label member
    * (arbitrary but deterministic); the standard refinement in
    * quality-aware pipelines is keeping the BEST member, ranked by
    * (quality DESC, doc_id ASC).
    *
    * `scored` carries (doc_id, quality); `pairs` is any near-dup pair
    * frame (doc_a, doc_b). Clusters are the EXACT connected components
    * of the pair graph ([[connectedComponents]] — O(log² n) rounds);
    * docs in no pair are their own singleton cluster. The winner
    * election is ONE `max_by` hash aggregate keyed on the cluster
    * label — partial aggregation on the map side, no per-cluster sort,
    * so the shuffle carries at most one candidate row per cluster per
    * map partition regardless of cluster size.
    *
    * Scale: the labels frame holds only docs that appear in some pair
    * (dup clusters are a small fraction of a deduped corpus), so the
    * attach join broadcasts under AQE; the corpus-sized `scored` frame
    * never reshuffles for it.
    */
  def keepBestPerCluster(scored: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = connectedComponents(pairs)
    scored.join(labels, scored("doc_id") === labels("doc"), "left_outer")
      .select(scored("doc_id"),
        coalesce(col("label"), scored("doc_id")).as("cluster"), col("quality"))
      .groupBy(col("cluster"))
      .agg(
        max_by(col("doc_id"), struct(col("quality"), lit(0L) - col("doc_id"))).as("kept_doc"),
        max(col("quality")).as("kept_quality"),
        count(lit(1)).as("n_docs"))
  }

  /** CONTAINMENT near-dup pairs via rare-shingle blocking: detects a
    * document substantially contained in another (quotes, excerpts,
    * page-of-a-chapter) — the asymmetric case Jaccard-based MinHash
    * structurally under-weights (a 50-shingle doc inside a
    * 5000-shingle doc has Jaccard ≈ 0.01 but containment 1.0).
    *
    * Candidates: entity-resolution-style rare-feature blocking — two
    * docs are compared iff they share a shingle whose document
    * frequency is in [2, maxDf]. Every containing pair with at least
    * one rare shingle in the contained doc is found; pairs sharing
    * only ubiquitous boilerplate are (deliberately) not candidates —
    * that regime belongs to [[chunkFingerprints]]. Per-shingle
    * candidate fan-out is ≤ maxDf², and the block join is guarded by
    * [[requireBoundedBlocks]] like every other blocked self-join.
    *
    * Verification is exact: `|A∩B| · 10⁶ div min(|A|,|B|)` over the
    * distinct shingle-hash sets (integer micro-containment — the
    * oracle replays it bit-for-bit via the shared h31 hash). The
    * intersection join carries candidate pairs × the smaller doc's
    * shingles, never the corpus cross product.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Int = 5, thresholdMicro: Long = 500000L): DataFrame = {
    val sh = graft.GraftCache.registered(
      shingleHashes(docs, idCol, textCol).distinct())
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val rare = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select(col("h"))
    val blocked = sh.join(rare, "h")
    requireBoundedBlocks(blocked, Seq(col("h")),
      s"a smaller maxDf (currently $maxDf: rare-shingle blocking saturates when maxDf admits boilerplate shingles)")
    val cand = blocked.as("l").join(blocked.as("r"),
        col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .withColumn("containment_micro",
        expr("(n_inter * 1000000) div least(na, nb)"))
      .filter(col("containment_micro") >= thresholdMicro)
      .select(col("doc_a"), col("doc_b"),
        col("n_inter").cast("int").as("n_inter"),
        col("na").cast("int").as("na"), col("nb").cast("int").as("nb"),
        col("containment_micro"))
  }

  /** Sliding token windows as (chunk_id, chunk_text) units — the
    * passage-level granularity for [[lshRecallAudit]] (and any other
    * (id, text) operator). Overlapping windows at stride s of width w
    * carry a DETERMINISTIC Jaccard ladder — neighbours share
    * ≈ (w−s−2)/(w+s−2) of their 3-shingles, distance-2 neighbours
    * ≈ (w−2s−2)/(w+2s−2), … — which is what lets a recall audit
    * exercise the banding S-curve even on a corpus whose document
    * pairs are bimodal (all-or-nothing similarity, like the synthetic
    * testdata). chunk_id = doc_id·1024 + window index (docs to 8 192
    * tokens and ids to 2^52 fit a long); docs shorter than w tokens
    * contribute nothing. Everything stays inside whole-stage codegen
    * (tokenize → explode(sequence) → slice/concat).
    */
  def slidingTokenChunks(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 32, stride: Int = 8): DataFrame = {
    require(stride >= 1 && w > stride,
      s"need stride >= 1 and w > stride (overlapping windows), got (w=$w, stride=$stride)")
    // chunk_id packs 1024 window slots per doc — a doc long enough to
    // produce window index > 1023 (size > w + 1023*stride tokens)
    // would silently collide into the NEXT doc_id's chunk space and
    // corrupt any audit built on these units, and a doc_id >= 2^52
    // would overflow the *1024 shift. Both are asserted per row
    // (assert_true returns NULL on pass, throws on violation — zero
    // cost on valid data, loud plan error instead of corrupt ids).
    val maxTokens = w.toLong + 1023L * stride
    docs.select(col(idCol).cast("long").as("doc_id"),
        graft.functions.Tokenize.arr(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= w)
      .filter(assert_true(size(col("tk")) <= maxTokens && col("doc_id") < (1L << 52)
          && col("doc_id") >= 0,
        concat(lit(s"slidingTokenChunks: doc_id must be in [0, 2^52) and docs at most " +
          s"$maxTokens tokens (w=$w + 1023*stride=$stride) — window index would escape " +
          "the 1024-slot chunk_id space; raise stride/w or pre-split the doc. doc_id="),
          col("doc_id"))).isNull)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - (w - 1), lit(stride))).as("st"))
      .select(
        expr(s"doc_id * 1024 + (st - 1) div $stride").as("chunk_id"),
        concat_ws(" ", slice(col("tk"), col("st"), lit(w))).as("chunk_text"))
  }

  /** LSH recall audit: measures the MinHash banding S-curve against an
    * LSH-INDEPENDENT exact-Jaccard ground truth — the recall contract a
    * release pipeline should know before trusting [[minhashPairs]]'s
    * (k, bands) geometry on a new corpus shape. [[containmentPairs]]
    * and q117/q248 grade sketch ERROR; nothing on the board measured
    * banding RECALL, which is the quantity that silently decays when a
    * corpus's duplicate mass sits below the S-curve knee
    * (P[caught | J] = 1 − (1 − J^r)^b ≈ 1.6% at J = 0.3 for r=4, b=2).
    *
    * Ground truth: rare-shingle blocked pairs (df ∈ [2, maxDf] — the
    * same entity-resolution blocking as [[containmentPairs]], bounded
    * by [[requireBoundedBlocks]]) with exact hashed-set Jaccard ≥
    * `floorMicro`, bucketed by decile. Caught: the pair cohabits at
    * least one band of the k/bands MinHash signature built from the
    * SAME persisted hashed-shingle frame (blocking, verification, and
    * signatures read it once). Recall is reported in integer micros
    * via `div` — operands nonnegative, so DuckDB `//` replays it
    * bit-for-bit. The truth set is the blocked stratum, not all O(n²)
    * pairs: pairs sharing only ubiquitous shingles are out of scope by
    * construction (the same regime split [[containmentPairs]]
    * documents), which is what keeps the audit linear-ish at corpus
    * scale — every join here is either bucket-bounded or banded.
    */
  def lshRecallAudit(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Int = 5, k: Int = 8, bands: Int = 2,
      floorMicro: Long = 300000L, affine: Boolean = false): DataFrame = {
    require(affine || k <= MinhashA.length,
      s"k=$k exceeds the fixed permutation table (${MinhashA.length}): pass affine=true " +
        "for wider geometries (the index-generated family supports any k)")
    // Collapse identical shingle-SET classes to one representative and
    // carry the multiplicity — the q72 saturation lesson applied to the
    // audit itself (a replica-heavy corpus turns the band join into
    // m²-per-class work and its duplicate mass masks shingle rarity).
    // The collapse is EXACT, not approximate: signature, band keys and
    // Jaccard depend only on the set, so a cross-class truth pair
    // represents m_a·m_b raw pairs with the same jaccard and the same
    // caught bit, and within-class pairs (jac = 1, guaranteed caught —
    // identical sets give identical mins) are emitted analytically as
    // the bucket-10 row without joining at all. Rarity (df ∈ [2,
    // maxDf]) is counted across CLASSES, so exact copies cannot turn a
    // discriminative shingle into "boilerplate".
    // two-stage collapse: identical TEXT first (one cheap string
    // shuffle collapses replica mass before any shingling — at the
    // x100 soak tier this is the difference between shingling 45M
    // chunks and shingling 450k representatives), then identical SET
    // (the rare permuted-token remainder). Text groups partition each
    // set class, so summed multiplicities and min-of-min reps are
    // exactly the one-stage result.
    // cached: texts feeds BOTH the shingling and the multiplicity join
    // below — uncached, the class-cache fill job would run the chunk
    // build + text collapse twice (the dominant x100 cost)
    val texts = graft.GraftCache.registered(docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("txt"))
      .groupBy(col("txt"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("mt")))
    // hs as array<int> (lossless for the 31-bit hash, same sort order):
    // §2.3 — the audit's dominant x100 stage is attaching hs_a/hs_b to
    // ~148M truth-candidate pairs through two exchanges (stage-break in
    // NOTES_r14), and the int sets halve exactly those bytes. Only the
    // collect_set payload is cast; `shingleHashes` keeps its long `h`.
    // The `h` that `sh` explodes back out of `hs` (and so rare/blocked/
    // sigs) is int, and the affine permutations multiply it by long
    // literals, so every derived value is bit-identical.
    val classes = graft.GraftCache.registered(
      shingleHashes(texts, "doc_id", "txt").distinct()
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("h").cast("int"))).as("hs"))
        .join(texts.select(col("doc_id"), col("mt")), "doc_id")
        .groupBy(col("hs"))
        .agg(min(col("doc_id")).as("doc_id"), sum(col("mt")).as("m")))
    val sh = graft.GraftCache.registered(
      classes.select(col("doc_id"), explode(col("hs")).as("h")))
    val rare = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select(col("h"))
    val blocked = sh.join(rare, "h")
    requireBoundedBlocks(blocked, Seq(col("h")),
      s"a smaller maxDf (currently $maxDf: rare-shingle blocking saturates when maxDf admits boilerplate shingles)")
    // persisted for the same reason as [[simhashRecallAudit]]'s truth
    // pairs: cache-isolate the TRUTH stage (blocked self-join +
    // distinct) from the banding probe, so a warm re-run rides the
    // materialized pair set instead of re-running the self-join inside
    // the same plan that probes bands. Bounded by requireBoundedBlocks.
    val cand = graft.GraftCache.registered(
      blocked.as("l").join(blocked.as("r"),
          col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct())
    val truth = scoredCandidates(cand, classes.select(col("doc_id"), col("hs")))
      .select(col("doc_a"), col("doc_b"),
        expr("(cast(inter as bigint) * 1000000) div " +
          "(cast(na as bigint) + cast(nb as bigint) - cast(inter as bigint))").as("jac_micro"))
      .filter(col("jac_micro") >= floorMicro)
      .join(classes.select(col("doc_id").as("doc_a"), col("m").as("m_a")), "doc_a")
      .join(classes.select(col("doc_id").as("doc_b"), col("m").as("m_b")), "doc_b")
    val sigs = if (affine) signaturesFromHashesAffine(sh, k)
      else signaturesFromHashes(sh, k)
    val caught = minhashCandidates(sigs, k, bands)
      .withColumn("caught", lit(1L))
    // recall numerator in DECIMAL(38,0): weighted pair counts reach
    // ~1e13 on replica corpora, so × 1e6 would wrap a long (the q243
    // sMAPE precedent); div on decimals floors exactly like // does
    val cross = truth.join(caught, Seq("doc_a", "doc_b"), "left_outer")
      .groupBy(expr("cast(jac_micro div 100000 as int)").as("j_bucket"))
      .agg(sum(expr("m_a * m_b")).as("n_truth"),
        sum(expr("m_a * m_b * coalesce(caught, 0L)")).as("n_caught"))
    val within = classes.filter(col("m") >= 2)
      .agg(sum(expr("m * (m - 1) div 2")).as("n_truth"))
      .filter(col("n_truth") > 0)
      .select(lit(10).as("j_bucket"), col("n_truth"),
        col("n_truth").as("n_caught"))
    cross.unionByName(within)
      .groupBy(col("j_bucket"))
      .agg(sum(col("n_truth")).as("n_truth"), sum(col("n_caught")).as("n_caught"))
      .withColumn("recall_micro",
        expr("cast((cast(n_caught as decimal(38,0)) * 1000000) div n_truth as bigint)"))
      .orderBy(col("j_bucket"))
  }
}
