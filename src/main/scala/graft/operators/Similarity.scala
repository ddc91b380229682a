package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (one scan, TakeOrdered — no
  * shuffle of the corpus). Scale paths: random-hyperplane LSH buckets
  * (candidates only within a bucket) and an IVF-style coarse partition
  * (search only the probed cell). Cosine dot products go through the
  * custom codegen kernel [[graft.plans.ArrayDotProduct]]; squared
  * distances to centroids are `aggregate` / `zip_with` higher-order
  * functions — codegen'd, no UDFs.
  *
  * Engine-portability: hyperplane weights derive from md5 of
  * (plane, dim) so the DuckDB oracle computes the identical planes;
  * cosine scores are rounded to 6 decimals before any ordering or
  * thresholding so last-ulp summation noise can't flip a comparison.
  */
object Similarity {

  /** Cosine similarity of two `array<double>` columns (computed in
    * double; cast float arrays first). Dot products go through the
    * custom codegen kernel [[graft.plans.ArrayDotProduct]] — bit-equal
    * to the `aggregate(zip_with(...))` fold but without per-row
    * intermediate arrays.
    */
  def cosine(a: Column, b: Column): Column = {
    import graft.plans.ArrayDotProduct.array_dot
    array_dot(a, b) / (sqrt(array_dot(a, a)) * sqrt(array_dot(b, b)))
  }

  def toDoubleVec(c: Column): Column = transform(c, v => v.cast("double"))

  /** L2 norm of an `array<double>` column. */
  def norm(a: Column): Column =
    sqrt(graft.plans.ArrayDotProduct.array_dot(a, a))

  /** Cosine from precomputed norms: for pairwise workloads the norms
    * are computed once per vector map-side instead of once per pair —
    * 3x less per-pair work. Same arithmetic as [[cosine]], so results
    * are bit-identical.
    */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    graft.plans.ArrayDotProduct.array_dot(a, b) / (na * nb)

  /** Brute-force cosine top-k against one query vector: broadcast the
    * query, score map-side, TakeOrdered(k). At 100 TB this is the
    * one-pass exact baseline — O(k) driver state.
    */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryId)
      .select(toDoubleVec(col("embedding")).as("q_emb"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(toDoubleVec(col("embedding")), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** k-NN join for a set of query ids: per query, top-k neighbors via a
    * ranking window. Queries are broadcast; corpus is scanned once.
    */
  def knnJoin(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), toDoubleVec(col("embedding")).as("q_emb"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(toDoubleVec(col("embedding")), col("q_emb")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rn"))
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * md5-derived integer mapped to [-1, 1). Engine-portable.
    */
  def planeWeight(plane: Column, dim: Column): Column =
    (pmod(graft.plans.Md5Prefix32.md5prefix32(concat_ws("_", lit("plane"), plane, dim)),
      lit(2001L)) - 1000L).cast("double") / 1000.0

  /** Bit-exact driver-side replay of [[planeWeight]] — the weights are
    * constants per (plane, dim), so they are computed ONCE here and
    * shipped as array literals instead of re-deriving an md5 digest per
    * element per row (the old zip_with form cost planes*dim digests per
    * vector — ~240 us/vector at 8x64, measured at the 100x soak tier).
    */
  def planeWeightLocal(p: Int, d: Int): Double =
    (graft.plans.Md5Hash.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"plane_${p}_$d")) % 2001L - 1000L)
      .toDouble / 1000.0

  /** Exact blocked embedding near-dup: all pairs within a blocking
    * column (a label / cluster / cell id) above a cosine threshold.
    * Quadratic WITHIN a block by design — per-block population grows
    * with the corpus, so this refuses (via
    * [[Dedup.requireBoundedBlocks]], `graft.block.maxBucket`) when a
    * block is large enough that the self-join would explode; at 100 TB
    * use [[nearDupByLsh]], whose buckets subdivide by direction.
    */
  def nearDupExactBlocked(emb: DataFrame, blockCol: String, threshold: Double): DataFrame = {
    val e = emb
      .select(col("vec_id"), col(blockCol).as("blk"), toDoubleVec(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
    blockedCosinePairs(e, "blk", "Similarity.nearDupByLsh", threshold)
  }

  /** The blocked self-join every pair path shares: (l, r) rows of `f`
    * that agree on every key, with l.vec_id < r.vec_id. Refuses first,
    * naming `lever`, when a block is large enough that the quadratic
    * join would explode ([[Dedup.requireBoundedBlocks]]).
    */
  private def blockSelfJoin(f: DataFrame, keys: Seq[String], lever: String): DataFrame = {
    Dedup.requireBoundedBlocks(f.select(keys.map(col): _*), keys.map(col), lever)
    f.as("l").join(f.as("r"),
      keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
        col("l.vec_id") < col("r.vec_id"))
  }

  /** Same-block pairs of `e` (vec_id, key, e, nrm) at cosine ≥
    * `threshold`, scored inside the self-join.
    */
  private def blockedCosinePairs(e: DataFrame, key: String, lever: String,
      threshold: Double): DataFrame =
    blockSelfJoin(e, Seq(key), lever)
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
        round(cosineWithNorms(col("l.e"), col("r.e"), col("l.nrm"), col("r.nrm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)

  /** Cosine verification of skinny candidates (vec_a, vec_b): each side
    * attaches its vector and norm from `e` (vec_id, e, nrm) by a hash
    * join, and pairs at cosine ≥ `threshold` are kept.
    */
  private def verifiedPairs(cand: DataFrame, e: DataFrame, threshold: Double): DataFrame =
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("e").as("e_a"), col("nrm").as("n_a")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("e").as("e_b"), col("nrm").as("n_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(cosineWithNorms(col("e_a"), col("e_b"), col("n_a"), col("n_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)

  /** All same-LSH-bucket vector pairs above a cosine threshold — the
    * scale path for embedding near-dup (the label-blocked exact variant
    * in q55 is quadratic within a label cell, which grows with the
    * corpus; hyperplane buckets subdivide by direction).
    *
    * SCALING RULE (same shape as the simhash bands, measured at the
    * 100x soak tier where planes=8 saturated to exp 1.33): there are
    * 2^planes buckets, so bucket population grows ~N/2^planes and
    * within-bucket pairs grow quadratically once buckets saturate.
    * Size `planes >= log2(N) - log2(target bucket)` — e.g. 16 planes
    * holds ~15k-vector buckets at N = 10^9. Guarded by
    * `graft.block.maxBucket` like the other blocked self-joins; the
    * error names this lever.
    */
  def nearDupByLsh(emb: DataFrame, planes: Int, dim: Int, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
      .withColumn("bucket", lshBucket(col("e"), planes, dim))
      .withColumn("nrm", norm(col("e")))
    blockedCosinePairs(e, "bucket",
      s"more hyperplanes (planes > $planes: buckets = 2^planes, currently ${1L << planes})", threshold)
  }

  /** Smallest plane count p ≥ `minPlanes` with n / 2^p ≤ `target` —
    * the hyperplane-count sizing rule as a pure, integer-exact
    * function (no floating-point log near a boundary can flip the
    * result, so the SQL oracle replays it bit-for-bit with an
    * integer-corrected LOG2). Capped at 62 so the bucket id stays in a
    * signed long.
    */
  def planesFor(n: Long, target: Long = 300L, minPlanes: Int = 8): Int = {
    require(target > 0, s"target bucket size must be positive, got $target")
    var p = 0
    var cap = target
    // the shift is guarded: past Long.MaxValue/2 the doubled capacity
    // would wrap negative, making `cap < n` hold forever and the loop
    // run to the 62 cap — where the SQL oracle's CEIL(LOG2) rule keeps
    // counting exactly. Saturating at Long.MaxValue (>= any possible n)
    // keeps both sides on the same rule at every representable n.
    while (cap < n && p < 62) {
      cap = if (cap > (Long.MaxValue >> 1)) Long.MaxValue else cap << 1
      p += 1
    }
    math.max(minPlanes, p)
  }

  /** [[nearDupByLsh]] with the plane count sized from the corpus
    * itself: planes = [[planesFor]](count). Fixed-plane configs
    * saturate — bucket population grows ~N/2^planes, so within-bucket
    * pairs turn quadratic once N outruns the config (measured: the
    * 10-plane q92 read exp 1.9 into 5M vectors on decorrelated data) —
    * while auto-sizing holds expected population at ~`target` at ANY
    * corpus size. Costs one count() pass to pick the width; the count
    * is deterministic, so the width (and the result) stays
    * oracle-replayable.
    */
  def nearDupByLshAuto(emb: DataFrame, dim: Int, threshold: Double,
      target: Long = 300L, minPlanes: Int = 8): DataFrame =
    nearDupByLsh(emb, planesFor(emb.count(), target, minPlanes), dim, threshold)

  /** Multi-probe LSH ANN search (Lv et al. 2007): scan only the
    * query's hyperplane bucket PLUS the `nprobe - 1` buckets obtained
    * by flipping the query's lowest-|margin| sign bits — near-boundary
    * planes are where true neighbors land on the other side, so probing
    * them recovers most of the recall a single bucket loses. The query
    * vector and its probe buckets are computed on the driver (the
    * md5-derived plane weights are replayed exactly); the search is a
    * map-side bucket filter + TakeOrdered — no shuffle, no join.
    */
  def lshSearch(emb: DataFrame, queryId: Long, k: Int, planes: Int, dim: Int, nprobe: Int): DataFrame = {
    val embD = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
    val qv = queryVector(embD, queryId, "lshSearch")
    val projs = (0 until planes).map(p => (0 until dim).map(d => qv(d) * planeWeightLocal(p, d)).sum)
    // same 9-decimal quantization as lshBucket before the sign bit
    def q9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qBucket = projs.zipWithIndex.map { case (pr, p) => if (q9(pr) > 0) 1L << p else 0L }.sum
    val flips = projs.zipWithIndex.sortBy { case (pr, _) => math.abs(pr) }
      .take(math.max(0, nprobe - 1)).map(_._2)
    val probes = qBucket +: flips.map(p => qBucket ^ (1L << p))
    cosineTopK(embD.withColumn("bucket", lshBucket(col("e"), planes, dim))
      .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= queryId), qv, k)
  }

  /** Random-hyperplane LSH bucket id (sign bits of `planes` projections
    * packed into a long). Same-bucket vectors are ANN candidates.
    *
    * The projection is quantized to 9 decimals before taking the sign:
    * the raw sum's addition order differs between engines (Spark's
    * sequential fold vs an oracle's SUM..GROUP BY), so a projection
    * within float noise of 0 could flip a bit nondeterministically.
    * Quantization collapses |proj| < 5e-10 to exactly 0 on every
    * engine; real projections sit far above that.
    */
  def lshBucket(embDouble: Column, planes: Int, dim: Int): Column =
    lshBucketAt(embDouble, planes, dim, 0)

  /** [[lshBucket]] over the plane family starting at `planeOffset` —
    * table k of a multi-table LSH uses planes [k·p, (k+1)·p), so every
    * table's bucket derives from the one global md5 plane family and a
    * SQL oracle replays any table count from `generate_series`.
    */
  def lshBucketAt(embDouble: Column, planes: Int, dim: Int, planeOffset: Int): Column = {
    val bits = (0 until planes).map { p =>
      // literal weight array + the ArrayDotProduct codegen kernel: the
      // kernel's sequential fold adds in the same element order as the
      // old aggregate(zip_with(...)) form, so projections (and the
      // 9-decimal-quantized sign bits) are bit-identical — but without
      // planes*dim md5 digests per row
      val ws = array((0 until dim).map(d => lit(planeWeightLocal(planeOffset + p, d))): _*)
      val proj = graft.plans.ArrayDotProduct.array_dot(embDouble, ws)
      when(round(proj, 9) > 0, lit(1L) * (1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Exact hyperplane-LSH S-curve: P[candidate | cos] in integer
    * micros for `tables` independent tables of `planes` sign bits.
    * Per plane, P[agree] = 1 − θ/π (Goemans–Williamson); the
    * transcendental is micro-rounded ONCE per operand (the engine's
    * cross-engine discipline for pow/acos) and everything after is
    * exact BigInt:  1e6 − ceil(1e6·(1 − ppl^p)^t).  The MinHash
    * [[graft.operators.Dedup.recallAtMicro]] analogue for the cosine
    * family (q71/q92/q99/q130).
    */
  def cosineCollisionMicro(cosMicro: Long, planes: Int, tables: Int): Long = {
    require(cosMicro >= -1000000 && cosMicro <= 1000000,
      s"cosMicro must be in [-1e6, 1e6], got $cosMicro")
    require(planes >= 1 && tables >= 1, s"planes/tables >= 1, got ($planes, $tables)")
    val ppl = math.round((1.0 - StrictMath.acos(cosMicro / 1e6) / StrictMath.PI) * 1e6)
    val M = BigInt(1000000)
    val num = (M.pow(planes) - BigInt(ppl).pow(planes)).pow(tables) * M
    val den = M.pow(planes * tables)
    1000000L - ((num + den - 1) / den).toLong
  }

  /** Cheapest (planes, tables) satisfying the cosine recall CONTRACT:
    * recall ≥ `targetRecallMicro` at cos = `thresholdCosMicro` AND
    * false-candidate rate ≤ `maxFpMicro` at the background cosine
    * `bgCosMicro` — minimal total projections p·t, ties to fewer
    * tables. The [[graft.operators.Dedup.minhashGeometryFor]] pattern
    * for the hyperplane family: a recall floor alone degenerates to
    * p = 1 (every pair in the half-space collides), so the curve must
    * FALL between bg and threshold. Throws with the binding constraint
    * when infeasible — low-threshold contracts (cos ≲ 0.5 is ~60° —
    * barely off random) are genuinely unreachable for sign-bit LSH and
    * the caller should pre-block or raise the threshold, not silently
    * run a geometry that cannot meet its contract.
    */
  def cosineLshGeometryFor(thresholdCosMicro: Long, targetRecallMicro: Long,
      bgCosMicro: Long = 200000L, maxFpMicro: Long = 20000L,
      maxPlanes: Int = 24, maxTables: Int = 64): (Int, Int) = {
    require(thresholdCosMicro > bgCosMicro,
      s"threshold ($thresholdCosMicro) must exceed background cosine ($bgCosMicro)")
    require(targetRecallMicro > 0 && targetRecallMicro < 1000000,
      s"targetRecallMicro must be in (0, 1e6), got $targetRecallMicro")
    val ok = for {
      p <- 1 to maxPlanes
      t <- 1 to maxTables
      if cosineCollisionMicro(thresholdCosMicro, p, t) >= targetRecallMicro
      if cosineCollisionMicro(bgCosMicro, p, t) <= maxFpMicro
    } yield (p, t)
    ok.sortBy { case (p, t) => (p * t, t) }.headOption.getOrElse {
      val recallOnly = (1 to maxPlanes).flatMap(p => (1 to maxTables).map(p -> _))
        .exists { case (p, t) => cosineCollisionMicro(thresholdCosMicro, p, t) >= targetRecallMicro }
      throw new IllegalArgumentException(
        if (recallOnly)
          s"no geometry within (maxPlanes=$maxPlanes, maxTables=$maxTables) holds false " +
            s"candidates <= $maxFpMicro micro at bg cos $bgCosMicro while meeting recall >= " +
            s"$targetRecallMicro at cos $thresholdCosMicro: raise maxPlanes (steeper curve), " +
            "tighten bg by pre-blocking, or raise the threshold"
        else
          s"recall >= $targetRecallMicro at cos $thresholdCosMicro is unreachable within " +
            s"(maxPlanes=$maxPlanes, maxTables=$maxTables): relax the recall floor or raise maxTables")
    }
  }

  /** [[cosineLshGeometryFor]] with the false-candidate ceiling derived
    * from a PER-ROW CANDIDATE BUDGET at a stated corpus size, instead
    * of a fixed fraction of all pairs. A fraction ceiling is quadratic
    * in the corpus: at fp = 2% of n²/2 background pairs, a 16k-unit
    * corpus admits ~0.9M false candidates (q261's measured volume) but
    * a 100x corpus admits ~10,000x more — the x100 soak measured
    * exactly this blow-up on q260's fixed geometry (376 s, almost all
    * of it verifying false candidates). The linear budget is the
    * contract a 100 TB run needs: expected false candidates ≤
    * `candPerRow`·n, i.e. fp ≤ 2·candPerRow/n, so the ceiling (and
    * with it the resolved plane count) TIGHTENS as n grows — the
    * auto-sizing idea of [[nearDupByLshAuto]] expressed as a contract
    * instead of a bucket-load heuristic. Exact integer arithmetic:
    * fpMicro = floor(2e6·candPerRow / n), refused when that floor is
    * 0 but the curve cannot reach measured-zero within `maxPlanes`
    * (the caller should pre-block or shard). `maxPlanes` defaults
    * higher than the fraction advisor's because large n is this
    * advisor's whole point; the executor caps planes at 62.
    */
  def cosineLshGeometryForBudget(n: Long, thresholdCosMicro: Long,
      targetRecallMicro: Long, bgCosMicro: Long = 200000L,
      candPerRow: Long = 64L, maxPlanes: Int = 40, maxTables: Int = 64): (Int, Int) = {
    require(n >= 2, s"corpus size n must be >= 2, got $n")
    require(candPerRow >= 1, s"candPerRow must be >= 1, got $candPerRow")
    val fpMicro = (BigInt(2) * candPerRow * 1000000L / n).toLong
    cosineLshGeometryFor(thresholdCosMicro, targetRecallMicro, bgCosMicro,
      fpMicro, maxPlanes, maxTables)
  }

  /** [[semanticDedupLshContract]] under the linear candidate budget:
    * the caller states the design corpus size once ("this geometry
    * must hold at n rows") and the per-row budget; the geometry is
    * resolved by [[cosineLshGeometryForBudget]] and is then FIXED —
    * recall is n-independent (the S-curve is per-pair), so running the
    * design geometry on a smaller validation corpus still meets the
    * floor, while the candidate volume at the design scale stays
    * linear by construction.
    */
  def semanticDedupLshBudget(emb: DataFrame, dim: Int, designN: Long,
      thresholdCosMicro: Long, targetRecallMicro: Long,
      bgCosMicro: Long = 200000L, candPerRow: Long = 64L): DataFrame = {
    val (p, tb) = cosineLshGeometryForBudget(designN, thresholdCosMicro,
      targetRecallMicro, bgCosMicro, candPerRow)
    keepMinOfComponents(emb, nearDupByLshMulti(emb, p, tb, dim, thresholdCosMicro / 1e6))
  }

  /** Multi-table hyperplane LSH near-dup pairs — the recall-contract
    * execution path: `tables` independent `planes`-bit tables (table k
    * = planes [k·p, (k+1)·p) of the global family), candidates = the
    * union of per-table bucket cohabitations, verified by exact cosine
    * ≥ threshold. One table ([[nearDupByLsh]]) is a single S-curve
    * draw — recall 1.6% at cos 0.9 for 8 planes·1 table is what
    * [[cosineCollisionMicro]] says and q258 measures; the OR over
    * tables is the amplification that makes a ≥ 80% floor reachable.
    * Candidates stay skinny (vec ids + table key) through the shuffle;
    * vectors attach by two hash joins for the verify, as in the
    * MinHash twin.
    */
  def nearDupByLshMulti(emb: DataFrame, planes: Int, tables: Int, dim: Int,
      threshold: Double): DataFrame = {
    require(planes >= 1 && planes <= 62 && tables >= 1,
      s"need 1 <= planes <= 62 and tables >= 1, got ($planes, $tables)")
    val e = graft.GraftCache.registered(
      emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
        .withColumn("nrm", norm(col("e"))))
    // one scan, posexplode over tables — NOT a union of per-table
    // branches: a t-way union concatenates partitions (t x input
    // width in tasks; at the budget advisor's 50+ tables that is
    // thousands of near-empty tasks), while the explode computes all
    // t buckets in one pass over each row and keeps partition count
    // flat. Buckets come from the HyperplaneBuckets kernel, NOT an
    // array of lshBucketAt trees: at advisor geometries (q269's
    // 23 x 57 = 1,311 projections) the tree form blows janino's 64 KB
    // method limit and the whole stage silently drops to interpreted
    // eval (measured 12.7 s for ~1 GFLOP of arithmetic); the kernel's
    // generated code is constant-size at any geometry and
    // bit-identical (same plane order, fold order, round-9 sign).
    // Persisted AND partitioned by the join key: the banded frame is
    // read three times (both self-join sides + the bounded-blocks
    // guard) and is skinny (three longs per row), and
    // repartition(tbl, bucket) makes the cache's HashPartitioning
    // satisfy BOTH sides of the bucket self-join — no exchange in the
    // candidate stage.
    val allW = Array.tabulate(tables * planes * dim)(i =>
      planeWeightLocal(i / dim, i % dim))
    val banded = graft.GraftCache.registered(
      e.select(col("vec_id"), posexplode(
          graft.plans.HyperplaneBuckets.buckets(col("e"), allW, dim, planes, tables))
        .as(Seq("tbl", "bucket")))
        .repartition(col("tbl"), col("bucket")))
    val cand = blockSelfJoin(banded, Seq("tbl", "bucket"),
        s"more hyperplanes per table (planes > $planes: buckets/table = 2^planes, " +
          s"currently ${1L << planes})")
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
      .distinct()
    verifiedPairs(cand, e, threshold)
  }

  /** Deterministic anchor weight for the audit's blend ladder — same
    * md5 family as [[planeWeightLocal]] under its own namespace.
    */
  def anchorWeightLocal(d: Int): Double =
    (graft.plans.Md5Hash.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"anchor_$d")) % 2001L - 1000L)
      .toDouble / 1000.0

  /** Cosine-LSH recall audit — the q253 pattern for the hyperplane
    * family: measures P[caught | cos] per cosine decile against an
    * LSH-independent ground truth, at a given (planes, tables)
    * geometry. Real corpus pairs are bimodal (near-1 dups or near-0
    * background), so the audit derives a DETERMINISTIC cosine ladder:
    * each vector spawns 8 blend units (unit j has its first j·dim/8
    * coordinates replaced by the fixed md5 anchor vector), and the
    * truth set is all 28 WITHIN-vector unit pairs — exact cosine at
    * every rung from ~1 down to anchor-dominated, linear in the corpus
    * (no quadratic truth stage). Caught = the pair cohabits ≥ 1
    * table's bucket, computed positionally on each unit's bucket
    * vector. recall_micro floors via div on nonnegative operands.
    */
  def cosineLshRecallAudit(emb: DataFrame, planes: Int, tables: Int, dim: Int): DataFrame = {
    require(dim % 8 == 0, s"dim must be divisible by 8 (the blend ladder), got $dim")
    val anchor = array((0 until dim).map(d => lit(anchorWeightLocal(d))): _*)
    val base = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
    // HyperplaneBuckets kernel, not an array of lshBucketAt trees —
    // same 64 KB-codegen rationale as nearDupByLshMulti (an audit must
    // stay cheap at any geometry it is asked to measure)
    val allW = Array.tabulate(tables * planes * dim)(i =>
      planeWeightLocal(i / dim, i % dim))
    // ALL 8 rung units of a vector live in ONE row (the embedding frame
    // is one row per vec_id already), so the truth pairs — strictly
    // WITHIN-vector by construction — need no self-join at all: the r13
    // form exploded units to 8 rows and SMJ'd the persisted frame on
    // vec_id, shuffling the full double-typed unit payload once and
    // sorting it twice, which at the 40M-row x1000 tier was the §5
    // memory-pressure driver behind the 1.11 growth exponent. The
    // persist below is a MATERIALIZATION BARRIER, not a reuse cache:
    // without it CollapseProject inlines the unit construction into the
    // pair expressions (each unit participates in 7 pairs → the
    // 64-element transform and the bucket kernel re-evaluate per pair;
    // the r13 session-3 barrier-less variant measured 32.6 s vs 3.2 at
    // x100 on exactly this). Values are bit-identical to the join form:
    // same unit/norm/bucket expressions, and cosineWithNorms' array_dot
    // kernel sums in index order, so pair (j, k) computes the identical
    // doubles the SMJ row pair did.
    val unitStructs = (0 until 8).map { j =>
      val cut = j * dim / 8
      val u = transform(col("e"), (x, i) =>
        when(i < cut, element_at(anchor, i + 1)).otherwise(x))
      struct(u.as("u"), norm(u).as("nrm"),
        graft.plans.HyperplaneBuckets.buckets(u, allW, dim, planes, tables).as("bks"))
    }
    // The barrier's storage level is SIZE-ADAPTIVE ([[unitsLevel]]):
    // the frame is written once and read twice (cold materialization +
    // the warm re-run), and at the x1000 soak tier it is ~24 GB —
    // MEMORY_AND_DISK at that size squats on the unified region's
    // protected storage half and starves execution memory (measured:
    // the x1000 run died with UNABLE_TO_ACQUIRE_MEMORY at the default
    // 12g heap), while DISK_ONLY at the gate SF costs ~2x warm for no
    // benefit (0.97 vs 0.54 s — the 75 MB frame belongs in memory).
    // The estimate is the input scan's stats times the 8-rung fan-out.
    val sc = emb.sparkSession.sparkContext
    val level = unitsLevel(emb.queryExecution.optimizedPlan.stats.sizeInBytes * 8,
      sc.getExecutorMemoryStatus.values.map(_._1),
      sc.getConf.getDouble("spark.memory.storageFraction", 0.5))
    val grouped = graft.GraftCache.registered(
      base.select(col("vec_id"), array(unitStructs: _*).as("us")), level)
    // 28 (j < k) rung pairs, computed map-side over the cached row —
    // the emitted rows are SKINNY (cos_sim, caught), so the only
    // exchange left in the audit is the final 11-bucket aggregate.
    val pairCols = for { j <- 0 until 8; k <- j + 1 until 8 } yield {
      val l = col("us").getItem(j)
      val r = col("us").getItem(k)
      struct(
        round(cosineWithNorms(l.getField("u"), r.getField("u"),
          l.getField("nrm"), r.getField("nrm")), 6).as("cos_sim"),
        when(exists(zip_with(l.getField("bks"), r.getField("bks"), (a, b) => a === b),
          (x: Column) => x), 1L).otherwise(0L).as("caught"))
    }
    grouped
      .select(explode(array(pairCols: _*)).as("p"))
      .select(col("p.cos_sim").as("cos_sim"), col("p.caught").as("caught"))
      .filter(col("cos_sim") >= 0) // div truncates vs floors on negatives; ladder mass is >= 0
      .groupBy(expr("cast(round(cos_sim * 1000000, 0) as bigint) div 100000")
        .cast("int").as("c_bucket"))
      .agg(count(lit(1)).as("n_truth"), sum(col("caught")).as("n_caught"))
      .withColumn("recall_micro", expr("(n_caught * 1000000) div n_truth"))
      .orderBy(col("c_bucket"))
  }

  /** Storage level of the q258/q259 unit barrier: memory while the
    * estimate fits the protected storage share (`storageFraction`) of
    * the smallest executor's unified memory (`executorMaxMem`, as
    * `SparkContext.getExecutorMemoryStatus` reports it), disk above.
    * Measured split points: sf0.1 ≈ 6 MB est → memory (warm 0.54),
    * x100 ≈ 0.4 GB est at a 12 GB heap → memory (warm 1.73, no OOM),
    * x1000 ≈ 4.3 GB est → disk (warm 19.5 vs the r13 join form's 31.5,
    * no OOM). A wrong level can only cost time, never correctness.
    */
  def unitsLevel(unitsEst: BigInt, executorMaxMem: Iterable[Long],
      storageFraction: Double): StorageLevel =
    if (BigDecimal(unitsEst) > BigDecimal(executorMaxMem.min) * storageFraction)
      StorageLevel.DISK_ONLY
    else StorageLevel.MEMORY_AND_DISK

  /** Driver-side squared distance, quantized to 9 decimals — the same
    * rounding [[assignCells]] applies distributed-side, so probe
    * selection and cell assignment agree with each other and with an
    * oracle replaying the arithmetic in SQL.
    */
  private def sq9(a: Seq[Double], b: Seq[Double]): Double =
    BigDecimal(a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The corpus as (vec_id, e: array<double>), persisted: the trained
    * searches scan it once per training round plus the final pass, and
    * without the persist every round re-derives the float→double
    * projection from the parquet scan.
    */
  private def doubles(emb: DataFrame): DataFrame =
    graft.GraftCache.registered(emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e")))

  /** The query's vector fetched to the driver from a (vec_id, e) frame;
    * fails naming the public entry point `caller` when the id is absent.
    */
  private def queryVector(embD: DataFrame, queryId: Long, caller: String): Seq[Double] = {
    val rows = embD.filter(col("vec_id") === queryId).select(col("e")).collect()
    require(rows.nonEmpty, s"$caller: query vector vec_id=$queryId not found in the corpus")
    rows.head.getSeq[Double](0)
  }

  /** The (vec_id, e) rows with vec_id < `sampleQ`, by vec_id — the
    * sample queries of the empirical recall audits.
    */
  private def sampleVectors(embD: DataFrame, sampleQ: Int): Seq[(Long, Seq[Double])] =
    embD.filter(col("vec_id") < sampleQ).select(col("vec_id"), col("e")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1)

  /** Cell ids nearest-first for a query vector: by (sq9 distance, cell),
    * the rule [[assignCells]] applies, so the first probe IS the
    * query's own cell.
    */
  private def probeOrder(cents: Seq[(Int, Seq[Double])], qv: Seq[Double]): Seq[Int] =
    cents.map { case (c, cv) => (sq9(cv, qv), c) }.sorted.map(_._2)

  /** Exact cosine top-k of `frame` (vec_id, e) against a driver-held
    * query vector: the vector rides in as an array literal (no second
    * scan, no broadcast crossJoin), scores round to 6 decimals, ties go
    * to the lowest vec_id.
    */
  private def cosineTopK(frame: DataFrame, qv: Seq[Double], k: Int): DataFrame =
    frame.select(col("vec_id"), round(cosine(col("e"), array(qv.map(lit): _*)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(k)

  /** Empirical recall curve from a rank histogram: column `rankCol` of
    * `ranks` is each truth item's catch depth, `levels` is one int
    * column of depths. Output: (level, n_truth, n_caught,
    * recall_micro) per level, recall in floored integer micros.
    */
  private def depthCurve(ranks: DataFrame, rankCol: String, levels: DataFrame): DataFrame = {
    val (rank, level) = (col(rankCol), col(levels.columns.head))
    broadcast(levels).crossJoin(ranks)
      .groupBy(level)
      .agg(count(lit(1)).as("n_truth"),
        sum(when(rank <= level, 1L).otherwise(0L)).as("n_caught"))
      .withColumn("recall_micro", expr("(n_caught * 1000000) div n_truth"))
      .orderBy(level)
  }

  private def requireTarget(targetRecallMicro: Long): Unit =
    require(targetRecallMicro >= 0 && targetRecallMicro <= 1000000,
      s"targetRecallMicro must be in [0, 1e6], got $targetRecallMicro")

  /** Smallest `nprobe` whose measured recall meets the target, read
    * off a [[depthCurve]]; `cells` (probe everything) when none does.
    */
  private def smallestProbe(curve: DataFrame, targetRecallMicro: Long, cells: Int): Int =
    curve.select(col("nprobe"), col("recall_micro"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      .collectFirst { case (p, r) if r >= targetRecallMicro => p }
      .getOrElse(cells)

  /** Element-wise mean of array columns per group: posexplode → avg →
    * regroup in position order.
    */
  def centroids(df: DataFrame, cellCol: String, vecCol: String): DataFrame =
    df.select(col(cellCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(cellCol), col("pos")).agg(avg(col("v")).as("m"))
      .groupBy(col(cellCol)).agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(cellCol), transform(col("pm"), x => x.getField("m")).as("centroid"))

  /** Map-side cell assignment against DRIVER-HELD centroids: squared
    * distance to each centroid is an expression over array literals, so
    * assignment is a pure scan — no crossJoin, no shuffle. Distances
    * are quantized to 9 decimals before the argmin (same rationale as
    * [[lshBucket]]'s sign quantization: summation order differs between
    * engines, so a sub-ulp difference must not flip an assignment the
    * oracle replays); ties break to the lowest cell id (struct ordering
    * on (dist, cell)).
    */
  def assignCells(embD: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val scored = cents.map { case (cell, cvec) =>
      val carr = array(cvec.map(lit): _*)
      val d = aggregate(zip_with(col("e"), carr, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
      struct(round(d, 9).as("d"), lit(cell).as("cell"))
    }
    embD.withColumn("cell", array_min(array(scored: _*)).getField("cell"))
  }

  /** Deterministic mini k-means (Lloyd) over (vec_id, e), returning the
    * trained centroids as local data: init = the k lowest vec_ids,
    * `iters` assign/recompute rounds. Like a production coarse-quantizer
    * trainer (MLlib KMeans does the same), the k tiny centroids live on
    * the driver between rounds and assignment is a map-side expression
    * — each round costs a scan plus the two aggregates of [[centroids]]
    * ((cell, dim) means, then per-cell regrouping) instead of a
    * crossJoin + vector shuffle.
    */
  def kmeansCellsLocal(embD: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    def collectCents(df: DataFrame, cellCol: String, vecCol: String): Seq[(Int, Seq[Double])] =
      df.collect().map(r => r.getAs[Int](cellCol) -> r.getSeq[Double](r.fieldIndex(vecCol))).toSeq
        .sortBy(_._1)
    var cents = collectCents(
      embD.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").cast("int").as("cell"), col("e").as("centroid")),
      "cell", "centroid")
    for (_ <- 0 until iters)
      cents = collectCents(centroids(assignCells(embD, cents), "cell", "e"),
        "cell", "centroid") // centroids() names its vector column "centroid"
    cents
  }

  /** IVF ANN with computed cells: assign corpus to trained cells once,
    * probe the `nprobe` nearest cells to the query, exact-search only
    * those. Assignment and probe filter are both map-side (centroids
    * are driver-held literals), so the whole search is scan → filter →
    * TakeOrdered. For repeated searches over a static corpus, train and
    * materialize the assignment once with [[writeIvfIndex]] and probe
    * with [[ivfSearchIndexed]] — partition pruning then makes each
    * probe read nprobe/cells of the files at rest.
    */
  def ivfSearch(emb: DataFrame, queryId: Long, k: Int, cells: Int, iters: Int, nprobe: Int): DataFrame = {
    val embD = doubles(emb)
    ivfSearchWith(embD, kmeansCellsLocal(embD, cells, iters), queryId, k, nprobe, "ivfSearch")
  }

  /** [[ivfSearch]] against already-trained cells. */
  private def ivfSearchWith(embD: DataFrame, cents: Seq[(Int, Seq[Double])], queryId: Long,
      k: Int, nprobe: Int, caller: String): DataFrame = {
    val qv = queryVector(embD, queryId, caller)
    val probes = probeOrder(cents, qv).take(nprobe)
    cosineTopK(assignCells(embD, cents)
      .filter(col("cell").isin(probes: _*) && col("vec_id") =!= queryId), qv, k)
  }

  /** IVF probe-count recall curve — the EMPIRICAL member of the
    * recall-contract family. MinHash/SimHash/cosine-LSH have exact
    * analytic S-curves ([[graft.operators.Dedup.recallAtMicro]] /
    * `simhashRecallAtMicro` / [[cosineCollisionMicro]]) so their
    * advisors derive geometry from arithmetic; an IVF quantizer is
    * DATA-DEPENDENT (cell shapes come from k-means on this corpus), so
    * the curve must be measured. This measures it exactly and in ONE
    * pass: for a deterministic sample of queries (the `sampleQ` lowest
    * vec_ids), true top-k = brute force ([[knnJoin]]); for each true
    * neighbor, its cell's POSITION in the query's probe order decides
    * the smallest nprobe that catches it — so recall at EVERY nprobe
    * falls out of one rank histogram, no per-nprobe re-search. (Recall
    * at nprobe p really is |{true neighbors in probed cells}| / k:
    * IVF search is exact within probed cells, and fewer than k corpus
    * vectors beat any true top-k member, so a probed true neighbor is
    * always returned.) Output: (nprobe, n_truth, n_caught,
    * recall_micro) for nprobe = 1..cells, floored integer micros.
    */
  def ivfProbeAudit(emb: DataFrame, k: Int, cells: Int, iters: Int,
      sampleQ: Int): DataFrame = {
    val (embD, cents) = ivfTrained(emb, k, cells, iters, sampleQ)
    ivfCurve(emb, embD, cents, cells, k, sampleQ)
  }

  /** The audit's argument check, then the cells trained on `emb`. */
  private def ivfTrained(emb: DataFrame, k: Int, cells: Int, iters: Int,
      sampleQ: Int): (DataFrame, Seq[(Int, Seq[Double])]) = {
    require(k >= 1 && cells >= 1 && sampleQ >= 1,
      s"need k, cells, sampleQ >= 1, got ($k, $cells, $sampleQ)")
    val embD = doubles(emb)
    (embD, kmeansCellsLocal(embD, cells, iters))
  }

  /** [[ivfProbeAudit]] against already-trained cells (`cells` levels:
    * a Lloyd round can leave fewer centroids than asked for).
    */
  private def ivfCurve(emb: DataFrame, embD: DataFrame, cents: Seq[(Int, Seq[Double])],
      cells: Int, k: Int, sampleQ: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val assigned = assignCells(embD, cents).select(col("vec_id"), col("cell"))
    // probe order per sample query — the rule ivfSearch applies;
    // sampleQ * cells rows, driver-built
    val ranks = sampleVectors(embD, sampleQ).flatMap { case (qid, qv) =>
      probeOrder(cents, qv).zipWithIndex.map { case (c, i) => (qid, c, i + 1) }
    }.toDF("query_id", "cell", "cell_rank")
    val truth = knnJoin(emb, col("vec_id") < sampleQ, k)
      .select(col("query_id"), col("vec_id"))
    val tr = truth.join(assigned, "vec_id")
      .join(broadcast(ranks), Seq("query_id", "cell"))
      .select(col("cell_rank"))
    depthCurve(tr, "cell_rank", spark.range(1, cells + 1).select(col("id").cast("int").as("nprobe")))
  }

  /** Smallest nprobe whose MEASURED sample recall meets the contract —
    * the advisor over [[ivfProbeAudit]]'s curve. Unlike the LSH
    * advisors this can never refuse: nprobe = cells probes everything
    * (exact search), so recall reaches 1e6 at the top of the curve and
    * the contract degrades to brute force instead of failing. The
    * audit's collect is `cells` rows — bounded.
    */
  def ivfProbesFor(emb: DataFrame, k: Int, cells: Int, iters: Int,
      sampleQ: Int, targetRecallMicro: Long): Int = {
    requireTarget(targetRecallMicro)
    val (embD, cents) = ivfTrained(emb, k, cells, iters, sampleQ)
    smallestProbe(ivfCurve(emb, embD, cents, cells, k, sampleQ), targetRecallMicro, cells)
  }

  /** [[ivfSearch]] under a recall CONTRACT: nprobe derived from the
    * measured sample curve by [[ivfProbesFor]] instead of configured —
    * the production adoption, as `minhashPairsContract` /
    * `semanticDedupLshContract` for the analytic families. The cells
    * are trained ONCE: the sample audit and the search share the
    * persisted corpus projection and the driver-held centroids.
    */
  def ivfSearchContract(emb: DataFrame, queryId: Long, k: Int, cells: Int,
      iters: Int, targetRecallMicro: Long, sampleQ: Int): DataFrame = {
    requireTarget(targetRecallMicro)
    val (embD, cents) = ivfTrained(emb, k, cells, iters, sampleQ)
    val nprobe = smallestProbe(ivfCurve(emb, embD, cents, cells, k, sampleQ), targetRecallMicro, cells)
    ivfSearchWith(embD, cents, queryId, k, nprobe, "ivfSearchContract")
  }

  /** Writes the trained centroids under `<path>/_centroids/` — the side
    * table of the IVF and IVF-PQ indexes (underscore-prefixed paths are
    * invisible to Spark's partition discovery).
    */
  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[(Int, Seq[Double])], path: String): Unit = {
    import spark.implicits._
    cents.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** The centroids a [[writeCentroids]] call stored under `path`. */
  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Seq[Double])] =
    spark.read.parquet(s"$path/_centroids").collect()
      .map(r => r.getAs[Int]("cell") -> r.getSeq[Double](r.fieldIndex("centroid"))).toSeq

  /** Train and WRITE an IVF index: the corpus assigned to k-means cells,
    * stored `partitionBy("cell")` so a probe's scan reads only the
    * probed cells' files — at rest, a probe touches nprobe/cells of the
    * data, which is what makes IVF beat LSH for repeated searches over
    * a static corpus. The trained centroids are stored under
    * `_centroids/` inside the index path, so `read.parquet(path)` sees
    * only the data files.
    */
  def writeIvfIndex(emb: DataFrame, path: String, cells: Int, iters: Int): Unit = {
    val embD = doubles(emb)
    val cents = kmeansCellsLocal(embD, cells, iters)
    assignCells(embD, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeCentroids(emb.sparkSession, cents, path)
  }

  /** Probe a [[writeIvfIndex]] index: nearest `nprobe` cells to the
    * query are computed on the driver from the stored centroids, and
    * the scan filter on the PARTITION column `cell` prunes to those
    * cells' files (pinned in PlanSpec) — no shuffle, no join, bounded
    * top-k. `queryVec` arrives as a local vector so probing needs zero
    * jobs before the pruned scan.
    */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queryVec: Seq[Double], excludeId: Long, k: Int, nprobe: Int): DataFrame = {
    val probes = probeOrder(readCentroids(spark, path), queryVec).take(nprobe)
    cosineTopK(spark.read.parquet(path)
      .filter(col("cell").isin(probes: _*) && col("vec_id") =!= excludeId), queryVec, k)
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): k-means the
    * corpus into `cells` clusters, find within-cell pairs above a
    * cosine `threshold`, connect them into semantic-duplicate clusters
    * ([[Dedup.connectedComponents]] — exact on any chain length), and
    * keep one representative (the minimum vec_id) per cluster plus all
    * unpaired vectors. Returns the KEPT rows of `emb`.
    *
    * Scale shape: assignment is map-side against driver-held centroids
    * (no shuffle), the pair join shuffles on the cell id, and the
    * quadratic step is within-cell only — sized by cells, which is the
    * operator's lever the same way planes/bits are for LSH/simhash;
    * oversized cells are refused via `graft.block.maxBucket`
    * ([[nearDupExactBlocked]] enforces it on the cell column).
    */
  def semanticDedup(emb: DataFrame, cells: Int, iters: Int, threshold: Double): DataFrame = {
    // Fixed `cells` means cell population ~ N/cells: within-cell pairs
    // grow QUADRATICALLY as the corpus outgrows the setting (the x100
    // soak measured 8 cells over 500k vectors ≈ 15e9 candidate pairs —
    // the guard admits it, the arithmetic doesn't finish). Size cells
    // with the corpus, or use [[semanticDedupLsh]], whose auto-sized
    // buckets hold the curve with no tuning.
    val embD = doubles(emb)
    val cents = kmeansCellsLocal(embD, cells, iters)
    val assigned = assignCells(embD, cents)
      .select(col("vec_id"), col("cell").as("label"), col("e").as("embedding"))
    keepMinOfComponents(emb, nearDupExactBlocked(assigned, "label", threshold))
  }

  /** The scale path for semantic dedup: same contract as
    * [[semanticDedup]] (drop all but the min-id member of every
    * cosine-threshold component; return the KEPT rows) but the
    * candidate stage is [[nearDupByLshAuto]] — hyperplane buckets
    * auto-sized from the corpus count, so bucket population (and with
    * it the within-bucket quadratic step) stays bounded at ANY corpus
    * size with no tuning. This is the variant to run at 100 TB; the
    * k-means-cell variant exists for its oracle-replayable quantizer
    * and for corpora where cells are sized to the data.
    */
  def semanticDedupLsh(emb: DataFrame, dim: Int, threshold: Double): DataFrame =
    keepMinOfComponents(emb, nearDupByLshAuto(emb, dim, threshold))

  /** Shared dedup tail: exact connected components over the verified
    * pair graph (`vec_a`, `vec_b`), drop every member but the min-id
    * one, return the KEPT input rows (all columns). The pair stage is
    * the only thing the dedup variants differ in.
    */
  private def keepMinOfComponents(emb: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = Dedup.connectedComponents(
        pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .filter(col("doc") =!= col("label"))
      .select(col("doc").as("vec_id"))
    emb.join(drop, Seq("vec_id"), "left_anti")
  }

  /** Semantic dedup under an explicit RECALL CONTRACT — the production
    * adoption of [[cosineLshGeometryFor]], mirroring what
    * `Dedup.minhashPairsContract` did for the MinHash family: the
    * caller states "catch cosine ≥ threshold pairs at ≥ targetRecall,
    * admit ≤ maxFp of background pairs" and the geometry (planes,
    * tables) is DERIVED from the exact S-curve instead of configured.
    * Candidates come from [[nearDupByLshMulti]] (the OR over tables is
    * what makes a ≥ 80% floor reachable — one auto-sized table is a
    * single S-curve draw, 1.6% at cos 0.9 for 8 planes, which is why
    * [[semanticDedupLsh]] alone is a bucket-load contract, not a recall
    * contract). Infeasible contracts (threshold too close to
    * background for sign-bit LSH) throw at plan time with the binding
    * constraint — the refusal posture of the blocked self-joins,
    * applied to recall. The fp ceiling here is a FRACTION of all
    * pairs, which admits O(n²) false candidates as the corpus grows —
    * for corpus-scale runs use [[semanticDedupLshBudget]], whose
    * ceiling is a linear per-row budget at a stated design size.
    */
  def semanticDedupLshContract(emb: DataFrame, dim: Int,
      thresholdCosMicro: Long, targetRecallMicro: Long,
      bgCosMicro: Long = 200000L, maxFpMicro: Long = 20000L): DataFrame = {
    val (p, tb) = cosineLshGeometryFor(thresholdCosMicro, targetRecallMicro,
      bgCosMicro, maxFpMicro)
    keepMinOfComponents(emb, nearDupByLshMulti(emb, p, tb, dim, thresholdCosMicro / 1e6))
  }

  /** Deterministic near-dup ladder corpus: each input vector spawns 8
    * blend units (unit j = first j·dim/8 coordinates replaced by a
    * PER-VECTOR md5 anchor), unit id = vec_id·8 + j. Adjacent rungs
    * share 7/8 of their coordinates, so every vector contributes a
    * deterministic chain of genuine high-cosine near-dups — the graded
    * input for [[semanticDedupLshContract]], since the raw embeddings
    * table has no pairs above cos ~0.51 at any SF. Unlike
    * [[cosineLshRecallAudit]]'s shared anchor (fine for an audit that
    * only compares rungs WITHIN a vector), the anchor here is keyed by
    * vec_id: a shared anchor would make every vector's rung-7 unit
    * mutually near-identical — one corpus-sized component and a
    * quadratic hot bucket at scale — while per-vector anchors keep
    * components vector-local, so the corpus (and the dedup over it)
    * scales linearly.
    */
  def blendLadder(emb: DataFrame, dim: Int): DataFrame = {
    require(dim % 8 == 0, s"dim must be divisible by 8 (the blend ladder), got $dim")
    // One scan, explode over the 8 rungs — NOT a union of per-rung
    // branches: the explode computes the dim-element md5 anchor ONCE
    // per input row (a union pays it once per rung = 8x the digests),
    // keeps partition count flat, and reads the upstream exactly once
    // — for a nondeterministic upstream (an unordered limit/sample)
    // the branch form was also a CORRECTNESS hazard, since rungs of
    // one vector could blend different source rows; the persist keeps
    // that guarantee for downstream multi-reads. The repartition
    // spreads the often-single-file input so the digest work
    // parallelizes.
    val base = graft.GraftCache.registered(
      emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
        .repartition(col("vec_id")))
    val anchor = transform(sequence(lit(0), lit(dim - 1)), d =>
      (graft.plans.Md5Prefix32.md5prefix32(
        concat(lit("anchor_"), col("vec_id").cast("string"), lit("_"), d.cast("string")))
        % 2001L - 1000L).cast("double") / lit(1000.0))
    base.withColumn("a", anchor)
      .select(col("vec_id"), col("e"), col("a"),
        explode(sequence(lit(0L), lit(7L))).as("j"))
      .select((col("vec_id") * 8 + col("j")).as("vec_id"),
        transform(col("e"), (x, i) =>
          when(i < col("j") * lit(dim / 8), element_at(col("a"), i + 1)).otherwise(x))
          .as("embedding"))
  }

  /** Per-unit cell probe ORDER against driver-held centroids, as a rank
    * array: element i+1 = the 1-based rank of `cents(i)` by (round-9
    * squared distance, cell) — the same (d, cell) rule [[assignCells]]
    * and [[ivfSearch]] apply, so rank 1 IS the plain assignment.
    * Shared by the cell-recall audit (pair catch depth) and the
    * multi-probe contract dedup (top-p cells = ranks <= p).
    *
    * Keyed by POSITION IN `cents`, not by cell-id value:
    * [[kmeansCellsLocal]] seeds cell ids from the k lowest vec_ids, so
    * on a corpus whose ids are not dense from 0 the ids are sparse —
    * indexing the array by id would hit `array_position`'s 0 not-found
    * sentinel and silently report depth 0 (= inflated recall) for
    * every pair. Consumers index by the same cents position, so the
    * contract is id-layout-independent.
    */
  private def cellRankArray(cents: Seq[(Int, Seq[Double])]): Column = {
    val scored = array(cents.map { case (cell, cvec) =>
      val carr = array(cvec.map(lit): _*)
      val d = aggregate(zip_with(col("e"), carr, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
      struct(round(d, 9).as("d"), lit(cell).as("cell"))
    }: _*)
    val order = transform(array_sort(scored), x => x.getField("cell"))
    transform(array(cents.map(c => lit(c._1)): _*), c => array_position(order, c))
  }

  /** Cell-cohabitation recall curve for the SemDeDup family — the
    * empirical contract member for [[semanticDedup]], closing the one
    * dedup path that still had NO measured recall: a k-means quantizer
    * is data-dependent (like q262's IVF cells), and a near-dup pair
    * split across a cell boundary is missed ENTIRELY by within-cell
    * candidate generation — the boundary loss the SemDeDup paper
    * accepts and never measures. This measures it exactly and in ONE
    * pass: the quantizer is trained on the REAL corpus; the probe set
    * is a [[blendLadder]] over the `sampleQ` lowest vec_ids (truth =
    * within-vector rung pairs with exact cosine >= the threshold —
    * deterministic genuine near-dups, linear, never retraining or
    * re-searching per depth); a pair's catch depth is the smallest p
    * at which the two units' p nearest cells INTERSECT
    * (min over cells of max(rank_a, rank_b) — one zip_with per pair),
    * so recall at EVERY probe depth falls out of one histogram.
    * Depth 1 is plain SemDeDup (same nearest cell); depth = cells
    * catches every pair by construction, so the curve always tops out
    * at 1e6. Output: (nprobe, n_truth, n_caught, recall_micro) for
    * nprobe = 1..cells, floored integer micros.
    */
  def semanticCellRecallAudit(emb: DataFrame, dim: Int, cells: Int, iters: Int,
      thresholdMicro: Long = 400000L, sampleQ: Int = 16): DataFrame = {
    require(cells >= 1 && iters >= 0 && sampleQ >= 1,
      s"need cells >= 1, iters >= 0, sampleQ >= 1, got ($cells, $iters, $sampleQ)")
    val embD = doubles(emb)
    semanticCellRecallAuditWith(emb, dim, kmeansCellsLocal(embD, cells, iters),
      thresholdMicro, sampleQ)
  }

  /** [[semanticCellRecallAudit]] against ALREADY-TRAINED cells — the
    * core the contract dedup shares, so the (iters-round, corpus-scan)
    * quantizer training runs ONCE per pipeline instead of once for the
    * audit and again for the assignment stage.
    */
  private def semanticCellRecallAuditWith(emb: DataFrame, dim: Int,
      cents: Seq[(Int, Seq[Double])], thresholdMicro: Long,
      sampleQ: Int): DataFrame = {
    val spark = emb.sparkSession
    val probes = graft.GraftCache.registered(
      blendLadder(emb.filter(col("vec_id") < sampleQ), dim)
        .select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
        .select(col("vec_id"), col("e"), cellRankArray(cents).as("rk"),
          expr("vec_id div 8").as("grp")))
    val tr = probes.as("l").join(probes.as("r"),
        col("l.grp") === col("r.grp") && col("l.vec_id") < col("r.vec_id"))
      .select(round(cosine(col("l.e"), col("r.e")), 6).as("cos_sim"),
        array_min(zip_with(col("l.rk"), col("r.rk"), (x, y) => greatest(x, y))).as("depth"))
      .filter(col("cos_sim") >= lit(thresholdMicro.toDouble / 1e6))
    depthCurve(tr, "depth", spark.range(1, cents.size + 1).select(col("id").cast("int").as("nprobe")))
  }

  /** [[semanticDedup]] under a recall CONTRACT — the production
    * adoption of the measured cell curve: each vector is assigned to
    * its `nprobe` NEAREST cells (multi-probe: the smallest depth whose
    * [[semanticCellRecallAudit]] sample recall meets the target; it
    * never refuses, since depth = cells puts every unit in every cell
    * and degrades to exact brute-force dedup) instead of exactly one,
    * so a pair split by a cell boundary still cohabits a probed cell with
    * probability the AUDIT measured, not hoped. Candidates are
    * deduped across cells before the exact-cosine verify; the tail
    * (CC + keep-min) is [[keepMinOfComponents]], shared with every
    * other dedup variant. Cost scales ~nprobe^2 in the within-cell
    * quadratic step — the measured price of the recall floor, bounded
    * by the same `graft.block.maxBucket` refusal as the plain path.
    */
  def semanticDedupCellsContract(emb: DataFrame, dim: Int, cells: Int,
      iters: Int, thresholdMicro: Long, targetRecallMicro: Long,
      sampleQ: Int = 16): DataFrame = {
    requireTarget(targetRecallMicro)
    // train ONCE; the audit/advisor and the assignment stage share the
    // same driver-held centroids (training is deterministic, but with
    // iters > 0 re-training doubled the corpus-scan Lloyd rounds)
    val embD = doubles(emb)
    val cents = kmeansCellsLocal(embD, cells, iters)
    val nprobe = smallestProbe(semanticCellRecallAuditWith(emb, dim, cents, thresholdMicro, sampleQ),
      targetRecallMicro, cents.size)
    // "cell" below is the POSITION in cents (cellRankArray's key — id-
    // layout-independent), used purely as a cohabitation join key
    val assigned = graft.GraftCache.registered(
      embD.select(col("vec_id"), col("e"), cellRankArray(cents).as("rk"))
        .select(col("vec_id"), col("e"),
          explode(filter(sequence(lit(0), lit(cents.size - 1)),
            c => element_at(col("rk"), c.cast("int") + 1) <= nprobe)).as("cell")))
    val cand = blockSelfJoin(assigned, Seq("cell"),
        s"more cells (cells > $cells: cell population ~ nprobe*N/cells) or semanticDedupLshContract")
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
      .distinct()
    keepMinOfComponents(emb,
      verifiedPairs(cand, embD.withColumn("nrm", norm(col("e"))), thresholdMicro.toDouble / 1e6))
  }

  /** Per-vector symmetric int8 scalar quantization: scale =
    * max(|e|)/127 (floored at 1e-12 so a zero vector quantizes to zeros
    * instead of NaN), q[i] = floor(e[i]/scale + 0.5) — round-half-up
    * toward +inf, spelled the same way in the oracle so both engines
    * agree on ties — clamped into a byte by construction (|e[i]/scale|
    * <= 127). Stores 1 byte/dim + one double scale: 4x less I/O than
    * float32 at rest, so a 100 TB embedding sweep scans 25 TB.
    * Dequantization is q[i]*scale; the per-element reconstruction error
    * is bounded by scale/2 (pinned in OperatorsSpec along with top-k
    * recall of the dequantized search).
    *
    * Output: the input row plus `scale` (double) and `qvec`
    * (array<byte>).
    */
  def quantizeInt8(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val e = toDoubleVec(col(vecCol))
    emb
      .withColumn("scale", greatest(array_max(transform(e, v => abs(v))) / 127.0, lit(1e-12)))
      .withColumn("qvec", transform(e, v => floor(v / col("scale") + lit(0.5)).cast("byte")))
  }

  /** Cross-modal retrieval: expand a seed set of documents (matched by
    * text) into similar items in embedding space — seed vectors →
    * centroid → top-k nearest non-seed vectors. The "find more data
    * like this slice" primitive of corpus curation. Seeds/centroid are
    * broadcast; the corpus is scanned once.
    */
  def expandByCentroid(emb: DataFrame, seedIds: DataFrame, k: Int): DataFrame = {
    val embD = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
    val seedVecs = embD.join(seedIds, "vec_id")
    val centroid = centroids(seedVecs.select(lit(1).as("g"), col("e")), "g", "e")
      .select(col("centroid"))
    embD.join(seedIds.select(col("vec_id"), lit(1).as("_seed")), Seq("vec_id"), "left_anti")
      .crossJoin(broadcast(centroid))
      .select(col("vec_id"), round(cosine(col("e"), col("centroid")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(k)
  }

  // ---------------------------------------------------------------- PQ

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the dim-D vector space
    * is split into `m` orthogonal subspaces of D/m dims; each subspace
    * gets its own `ksub`-centroid quantizer, trained independently by
    * the same deterministic mini-Lloyd as [[kmeansCellsLocal]] (init =
    * the `ksub` lowest vec_ids' subvectors; `iters` assign/recompute
    * rounds — a code with no members keeps its previous centroid).
    * Returns books(j)(c) = centroid c of subspace j, driver-held
    * (m*ksub*D/m doubles — a few KB; production PQ trains on a sample
    * for exactly this reason).
    *
    * Each Lloyd round costs ONE scan (all m subspaces assigned in one
    * projection) + ONE (m*ksub)-group aggregate; with iters = 0 the
    * books are pure init and fully replayable by the SQL oracle.
    */
  def pqTrainLocal(embD: DataFrame, m: Int, ksub: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    val initRows = embD.orderBy(col("vec_id")).limit(ksub).select(col("e")).collect()
    require(initRows.length == ksub, s"pqTrainLocal: corpus has fewer than ksub=$ksub vectors")
    val dim = initRows.head.getSeq[Double](0).length
    require(dim % m == 0, s"pqTrainLocal: dim=$dim not divisible by m=$m")
    val sub = dim / m
    var books: Seq[Seq[Seq[Double]]] =
      (0 until m).map(j => initRows.toSeq.map(_.getSeq[Double](0).slice(j * sub, (j + 1) * sub)))
    for (_ <- 0 until iters) {
      // ONE evaluation of the (m*ksub)-way code assignment per round:
      // build the per-subspace (sub, code, subvector) structs in the
      // same projection and explode — a union of m selects here would
      // re-evaluate the full assignment m times (measured 8x the
      // training cost at m=8 on the sf0.1 rung)
      val exploded = assignPqCodes(embD, books)
        .select(explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"), col("code").getItem(j).as("code"),
            slice(col("e"), j * sub + 1, sub).as("sv"))): _*)).as("x"))
        .select(col("x.sub").as("sub"), col("x.code").as("code"), col("x.sv").as("sv"))
      val recomputed = centroids(
        exploded.select(
          concat_ws("_", col("sub"), col("code")).as("cell"), col("sv").as("e")),
        "cell", "e")
        .collect()
        .map { r =>
          val Array(j, c) = r.getString(0).split("_").map(_.toInt)
          (j, c) -> r.getSeq[Double](1)
        }.toMap
      books = (0 until m).map(j => (0 until ksub).map(c =>
        recomputed.getOrElse((j, c), books(j)(c))))
    }
    books
  }

  /** Map-side PQ encoding against driver-held codebooks: adds `code`
    * (array<int>, m entries), code(j) = argmin over subspace j's
    * centroids of the squared distance (rounded to 9 decimals before
    * the argmin, ties to the lowest code — the [[assignCells]]
    * convention, so the SQL oracle replays every assignment). Pure
    * projection: no shuffle, no join. At rest the codes are m small
    * ints per vector (m bytes once stored as tinyint) versus 4*D bytes
    * of float32 — at m=8 over 64 dims a 32x scan-size reduction, which
    * is what makes a 100 TB corpus searchable from ~3 TB of codes.
    */
  def assignPqCodes(embD: DataFrame, books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val sub = books.head.head.length
    val codes = books.zipWithIndex.map { case (book, j) =>
      val sv = slice(col("e"), j * sub + 1, sub)
      val scored = book.zipWithIndex.map { case (cvec, c) =>
        val carr = array(cvec.map(lit): _*)
        // aggregate(zip_with(...)) beats spelling the sum out as
        // getItem arithmetic here: m*ksub*sub explicit terms blow past
        // Janino's limits (InternalCompilerException) and the whole
        // stage falls back to interpreted mode — measured 3x slower
        // than the lambda form at m=8/ksub=16 on sf0.1
        val d = aggregate(zip_with(sv, carr, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v)
        struct(round(d, 9).as("d"), lit(c).as("code"))
      }
      array_min(array(scored: _*)).getField("code")
    }
    embD.withColumn("code", array(codes: _*))
  }

  /** PQ ANN with asymmetric distance computation (ADC): the query stays
    * un-quantized; its squared distance to every codebook centroid is
    * precomputed on the driver (m*ksub doubles), and a vector's
    * approximate distance is m table lookups summed — `element_at` into
    * literal arrays, a pure projection over the CODES. The corpus scan
    * never touches the float vectors after encoding: at 100 TB the
    * search reads the stored codes only. Table entries are rounded to 9
    * decimals and summed in subspace order (left fold, same order as
    * the SQL oracle's ordered list_sum) so the 6-decimal output is
    * engine-portable. Returns the `k` nearest by ADC distance
    * (ascending — it approximates squared L2), ties to the lowest
    * vec_id.
    */
  def pqSearchADC(emb: DataFrame, queryId: Long, k: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    val embD = doubles(emb)
    val books = pqTrainLocal(embD, m, ksub, iters)
    pqAdcScores(embD, books, queryVector(embD, queryId, "pqSearchADC"), queryId)
      .orderBy(col("adc_dist").asc, col("vec_id")).limit(k)
  }

  /** The ADC-scored corpus (every non-query vector with its `adc_dist`)
    * against codebooks trained on `embD` — the shared scan behind
    * [[pqSearchADC]] (direct top-k) and [[pqSearchRerank]] (shortlist).
    */
  private def pqAdcScores(embD: DataFrame, books: Seq[Seq[Seq[Double]]], qv: Seq[Double],
      queryId: Long): DataFrame =
    assignPqCodes(embD, books)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(adcDistance(books, qv), 6).as("adc_dist"))

  /** A row's ADC distance to the query vector `qv`: per subspace j, the
    * sq9 distances from qv's j-th slice to book j's centroids form a
    * literal table, looked up at `code[j]`; the m lookups sum in
    * subspace order.
    */
  private def adcDistance(books: Seq[Seq[Seq[Double]]], qv: Seq[Double]): Column = {
    val sub = books.head.head.length
    books.zipWithIndex.map { case (book, j) =>
      val tbl = book.map(cvec => sq9(qv.slice(j * sub, (j + 1) * sub), cvec))
      element_at(array(tbl.map(lit): _*), col("code").getItem(j) + 1)
    }.reduce(_ + _)
  }

  /** PQ search the way production systems actually run it (FAISS's
    * IndexPQ + refine step): the cheap ADC code-scan keeps a SHORTLIST
    * of `shortlist` candidates (TakeOrdered — O(shortlist) per
    * partition, no corpus shuffle), then ONLY those rows' full float
    * vectors are re-read for an exact cosine re-rank to the final `k`.
    * The expensive exact metric touches `shortlist` vectors instead of
    * the corpus — at 100 TB that is a code-only scan plus a broadcast
    * semi-join fetching a few hundred rows. Direct ADC ranking (the
    * [[pqSearchADC]] output) is recall-limited by quantization error
    * (measured 1-4 of 10 across the sf ladder at m=8/ksub=16); the
    * re-ranked top-10 recovers 6-10 of 10 at shortlist=100 because the
    * true neighbors survive INTO a 100-wide shortlist even when their
    * ADC order within it is scrambled. Ranked by exact cosine
    * descending, ties to the lowest vec_id.
    */
  def pqSearchRerank(emb: DataFrame, queryId: Long, k: Int, shortlist: Int,
      m: Int, ksub: Int, iters: Int): DataFrame = {
    val embD = doubles(emb)
    pqRerankWith(embD, pqTrainLocal(embD, m, ksub, iters), queryId, k, shortlist, "pqSearchRerank")
  }

  /** [[pqSearchRerank]] against already-trained codebooks; the query
    * vector is fetched once and serves both the ADC tables and the
    * exact re-rank.
    */
  private def pqRerankWith(embD: DataFrame, books: Seq[Seq[Seq[Double]]], queryId: Long,
      k: Int, shortlist: Int, caller: String): DataFrame = {
    val qv = queryVector(embD, queryId, caller)
    val short = pqAdcScores(embD, books, qv, queryId)
      .orderBy(col("adc_dist").asc, col("vec_id")).limit(shortlist)
      .select(col("vec_id"))
    cosineTopK(embD.join(broadcast(short), "vec_id"), qv, k)
  }

  /** PQ rerank-depth recall curve — the second EMPIRICAL member of the
    * recall-contract family (the first is [[ivfProbeAudit]]). A PQ
    * codebook is data-dependent (trained on this corpus), so the
    * shortlist depth that [[pqSearchRerank]] needs to reach a recall
    * floor must be MEASURED, not derived. Measured exactly and in ONE
    * pass by the same rank-histogram argument as the IVF audit: for a
    * deterministic sample of queries (the `sampleQ` lowest vec_ids),
    * true top-k = brute force ([[knnJoin]]); each true neighbor's ADC
    * RANK (position by `(adc_dist asc, vec_id)` among all non-query
    * vectors — exactly the order the shortlist truncates) decides the
    * smallest depth that shortlists it, so recall at EVERY depth falls
    * out of one histogram, no per-depth re-search. (Recall at depth c
    * really is |{true neighbors at rank <= c}| / k: the rerank is
    * exact within the shortlist and fewer than k corpus vectors beat
    * any true top-k member, so a shortlisted true neighbor is always
    * returned.) Output: (depth, n_truth, n_caught, recall_micro) over
    * the geometric grid k·2^j — data-independent so an external oracle
    * can replay it; depths past the corpus size just saturate at 1e6.
    *
    * Scale: the ADC scoring is a code-only projection (the corpus
    * floats are never re-read), the per-query rank is one window over
    * n·sampleQ code rows, truth is `sampleQ` brute-force rows — the
    * audit costs a few code scans where the search it calibrates costs
    * one, the same affordability contract as the IVF audit.
    */
  def pqRerankAudit(emb: DataFrame, k: Int, m: Int, ksub: Int, iters: Int,
      sampleQ: Int, maxDepthExp: Int = 8): DataFrame = {
    require(k >= 1 && sampleQ >= 1 && maxDepthExp >= 0,
      s"need k, sampleQ >= 1 and maxDepthExp >= 0, got ($k, $sampleQ, $maxDepthExp)")
    val spark = emb.sparkSession
    import spark.implicits._
    val embD = doubles(emb)
    val levels = (0 to maxDepthExp).map(j => k.toLong << j)
      .toDF("depth").select(col("depth").cast("int").as("depth"))
    depthCurve(pqTruthRanks(emb, embD, pqTrainLocal(embD, m, ksub, iters), k, sampleQ),
      "adc_rank", levels)
  }

  /** Each sample query's true top-k neighbors ([[knnJoin]]) with their
    * ADC rank ([[pqAdcRanks]]) — the truth join behind
    * [[pqRerankAudit]]'s histogram and [[pqRerankDepthFor]]'s order
    * statistic. One column, `adc_rank`.
    */
  private def pqTruthRanks(emb: DataFrame, embD: DataFrame, books: Seq[Seq[Seq[Double]]],
      k: Int, sampleQ: Int): DataFrame = {
    val ranks = pqAdcRanks(embD, books, sampleQ)
    val truth = knnJoin(emb, col("vec_id") < sampleQ, k)
      .select(col("query_id"), col("vec_id"))
    truth.join(ranks, Seq("query_id", "vec_id")).select(col("adc_rank"))
  }

  /** Every (sample query, corpus vector) pair's ADC rank — the shared
    * scan behind [[pqRerankAudit]] and [[pqRerankDepthFor]]. Codes are
    * assigned once; each query's m·ksub ADC table rides in as one
    * literal (the tables for ALL sample queries explode from a single
    * array literal, so the scoring stays one code-only projection, not
    * `sampleQ` plan copies). Rank is `row_number` by `(adc_dist asc,
    * vec_id)` per query — the exact truncation order of
    * [[pqSearchRerank]]'s shortlist.
    */
  private def pqAdcRanks(embD: DataFrame, books: Seq[Seq[Seq[Double]]],
      sampleQ: Int): DataFrame = {
    val m = books.size
    val sub = books.head.head.length
    val qVecs = sampleVectors(embD, sampleQ)
    require(qVecs.nonEmpty, s"pqAdcRanks: no sample queries with vec_id < $sampleQ")
    val qStructs = qVecs.map { case (qid, qv) =>
      val tabs = books.zipWithIndex.map { case (book, j) =>
        array(book.map(cvec => lit(sq9(qv.slice(j * sub, (j + 1) * sub), cvec))): _*)
      }
      struct(lit(qid).as("query_id"), array(tabs: _*).as("tab"))
    }
    val adc = (0 until m).map(j =>
      element_at(element_at(col("q.tab"), j + 1), col("code").getItem(j) + 1))
      .reduce(_ + _)
    import org.apache.spark.sql.expressions.Window
    assignPqCodes(embD, books)
      .select(col("vec_id"), col("code"),
        explode(array(qStructs: _*)).as("q"))
      .filter(col("vec_id") =!= col("q.query_id"))
      .select(col("q.query_id").as("query_id"), col("vec_id"),
        round(adc, 6).as("adc_dist"))
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist").asc, col("vec_id").asc)))
      .select(col("query_id"), col("vec_id"), col("adc_rank"))
  }

  /** Smallest shortlist depth whose MEASURED sample recall meets the
    * contract — the advisor over [[pqRerankAudit]]'s rank histogram,
    * read as an ORDER STATISTIC rather than a depth grid: the depth
    * that catches a `target` fraction of true neighbors is exactly the
    * ceil(target·n_truth)-th smallest true-neighbor ADC rank. Like
    * [[ivfProbesFor]] it can never refuse: depth = corpus size
    * shortlists everything and the contract degrades to exact search.
    * Floored at k (a shortlist below k cannot return k rows). The
    * collect is the true-neighbor rank list — at most k·sampleQ rows.
    */
  def pqRerankDepthFor(emb: DataFrame, k: Int, m: Int, ksub: Int, iters: Int,
      sampleQ: Int, targetRecallMicro: Long): Int = {
    requireTarget(targetRecallMicro)
    val embD = doubles(emb)
    pqDepthWith(emb, embD, pqTrainLocal(embD, m, ksub, iters), k, sampleQ, targetRecallMicro)
  }

  /** [[pqRerankDepthFor]] against already-trained codebooks. */
  private def pqDepthWith(emb: DataFrame, embD: DataFrame, books: Seq[Seq[Seq[Double]]],
      k: Int, sampleQ: Int, targetRecallMicro: Long): Int = {
    val tr = pqTruthRanks(emb, embD, books, k, sampleQ).collect().map(_.getInt(0)).sorted
    val need = math.ceil(targetRecallMicro.toDouble * tr.length / 1000000.0).toInt
    if (need <= 0) k else math.max(k, tr(need - 1))
  }

  /** [[pqSearchRerank]] under a recall CONTRACT: shortlist depth
    * derived from the measured sample rank histogram by
    * [[pqRerankDepthFor]] instead of configured — the production
    * adoption for the PQ family, as [[ivfSearchContract]] for IVF.
    * The codebooks are trained ONCE: the audit and the search share
    * the persisted corpus projection and the driver-held books.
    */
  def pqSearchRerankContract(emb: DataFrame, queryId: Long, k: Int, m: Int,
      ksub: Int, iters: Int, targetRecallMicro: Long, sampleQ: Int): DataFrame = {
    requireTarget(targetRecallMicro)
    val embD = doubles(emb)
    val books = pqTrainLocal(embD, m, ksub, iters)
    val depth = pqDepthWith(emb, embD, books, k, sampleQ, targetRecallMicro)
    pqRerankWith(embD, books, queryId, k, depth, "pqSearchRerankContract")
  }

  // ------------------------------------------------------------- IVF-PQ

  /** The corpus IVF-PQ-encoded (Jégou et al. 2011 §IV: coarse k-means
    * cells + product quantization of the RESIDUAL e − centroid(cell),
    * which is what FAISS's IVFPQ stores): returns ((cents, books),
    * frame with `vec_id, e, cell, code`). Residuals concentrate around
    * the origin regardless of which cell a vector landed in, so one
    * shared `m`×`ksub` codebook covers all cells at far lower
    * quantization error than coding raw vectors — the standard
    * composition. Both trainers are the deterministic driver-held
    * mini-Lloyd ([[kmeansCellsLocal]], [[pqTrainLocal]]); cell
    * assignment, residual subtraction (an `element_at` into a literal
    * cell→centroid map) and code assignment are all map-side
    * projections — encoding never shuffles.
    */
  def ivfPqEncode(embD: DataFrame, cells: Int, m: Int, ksub: Int, iters: Int)
      : ((Seq[(Int, Seq[Double])], Seq[Seq[Seq[Double]]]), DataFrame) = {
    val cents = kmeansCellsLocal(embD, cells, iters)
    val centMap = map(cents.flatMap { case (c, cv) =>
      Seq(lit(c), array(cv.map(lit): _*)) }: _*)
    // MATERIALIZED before the PQ stages: Catalyst's projection collapse
    // would otherwise inline the residual zip_with (and its 16-entry
    // literal centroid map) into every one of the m*ksub distance
    // expressions — measured ~2x the whole search at m=8/ksub=16 — and
    // training + final coding each rescan the residuals anyway
    val resid = graft.GraftCache.registered(assignCells(embD, cents)
      .withColumn("r", zip_with(col("e"), element_at(centMap, col("cell")), (x, y) => x - y)))
    val books = pqTrainLocal(resid.select(col("vec_id"), col("r").as("e")), m, ksub, iters)
    // assignPqCodes codes whatever sits in `e` and passes other columns
    // through — swap the residual in, keep cell and the original vector,
    // so coding stays a single projection (no join back by id)
    val coded = assignPqCodes(
      resid.select(col("vec_id"), col("r").as("e"), col("cell"), col("e").as("orig")), books)
    ((cents, books), coded.select(col("vec_id"), col("orig").as("e"), col("cell"), col("code")))
  }

  /** IVF-PQ ANN, the shape production vector search actually runs at
    * corpus scale (FAISS IndexIVFPQ + refine): probe the `nprobe`
    * nearest cells (driver-side, against `cells` held centroids), scan
    * ONLY those cells' PQ codes with per-cell ADC tables built from the
    * query's residual vs each probed centroid, keep a `shortlist`, then
    * exact-cosine re-rank only those rows to the final `k`. The scan
    * cost at rest is (nprobe/cells) of the corpus × (m bytes per vector
    * instead of 4·dim) — at cells=16/nprobe=4/m=8 over 64-dim float32
    * that is ~0.8% of the raw bytes, which is what makes a 100 TB
    * corpus answerable per-query; see [[writeIvfPqIndex]] for the
    * at-rest variant where partition pruning realizes the nprobe/cells
    * factor against files. The ADC distance is selected per-row by a
    * `when` chain over the probed cells (each arm = m literal-table
    * lookups), so the whole search is scan → filter → project →
    * TakeOrdered — no shuffle, no join before the bounded rerank.
    */
  def ivfPqSearch(emb: DataFrame, queryId: Long, k: Int, cells: Int, nprobe: Int,
      m: Int, ksub: Int, iters: Int, shortlist: Int): DataFrame = {
    val embD = doubles(emb)
    val ((cents, books), coded) = ivfPqEncode(embD, cells, m, ksub, iters)
    val qv = queryVector(embD, queryId, "ivfPqSearch")
    val short = ivfPqAdcShortlist(coded, cents, books, qv, queryId, nprobe, shortlist)
    cosineTopK(embD.join(broadcast(short), "vec_id"), qv, k)
  }

  /** The probe-pruned ADC shortlist over an IVF-PQ-coded frame: per
    * probed cell, the ADC table is built on the driver from the QUERY
    * residual vs that cell's centroid (asymmetric: the query is never
    * quantized), and a row's distance is chosen by its `cell` — rows in
    * un-probed cells are filtered before the projection.
    */
  private def ivfPqAdcShortlist(coded: DataFrame, cents: Seq[(Int, Seq[Double])],
      books: Seq[Seq[Seq[Double]]], qv: Seq[Double], queryId: Long,
      nprobe: Int, shortlist: Int): DataFrame = {
    val probes = probeOrder(cents, qv).take(nprobe)
    val centById = cents.toMap
    // each arm is null outside its cell, so coalesce picks the probed
    // cell's table sum (the filter below guarantees exactly one match)
    val adc = coalesce(probes.map { c =>
      val qr = qv.zip(centById(c)).map { case (x, y) => x - y }
      when(col("cell") === c, adcDistance(books, qr))
    }: _*)
    coded.filter(col("cell").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), round(adc, 6).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id")).limit(shortlist)
      .select(col("vec_id"))
  }

  /** Train and WRITE an IVF-PQ index: `vec_id, code` partitioned by
    * `cell` (a probe's scan prunes to nprobe/cells of the files — the
    * [[writeIvfIndex]] layout), with the trained centroids AND
    * codebooks stored under underscore-prefixed side paths (invisible
    * to partition discovery). Unlike the plain IVF index the data files
    * hold PQ codes, not vectors: the index is ~m bytes per vector at
    * rest, and a probe's scan reads (nprobe/cells)·(m/4·dim) of the
    * corpus bytes. Re-ranking fetches the shortlist's full vectors from
    * the SOURCE table by id (production keeps vectors and index
    * separate for exactly this reason).
    */
  def writeIvfPqIndex(emb: DataFrame, path: String, cells: Int,
      m: Int, ksub: Int, iters: Int): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ((cents, books), coded) = ivfPqEncode(doubles(emb), cells, m, ksub, iters)
    coded.select(col("vec_id"), col("code"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeCentroids(spark, cents, path)
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cvec, c) => (j, c, cvec) } }
      .toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_books")
  }

  /** Probe a [[writeIvfPqIndex]] index: centroids + books are read back
    * (tiny), the code scan partition-prunes on `cell` to the probed
    * files, and the shortlist re-ranks against the source `emb` table —
    * the scan side never touches a float vector.
    */
  def ivfPqSearchIndexed(emb: DataFrame, path: String, queryVec: Seq[Double],
      excludeId: Long, k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    val spark = emb.sparkSession
    val cents = readCentroids(spark, path)
    val bookRows = spark.read.parquet(s"$path/_books").collect()
      .map(r => (r.getAs[Int]("sub"), r.getAs[Int]("code")) -> r.getSeq[Double](r.fieldIndex("centroid"))).toMap
    val m = bookRows.keys.map(_._1).max + 1
    val ksub = bookRows.keys.map(_._2).max + 1
    val books = (0 until m).map(j => (0 until ksub).map(c => bookRows((j, c))))
    val coded = spark.read.parquet(path)
    val short = ivfPqAdcShortlist(coded, cents, books, queryVec, excludeId, nprobe, shortlist)
    cosineTopK(emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
      .filter(col("vec_id") =!= excludeId)
      .join(broadcast(short), "vec_id"), queryVec, k)
  }

  /** IVF-style ANN: coarse-partition the corpus by `label` (stands in
    * for a k-means cell id), compute cell centroids, probe only the
    * nearest cell(s) to the query. The scan touches 1/cells of the
    * corpus — the 100 TB path.
    */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, dim: Int): DataFrame = {
    val embD = emb.select(col("vec_id"), col("label"), toDoubleVec(col("embedding")).as("e"))
    val cent = centroids(embD.select(col("label"), col("e")), "label", "e")
    val q = embD.filter(col("vec_id") === queryId).select(col("e").as("q_emb"))
    val probe = cent.crossJoin(broadcast(q))
      .select(col("label"), round(cosine(col("centroid"), col("q_emb")), 6).as("c_sim"))
      .orderBy(col("c_sim").desc, col("label")).limit(1)
    embD.join(broadcast(probe.select(col("label"))), "label")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("e"), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(k)
  }

  /** Micro-quantized vector column: `round(x·10⁶)` per element as
    * BIGINT. The bridge from float embeddings to the exact integer
    * arithmetic [[kmeansInt]] runs on.
    */
  def quantizeMicro(vec: Column): Column =
    transform(vec, v => round(v.cast("double") * 1e6).cast("long"))

  /** Iterative Lloyd k-means whose EVERY step is exact integer
    * arithmetic — the integer twin of the float [[kmeansCellsLocal]]
    * the IVF, IVF-PQ and SemDeDup paths train with, made
    * oracle-replayable at `iters > 0`: float Lloyd sums member vectors
    * in partition-dependent order, so its centroids (and hence
    * assignments near cell boundaries) can never hash-match another
    * engine, which is why the graded IVF queries pin `iters = 0`. Here vectors are
    * micro-quantized ([[quantizeMicro]]), distances are integer
    * squared-L2, and the centroid update is the exact floor-division
    * `floorDiv(Σ memberᵢ, n)` per dimension — order-free, so Spark
    * and the SQL oracle agree bit-for-bit after any number of
    * iterations.
    *
    * Seeds are the `k` lowest-id vectors (replayable), as cells
    * 0..k-1. Every row goes to its nearest centroid, ties to the
    * lowest cell id; a cell left without members drops out and the
    * others keep their ids. Returns per-cell member count + centroid
    * checksum (Σ over dims) after the final update. Fails naming the
    * vec_id on a null, ragged or null-element vector.
    *
    * Scale: the quantized (vec_id, q) frame is persisted once and each
    * round is ONE job — a `treeAggregate` whose fold assigns rows and
    * adds them into per-cell `long[dim]` sums and counts, so only k·dim
    * partial sums per partition travel, never vectors; `Math.*Exact`
    * keeps ANSI's overflow error. The k·dim centroid longs live on the
    * driver between rounds and ride the final assignment as literals,
    * so the returned frame is a pure scan + per-cell count. This IS
    * Spark MLlib's k-means dataflow shape, with exactness traded for
    * the trivial cost of integer ops.
    */
  def kmeansInt(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"kmeansInt: k >= 1, got $k")
    val qv = graft.GraftCache.registered(
      emb.select(col("vec_id"), quantizeMicro(col("embedding")).as("q")))
    val seeds = qv.orderBy(col("vec_id")).limit(k).collect()
    require(seeds.nonEmpty, "kmeansInt: empty input, no vector to seed a cell")
    val dim = if (seeds.head.isNullAt(1)) 0 else seeds.head.getSeq[Any](1).length
    var cents: Array[(Int, Array[Long])] =
      seeds.zipWithIndex.map { case (r, i) => i -> intVector(r, dim) }

    for (_ <- 1 to iters) {
      val cv = cents.map(_._2)
      val acc = qv.rdd.treeAggregate(new LloydSums(cv.length, dim))(
        (a, r) => a.add(cv, intVector(r, dim)), (a, b) => a.merge(b))
      cents = cents.indices.filter(acc.counts(_) > 0).map { j =>
        cents(j)._1 -> Array.tabulate(dim)(d => Math.floorDiv(acc.sums(j * dim + d), acc.counts(j)))
      }.toArray
    }

    // nearest centroid per row: k integer distances as literal-array
    // zip_with folds, argmin with min-cell tie-break via least(structs)
    // — the fold's rule, so the final assignment matches the rounds'
    val dists = cents.toSeq.map { case (cell, c) =>
      struct(
        aggregate(zip_with(col("q"), array(c.toSeq.map(lit): _*), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d"),
        lit(cell).as("cell"))
    }
    val nearest = if (dists.size == 1) dists.head else least(dists: _*)
    // a null, ragged or null-element vector has a null distance to every
    // centroid (zip_with pads with nulls): counting a row through this
    // guard fails on such a row, naming it. The guard sits in the count,
    // not the grouping key, so the key stays non-nullable and the join
    // below infers no null filter that would evaluate `nearest` twice.
    val member = when(col("nn.d").isNull, raise_error(concat(lit("kmeansInt: vec_id="),
        coalesce(col("vec_id").cast("string"), lit("null")),
        lit(s" has a null, ragged or null-element vector; every vector needs $dim non-null components"))))
      .otherwise(lit(1))
    val sp = emb.sparkSession
    import sp.implicits._
    val centDf = cents.toSeq.map { case (cell, c) => (cell, c.sum) }
      .toDF("cell", "centroid_sum")
    qv.select(col("vec_id"), nearest.as("nn"))
      .groupBy(col("nn.cell").as("cell")).agg(count(member).cast("int").as("n"))
      .join(broadcast(centDf), "cell")
      .select(col("cell"), col("n"), col("centroid_sum"))
      .orderBy(col("cell"))
  }

  /** Row (vec_id, q) → q as `long[dim]`; fails naming the vec_id on a
    * null, ragged or null-element vector.
    */
  private def intVector(r: org.apache.spark.sql.Row, dim: Int): Array[Long] = {
    val q = if (r.isNullAt(1)) null else r.getSeq[java.lang.Long](1)
    val what =
      if (q == null) "a null vector"
      else if (q.length != dim) s"${q.length} components"
      else if (q.contains(null)) "a null element"
      else null
    require(what == null, s"kmeansInt: vec_id=${r.get(0)} has $what; every vector needs $dim non-null components")
    q.iterator.map(_.longValue).toArray
  }

  /** One exact Lloyd round's fold state: per-cell sums (`k × dim`,
    * row-major) and member counts over the centroids `cents`, which are
    * ordered by cell id.
    */
  private final class LloydSums(k: Int, dim: Int) extends Serializable {
    val sums = new Array[Long](k * dim)
    val counts = new Array[Long](k)

    def add(cents: Array[Array[Long]], v: Array[Long]): LloydSums = {
      var best = 0
      var bestD = 0L
      var j = 0
      while (j < k) {
        val c = cents(j)
        var d = 0L
        var i = 0
        while (i < dim) {
          val x = Math.subtractExact(v(i), c(i))
          d = Math.addExact(d, Math.multiplyExact(x, x))
          i += 1
        }
        if (j == 0 || d < bestD) { best = j; bestD = d } // strict: ties keep the lower cell
        j += 1
      }
      var i = 0
      while (i < dim) {
        sums(best * dim + i) = Math.addExact(sums(best * dim + i), v(i))
        i += 1
      }
      counts(best) += 1
      this
    }

    def merge(o: LloydSums): LloydSums = {
      var i = 0
      while (i < sums.length) { sums(i) = Math.addExact(sums(i), o.sums(i)); i += 1 }
      i = 0
      while (i < k) { counts(i) += o.counts(i); i += 1 }
      this
    }
  }

  /** SPARSE-vector cosine pairs: TF-IDF document vectors compared via
    * the inverted index instead of dense dot products — the text-side
    * sibling of the embedding ANN family (classic all-pairs similarity
    * search, Bayardo et al. 2007 / Elsayed et al. 2008 map-reduce
    * shape: join postings lists by term, sum per-pair weight products).
    *
    * Scale posture: a pair can only surface through a SHARED term, and
    * the per-term fan-out is df² — so the vocabulary is capped at
    * `maxDf` document frequency BY CONSTRUCTION (the standard
    * stopword-pruning move: terms in more than `maxDf` docs carry
    * ~zero idf and quadratic fan-out). The vector space is defined
    * over that capped vocabulary for dot products AND norms, so
    * cosine stays a true cosine in [0, 1]. Everything that shuffles
    * is (id, term-hashable, fixed-width weight) rows; no document
    * payload moves.
    *
    * Engine-exactness: weights are integer milli-units
    * (`tf · round(ln(N/df)·1000)`), so dots and norms are exact
    * integer sums in any order; the final cosine divides exact
    * integers in double and rounds to 6 decimals before the threshold
    * comparison.
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      gram: Int = 3, maxDf: Int = 100, minCosine: Double = 0.25): DataFrame = {
    require(maxDf >= 2, s"tfidfCosinePairs: maxDf >= 2, got $maxDf")
    require(gram >= 1, s"tfidfCosinePairs: gram >= 1, got $gram")
    val n = math.max(1L, docs.count())
    // terms are `gram`-shingles (gram = 1 → unigrams): unigram spaces
    // are stopword-dominated, shingles carry the discriminative mass
    val terms =
      if (gram <= 1)
        graft.functions.Tokenize.exploded(docs, col(idCol), col(textCol))
          .select(col(idCol).as("id"), col("token").as("term"))
      else docs.select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.shingles(
          graft.functions.TextFunctions.tokenize(col(textCol)), gram)).as("term"))
    val tf = terms.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // idf in integer milli-units; df == N terms fold to w = 0 and drop
    val w = tf.join(dfr, "term")
      .select(col("id"), col("term"),
        (col("tf") *
          round(log(lit(n.toDouble) / col("df").cast("double")) * 1000)
            .cast("long")).as("w"))
      .filter(col("w") > 0)
    val norms = w.groupBy(col("id")).agg(sum(col("w") * col("w")).as("q"))
    // each weight row CARRIES its doc's norm into the pair join, so the
    // cosine folds into the one pair aggregation. The first cut joined
    // norms onto the aggregated pairs instead — at the x1000 soak tier
    // that re-shuffled the ~billions-of-rows candidate-pair frame TWICE
    // more before the threshold could drop it (measured: filled 75 GB
    // of scratch and died); carrying 8 bytes per leg row makes the pair
    // shuffle the only big movement and the filter immediate.
    val wn = graft.GraftCache.registered(w.join(norms, "id"))
    wn.select(col("id").as("id_a"), col("term"), col("w").as("wa"), col("q").as("qa"))
      .join(wn.select(col("id").as("id_b"), col("term"), col("w").as("wb"),
        col("q").as("qb")), "term")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"),
        max(col("qa")).as("qa"), max(col("qb")).as("qb"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("dot"),
        round(col("dot") / (sqrt(col("qa")) * sqrt(col("qb"))), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }
}
