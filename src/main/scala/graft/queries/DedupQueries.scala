package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import Q._

/** Dedup + similarity-search packs (beyond-reference, BASELINE.json
  * north star): exact dedup, MinHash+LSH, SimHash, blocked n-gram
  * Jaccard, embedding near-dup, brute-force/LSH/IVF ANN. Oracle SQL is
  * generated from the same constants as the Spark expressions so the
  * two can't drift.
  */
object DedupQueries {

  /** DuckDB fragments shared by the dedup oracles, parameterized over
    * the document-set SQL (`src` must yield (doc_id, text)).
    */
  private[queries] def sqlToks(src: String) =
    s"SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk FROM ($src)"
  private[queries] def sqlShingles(src: String) =
    s"""SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        FROM (${sqlToks(src)}), unnest(generate_series(1, len(tk) - 2)) AS u(i)"""
  private[queries] def sqlH31(e: String) = s"((('0x' || substr(md5($e), 1, 8))::BIGINT) % ${Dedup.P})"
  private[queries] def sqlPerm(i: Int) =
    s"min((${Dedup.MinhashA(i)} * h + ${Dedup.MinhashB(i)}) % ${Dedup.P}) AS mh$i"
  private val SqlToks = sqlToks(s"SELECT doc_id, text FROM $DocsPq")
  private val SqlShingles = sqlShingles(s"SELECT doc_id, text FROM $DocsPq")

  /** CTE chain replaying [[Dedup.dupSpans]] (l=5, minCount=2): 5-gram
    * occurrences with 1-based start positions, h31 gram hashes,
    * corpus-wide duplicate filter, and the per-doc gaps-and-islands
    * merge — bit-for-bit the engine's windows (same ordering, same
    * adjacency rule `s > prev_e + 1`). Terminates at `isl`; callers
    * group by (doc_id, island).
    */
  private val SqlDupSpanCtes: String = {
    val gram = (0 until 5).map(o => s"tk[i+$o]").mkString(" || ' ' || ")
    s"""g AS (SELECT doc_id, i AS s, ${sqlH31(s"($gram)")} AS gh
          FROM ($SqlToks), unnest(generate_series(1, len(tk) - 4)) AS u(i)),
        dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
        hits AS (SELECT doc_id, s, s + 4 AS e FROM g JOIN dup USING (gh)),
        m AS (SELECT doc_id, s, e,
            max(e) OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
          FROM hits),
        isl AS (SELECT doc_id, s, e,
            sum(CASE WHEN prev_e IS NULL OR s > prev_e + 1 THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM m)"""
  }
  private val SqlSig =
    s"""SELECT doc_id, ${(0 until 8).map(sqlPerm).mkString(", ")}
        FROM (SELECT doc_id, ${sqlH31("shingle")} AS h FROM ($SqlShingles)) GROUP BY doc_id"""
  private[queries] def bandEq(side: String, b: Int, rows: Int) =
    (b * rows until (b + 1) * rows).map(i => s"l.mh$i = r.mh$i").mkString("(", " AND ", ")")

  /** Affine permutation i as SQL — mirrors
    * [[graft.operators.Dedup.permutedAffine]]: index-generated, so an
    * oracle can replay ANY signature width (the contract-derived
    * geometries) without a constant table.
    */
  private[queries] def sqlPermAffine(i: Int) =
    s"min(((${1299721 + 2 * i}) * h + ${104729L * (i + 1)}) % ${Dedup.P}) AS mh$i"

  /** The q253/q255 recall-audit oracle, parameterized by signature
    * columns + band condition so the default (8, 2) and the
    * contract-derived (30, 10) geometries replay from one definition.
    * Units are the 32-token stride-8 sliding chunks of
    * [[graft.operators.Dedup.slidingTokenChunks]] (doc_id·1024 + idx);
    * identical units collapse exactly (text then set, multiplicities
    * carried, within-class pairs analytic in bucket 10) — mirroring
    * the operator.
    */
  private[queries] def sqlLshRecallAudit(sigCols: String, bandCond: String): String =
    s"""WITH ut AS (SELECT text, min(doc_id) AS doc_id, count(*) AS mt FROM (
            SELECT doc_id * 1024 + (st - 1) // 8 AS doc_id,
                array_to_string(list_slice(tk, st, st + 31), ' ') AS text
              FROM (SELECT doc_id, tk FROM (${sqlToks(s"SELECT doc_id, text FROM $DocsPq")})
                WHERE len(tk) >= 32),
              unnest(generate_series(1, len(tk) - 31, 8)) AS u(st))
          GROUP BY text),
        shall AS (SELECT DISTINCT doc_id, ${sqlH31("shingle")} AS h FROM (${
          sqlShingles("SELECT doc_id, text FROM ut")})),
        ds AS (SELECT doc_id, list(h ORDER BY h) AS hs FROM shall GROUP BY doc_id),
        cls AS (SELECT hs, min(doc_id) AS doc_id, CAST(sum(mt) AS BIGINT) AS m
          FROM ds JOIN ut USING (doc_id) GROUP BY hs),
        sh AS (SELECT doc_id, unnest(hs) AS h FROM cls),
        rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) BETWEEN 2 AND 20),
        bl AS (SELECT doc_id, h FROM sh JOIN rare USING (h)),
        cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM bl l JOIN bl r ON l.h = r.h AND l.doc_id < r.doc_id),
        tr AS (SELECT doc_a, doc_b,
            (len(list_intersect(a.hs, b.hs))::BIGINT * 1000000) //
              (len(a.hs)::BIGINT + len(b.hs)::BIGINT - len(list_intersect(a.hs, b.hs))::BIGINT) AS jac_micro,
            a.m AS m_a, b.m AS m_b
          FROM cand JOIN cls a ON a.doc_id = doc_a JOIN cls b ON b.doc_id = doc_b),
        sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
        lsh AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM sig l JOIN sig r
          ON l.doc_id < r.doc_id AND ($bandCond)),
        j AS (SELECT t.jac_micro, t.m_a * t.m_b AS w,
            CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS caught
          FROM (SELECT * FROM tr WHERE jac_micro >= 300000) t
          LEFT JOIN lsh c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
        crossb AS (SELECT CAST(jac_micro // 100000 AS INT) AS j_bucket,
            CAST(sum(w) AS BIGINT) AS n_truth, CAST(sum(w * caught) AS BIGINT) AS n_caught
          FROM j GROUP BY 1),
        withinb AS (SELECT 10 AS j_bucket,
            CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_truth,
            CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_caught
          FROM cls WHERE m >= 2 HAVING sum(m * (m - 1) // 2) > 0)
        SELECT j_bucket, CAST(sum(n_truth) AS BIGINT) AS n_truth,
          CAST(sum(n_caught) AS BIGINT) AS n_caught,
          CAST((sum(n_caught)::HUGEINT * 1000000) // sum(n_truth) AS BIGINT) AS recall_micro
        FROM (SELECT * FROM crossb UNION ALL SELECT * FROM withinb)
        GROUP BY 1 ORDER BY 1"""

  /** Pair-derivation CTE chain over an arbitrary (doc_id, h) hashed
    * feature SQL — mirrors [[graft.operators.Dedup.pairsFromHashes]].
    */
  private[queries] def sqlPairsCtesFromHashes(hashSql: String, threshold: Double, bands: Int): String = {
    val rows = 8 / bands
    val bandCond = (0 until bands).map(b => bandEq("", b, rows)).mkString(" OR ")
    s"""sh AS ($hashSql),
        sig AS (SELECT doc_id, ${(0 until 8).map(sqlPerm).mkString(", ")} FROM sh GROUP BY doc_id),
        cand AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b FROM sig l JOIN sig r
          ON l.doc_id < r.doc_id AND ($bandCond)),
        sets AS (SELECT doc_id, list_distinct(list(h)) AS hs FROM sh GROUP BY doc_id),
        jac AS (SELECT doc_a, doc_b,
            round(len(list_intersect(a.hs, b.hs))::DOUBLE /
              (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::DOUBLE, 6) AS jaccard
          FROM cand JOIN sets a ON a.doc_id = doc_a JOIN sets b ON b.doc_id = doc_b),
        pairs AS (SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= $threshold)"""
  }

  /** Pair-derivation CTE chain over an arbitrary (doc_id, text) source. */
  private[queries] def sqlPairsCtesFor(src: String, threshold: Double): String =
    sqlPairsCtesFromHashes(
      s"SELECT doc_id, ${sqlH31("shingle")} AS h FROM (${sqlShingles(src)})", threshold, 2)

  /** Pair-derivation CTE chain at an ARBITRARY affine geometry —
    * mirrors [[graft.operators.Dedup.pairsFromHashes]] with the
    * [[graft.operators.Dedup.permutedAffine]] family: k = r·b
    * index-generated permutations, b bands of r rows.
    */
  private[queries] def sqlPairsCtesFromHashesAffine(hashSql: String, threshold: Double,
      rows: Int, bands: Int): String = {
    val bandCond = (0 until bands).map(b => bandEq("", b, rows)).mkString(" OR ")
    s"""sh AS ($hashSql),
        sig AS (SELECT doc_id, ${(0 until rows * bands).map(sqlPermAffine).mkString(", ")}
          FROM sh GROUP BY doc_id),
        cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b FROM sig l JOIN sig r
          ON l.doc_id < r.doc_id AND ($bandCond)),
        sets AS (SELECT doc_id, list_distinct(list(h)) AS hs FROM sh GROUP BY doc_id),
        jac AS (SELECT doc_a, doc_b,
            round(len(list_intersect(a.hs, b.hs))::DOUBLE /
              (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::DOUBLE, 6) AS jaccard
          FROM cand JOIN sets a ON a.doc_id = doc_a JOIN sets b ON b.doc_id = doc_b),
        pairs AS (SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= $threshold)"""
  }

  /** The CONTRACT-geometry pair chain ([[Dedup.minhashPairsContract]]'s
    * oracle twin): (rows, bands) resolved by the SAME
    * [[Dedup.minhashGeometryFor]] call the Spark side makes — exact
    * BigInt arithmetic, so query and oracle cannot drift.
    */
  private[queries] def sqlPairsCtesContract(src: String, threshold: Double): String = {
    val (r, b) = Dedup.minhashGeometryFor(math.round(threshold * 1000000L), 900000L)
    sqlPairsCtesFromHashesAffine(
      s"SELECT doc_id, ${sqlH31("shingle")} AS h FROM (${sqlShingles(src)})", threshold, r, b)
  }

  /** Shared CTE chain: shingle hashes → signatures → band candidates →
    * verified near-dup pairs (used by the q51 and q67 oracles).
    */
  private val SqlPairsCtes: String =
    sqlPairsCtesFor(s"SELECT doc_id, text FROM $DocsPq", 0.6)

  /** Per-bit vote of [[graft.operators.Dedup.simhash]] in DuckDB form:
    * parity of an affine permutation of the base hash (the base hash
    * has no entropy above bit 30, so raw bit extraction is wrong for
    * any width — see the simhash scaladoc).
    */
  private val SqlBitVote = s"(((1299721 + 2 * b) * h + 104729 * (b + 1)) % ${Dedup.P}) % 2"

  /** SimHash banded-hamming pair SQL for a given signature width,
    * mirroring [[graft.operators.Dedup.simhashPairs]]: 4 bands of
    * bits/4, complete for hamming <= 3 by pigeonhole. Parameterized so
    * q69 (32-bit) and its wide twin q87 (48-bit — 4096 keys/band, the
    * saturation fix the soak motivated) derive from one definition.
    */
  private[queries] def sqlSimhashPairs(bits: Int): String =
    sqlSimhashPairsWith(s"${bits - 1}", s"${bits / 4}", s"${1L << (bits / 4)}", "")

  /** Auto-width twin: bits replayed from the document count with the
    * integer-corrected rule of [[graft.operators.Dedup.bitsFor]]
    * (target band bucket 250, min 32 bits, cap 60) — same
    * float-safety argument as [[sqlEmbeddingLshPairsAuto]].
    */
  private[queries] def sqlSimhashPairsAuto: String =
    sqlSimhashPairsWith(
      "(SELECT bits FROM bl) - 1",
      "((SELECT bits FROM bl) // 4)",
      "(1::BIGINT << ((SELECT bits FROM bl) // 4))",
      s"""cntd AS (SELECT COUNT(*) AS n FROM $DocsPq),
          bk0 AS (SELECT GREATEST(CAST(CEIL(LOG2(GREATEST(n, 1)::DOUBLE / 250.0)) AS BIGINT), 0) AS k, n FROM cntd),
          bl AS (SELECT 4 * LEAST(15, GREATEST(8, CASE
              WHEN ((n - 1) >> GREATEST(k - 1, 0)) < 250 THEN GREATEST(k - 1, 0)
              WHEN ((n - 1) >> k) < 250 THEN k
              ELSE k + 1 END)) AS bits FROM bk0),
          """)

  private def sqlSimhashPairsWith(bitsMaxExpr: String, bandBitsExpr: String,
      bandKeysExpr: String, prefixCtes: String,
      bandsMaxExpr: String = "3", maxHamming: Int = 3): String =
    s"""WITH $prefixCtes th AS (SELECT doc_id, ${sqlH31("token")} AS h FROM
          (SELECT doc_id, unnest(tk) AS token FROM ($SqlToks))),
        votes AS (SELECT doc_id, b, sum(CASE WHEN $SqlBitVote = 1 THEN 1 ELSE -1 END) AS v
          FROM th, unnest(generate_series(0, $bitsMaxExpr)) AS u(b) GROUP BY 1, 2),
        sh AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
          FROM votes GROUP BY doc_id),
        banded AS (
          SELECT doc_id, simhash, b AS band, (simhash >> (b * $bandBitsExpr)) % $bandKeysExpr AS band_key
          FROM sh, unnest(generate_series(0, $bandsMaxExpr)) AS u(b)),
        cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
            CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
          FROM banded l JOIN banded r
          ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id)
        SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= $maxHamming
        ORDER BY doc_a, doc_b"""

  /** Contract-geometry SimHash pair SQL — replays
    * [[graft.operators.Dedup.simhashGeometryFor]](4, COUNT(*)): 5
    * bands (pigeonhole-complete for hamming ≤ 4), band width from the
    * same integer-corrected CEIL(LOG2) rule as the auto twin
    * (minBandBits 8, target bucket 250).
    */
  private[queries] def sqlSimhashPairsContract: String =
    sqlSimhashPairsWith(
      "(SELECT bits FROM bl) - 1",
      "((SELECT bits FROM bl) // 5)",
      "(1::BIGINT << ((SELECT bits FROM bl) // 5))",
      s"""cntd AS (SELECT COUNT(*) AS n FROM $DocsPq),
          bk0 AS (SELECT GREATEST(CAST(CEIL(LOG2(GREATEST(n, 1)::DOUBLE / 250.0)) AS BIGINT), 0) AS k, n FROM cntd),
          bl AS (SELECT 5 * GREATEST(8, CASE
              WHEN ((n - 1) >> GREATEST(k - 1, 0)) < 250 THEN GREATEST(k - 1, 0)
              WHEN ((n - 1) >> k) < 250 THEN k
              ELSE k + 1 END) AS bits FROM bk0),
          """,
      bandsMaxExpr = "4", maxHamming = 4)

  /** The q256 SimHash recall-audit oracle — the [[sqlLshRecallAudit]]
    * pattern for the hamming family: 32-token stride-8 chunk units,
    * identical texts collapsed with multiplicity (identical text ⇒
    * identical simhash, so the collapse is exact), rare-shingle
    * blocked truth pairs with exact hamming, caught = cohabitation in
    * ≥ 1 of the `bands` band keys, within-class pairs analytic at
    * bucket 0.
    */
  private[queries] def sqlSimhashRecallAudit(bits: Int, bands: Int, maxDf: Int,
      maxHammingAudit: Int): String = {
    val bandBits = bits / bands
    s"""WITH ut AS (SELECT text, min(doc_id) AS doc_id, count(*) AS mt FROM (
            SELECT doc_id * 1024 + (st - 1) // 8 AS doc_id,
                array_to_string(list_slice(tk, st, st + 31), ' ') AS text
              FROM (SELECT doc_id, tk FROM (${sqlToks(s"SELECT doc_id, text FROM $DocsPq")})
                WHERE len(tk) >= 32),
              unnest(generate_series(1, len(tk) - 31, 8)) AS u(st))
          GROUP BY text),
        th AS (SELECT doc_id, ${sqlH31("token")} AS h FROM
          (SELECT doc_id, unnest(tk) AS token FROM (${sqlToks("SELECT doc_id, text FROM ut")}))),
        votes AS (SELECT doc_id, b, sum(CASE WHEN $SqlBitVote = 1 THEN 1 ELSE -1 END) AS v
          FROM th, unnest(generate_series(0, ${bits - 1})) AS u(b) GROUP BY 1, 2),
        sim AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
          FROM votes GROUP BY doc_id),
        shall AS (SELECT DISTINCT doc_id, ${sqlH31("shingle")} AS h FROM (${
          sqlShingles("SELECT doc_id, text FROM ut")})),
        rare AS (SELECT h FROM shall GROUP BY h HAVING count(*) BETWEEN 2 AND $maxDf),
        bl AS (SELECT doc_id, h FROM shall JOIN rare USING (h)),
        cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM bl l JOIN bl r ON l.h = r.h AND l.doc_id < r.doc_id),
        j AS (SELECT CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS h_bucket,
            ua.mt * ub.mt AS w,
            list_max(list_transform(generate_series(0, ${bands - 1}), b ->
              CASE WHEN (sa.simhash >> (b * $bandBits)) % ${1L << bandBits}
                      = (sb.simhash >> (b * $bandBits)) % ${1L << bandBits}
                THEN 1 ELSE 0 END)) AS caught
          FROM cand
          JOIN sim sa ON sa.doc_id = cand.doc_a
          JOIN sim sb ON sb.doc_id = cand.doc_b
          JOIN ut ua ON ua.doc_id = cand.doc_a
          JOIN ut ub ON ub.doc_id = cand.doc_b
          WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $maxHammingAudit),
        crossb AS (SELECT h_bucket, CAST(sum(w) AS BIGINT) AS n_truth,
            CAST(sum(w * caught) AS BIGINT) AS n_caught FROM j GROUP BY 1),
        withinb AS (SELECT 0 AS h_bucket, CAST(sum(mt * (mt - 1) // 2) AS BIGINT) AS n_truth,
            CAST(sum(mt * (mt - 1) // 2) AS BIGINT) AS n_caught
          FROM ut WHERE mt >= 2 HAVING sum(mt * (mt - 1) // 2) > 0)
        SELECT h_bucket, CAST(sum(n_truth) AS BIGINT) AS n_truth,
          CAST(sum(n_caught) AS BIGINT) AS n_caught,
          CAST((sum(n_caught)::HUGEINT * 1000000) // sum(n_truth) AS BIGINT) AS recall_micro
        FROM (SELECT * FROM crossb UNION ALL SELECT * FROM withinb)
        GROUP BY 1 ORDER BY 1"""
  }

  /** Hyperplane-LSH embedding near-dup pair SQL for a given plane
    * count, mirroring [[graft.operators.Similarity.nearDupByLsh]].
    * Parameterized so q71 (8 planes) and its wide twin q92 (10 planes
    * — 4x the buckets, the saturation lever measured at the 100x soak
    * tier) derive from one definition.
    */
  private[queries] def sqlEmbeddingLshPairs(planes: Int): String =
    sqlEmbeddingLshPairsWith(s"${planes - 1}", "")

  /** Auto-sized twin: plane count replayed from the corpus count with
    * the integer-corrected rule of
    * [[graft.operators.Similarity.planesFor]] — CEIL(LOG2(...)) lands
    * within ±1 of the true integer, and the correction arms pin it with
    * EXACT integer arithmetic: `(n - 1) >> k < target` is the
    * overflow-free BIGINT test for `target * 2^k >= n` (the earlier
    * `target * POWER(2, k) >= n` double comparison wobbled ±1 at
    * boundaries past 2^53, where n is no longer representable — caught
    * by the full-range property test in OperatorsSpec).
    */
  private[queries] def sqlEmbeddingLshPairsAuto: String =
    sqlEmbeddingLshPairsWith("(SELECT p FROM pl) - 1",
      s"""cnt AS (SELECT COUNT(*) AS n FROM $EmbPq),
          pk AS (SELECT GREATEST(CAST(CEIL(LOG2(GREATEST(n, 1)::DOUBLE / 300.0)) AS BIGINT), 0) AS k, n FROM cnt),
          pl AS (SELECT LEAST(62, GREATEST(8, CASE
              WHEN ((n - 1) >> GREATEST(k - 1, 0)) < 300 THEN GREATEST(k - 1, 0)
              WHEN ((n - 1) >> k) < 300 THEN k
              ELSE k + 1 END)) AS p FROM pk),
          """)

  /** The q258/q259 cosine-LSH recall-audit oracle: blend-ladder units
    * (unit j of a vector = first j·8 coords replaced by the md5 anchor
    * vector), truth = all 28 within-vector rung pairs with exact
    * rounded cosine, caught = cohabitation in ≥ 1 of `tables`
    * hyperplane tables (table k = planes [k·p, (k+1)·p) of the global
    * family). Mirrors [[graft.operators.Similarity.cosineLshRecallAudit]].
    */
  private[queries] def sqlCosineLshRecallAudit(planes: Int, tables: Int): String =
    s"""WITH pw AS (SELECT p, d,
          (((('0x' || substr(md5('plane_' || p || '_' || d), 1, 8))::BIGINT) % 2001 - 1000))::DOUBLE / 1000.0 AS w
          FROM unnest(generate_series(0, ${planes * tables - 1})) AS tp(p),
               unnest(generate_series(0, 63)) AS td(d)),
        al AS (SELECT list(
            (((('0x' || substr(md5('anchor_' || d), 1, 8))::BIGINT) % 2001 - 1000))::DOUBLE / 1000.0
            ORDER BY d) AS a
          FROM unnest(generate_series(0, 63)) AS ta(d)),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
        units AS (SELECT vec_id, j AS rung,
            list_transform(generate_series(1, 64),
              i -> CASE WHEN i <= j * 8 THEN al.a[i] ELSE e.e[i] END) AS u
          FROM e, al, unnest(generate_series(0, 7)) AS tj(j)),
        proj AS (SELECT vec_id, rung, p, sum(u[d + 1] * pw.w) AS proj
          FROM units CROSS JOIN pw GROUP BY 1, 2, 3),
        bk AS (SELECT vec_id, rung, p // $planes AS tbl,
            CAST(sum(CASE WHEN round(proj, 9) > 0 THEN 1::BIGINT << (p % $planes) ELSE 0 END) AS BIGINT) AS bucket
          FROM proj GROUP BY 1, 2, 3),
        pr AS (SELECT l.vec_id, l.rung AS ra, r.rung AS rb,
            round(list_cosine_similarity(l.u, r.u), 6) AS cos_sim
          FROM units l JOIN units r ON l.vec_id = r.vec_id AND l.rung < r.rung),
        cj AS (SELECT DISTINCT bl.vec_id, bl.rung AS ra, br.rung AS rb
          FROM bk bl JOIN bk br ON bl.vec_id = br.vec_id AND bl.rung < br.rung
            AND bl.tbl = br.tbl AND bl.bucket = br.bucket),
        j AS (SELECT pr.cos_sim, CASE WHEN cj.vec_id IS NULL THEN 0 ELSE 1 END AS caught
          FROM pr LEFT JOIN cj ON pr.vec_id = cj.vec_id AND pr.ra = cj.ra AND pr.rb = cj.rb
          WHERE pr.cos_sim >= 0)
        SELECT CAST(CAST(round(cos_sim * 1000000, 0) AS BIGINT) // 100000 AS INT) AS c_bucket,
          CAST(count(*) AS BIGINT) AS n_truth, CAST(sum(caught) AS BIGINT) AS n_caught,
          CAST((CAST(sum(caught) AS BIGINT) * 1000000) // count(*) AS BIGINT) AS recall_micro
        FROM j GROUP BY 1 ORDER BY 1"""

  /** Multi-table hyperplane pair SQL — mirrors
    * [[graft.operators.Similarity.nearDupByLshMulti]] at a fixed
    * (planes, tables): per-table buckets from the global plane family,
    * candidates = union of per-table cohabitations, exact rounded
    * cosine ≥ threshold.
    */
  private[queries] def sqlCosineLshPairsMulti(planes: Int, tables: Int, threshold: Double): String =
    s"""WITH pw AS (SELECT p, d,
          (((('0x' || substr(md5('plane_' || p || '_' || d), 1, 8))::BIGINT) % 2001 - 1000))::DOUBLE / 1000.0 AS w
          FROM unnest(generate_series(0, ${planes * tables - 1})) AS tp(p),
               unnest(generate_series(0, 63)) AS td(d)),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
        proj AS (SELECT vec_id, p, sum(e.e[d + 1] * pw.w) AS proj
          FROM e CROSS JOIN pw GROUP BY 1, 2),
        bk AS (SELECT vec_id, p // $planes AS tbl,
            CAST(sum(CASE WHEN round(proj, 9) > 0 THEN 1::BIGINT << (p % $planes) ELSE 0 END) AS BIGINT) AS bucket
          FROM proj GROUP BY 1, 2),
        cand AS (SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
          FROM bk l JOIN bk r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id)
        SELECT vec_a, vec_b,
          round(list_cosine_similarity(le.e, re.e), 6) AS cos_sim
        FROM cand JOIN e le ON le.vec_id = vec_a JOIN e re ON re.vec_id = vec_b
        WHERE round(list_cosine_similarity(le.e, re.e), 6) >= $threshold
        ORDER BY vec_a, vec_b"""

  /** The q261 oracle: blend-ladder units with PER-VECTOR md5 anchors
    * (unit id = vec_id·8 + rung), multi-table buckets from the global
    * plane family, candidates = per-table cohabitation, exact rounded
    * cosine ≥ threshold, recursive-CC keep-min tail (the q130 shape).
    * Mirrors [[graft.operators.Similarity.blendLadder]] +
    * [[graft.operators.Similarity.semanticDedupLshContract]].
    */
  private[queries] def sqlSemanticDedupContract(planes: Int, tables: Int,
      threshold: Double): String =
    s"""WITH RECURSIVE pw AS (SELECT p, d,
          (((('0x' || substr(md5('plane_' || p || '_' || d), 1, 8))::BIGINT) % 2001 - 1000))::DOUBLE / 1000.0 AS w
          FROM unnest(generate_series(0, ${planes * tables - 1})) AS tp(p),
               unnest(generate_series(0, 63)) AS td(d)),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
        units AS (SELECT vec_id * 8 + j AS uid,
            list_transform(generate_series(1, 64),
              i -> CASE WHEN i <= j * 8 THEN
                  (((('0x' || substr(md5('anchor_' || vec_id || '_' || (i - 1)), 1, 8))::BIGINT) % 2001 - 1000))::DOUBLE / 1000.0
                ELSE e.e[i] END) AS u
          FROM e, unnest(generate_series(0, 7)) AS tj(j)),
        pwl AS (SELECT p, list(w ORDER BY d) AS wl FROM pw GROUP BY p),
        proj AS (SELECT uid, p, list_dot_product(u, wl) AS proj
          FROM units CROSS JOIN pwl),
        bk AS (SELECT uid, p // $planes AS tbl,
            CAST(sum(CASE WHEN round(proj, 9) > 0 THEN 1::BIGINT << (p % $planes) ELSE 0 END) AS BIGINT) AS bucket
          FROM proj GROUP BY 1, 2),
        cand AS (SELECT DISTINCT l.uid AS a, r.uid AS b
          FROM bk l JOIN bk r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.uid < r.uid),
        p2 AS (SELECT a, b FROM cand
          JOIN units ul ON ul.uid = a JOIN units ur ON ur.uid = b
          WHERE round(list_cosine_similarity(ul.u, ur.u), 6) >= $threshold),
        edges AS (SELECT a AS src, b AS dst FROM p2 UNION ALL SELECT b AS src, a AS dst FROM p2),
        reach(src, dst) AS (
          SELECT src, src AS dst FROM edges
          UNION
          SELECT r.src, edges.dst FROM reach r JOIN edges ON r.dst = edges.src),
        lab AS (SELECT src AS doc, min(dst) AS label FROM reach GROUP BY src)
        SELECT uid AS vec_id FROM units
        WHERE uid NOT IN (SELECT doc FROM lab WHERE doc <> label)
        ORDER BY vec_id"""

  private def sqlEmbeddingLshPairsWith(maxPlaneExpr: String, prefixCtes: String): String =
    s"""WITH $prefixCtes pw AS (SELECT p, d,
          (((('0x' || substr(md5('plane_' || p || '_' || d), 1, 8))::BIGINT) % 2001 - 1000))::DOUBLE / 1000.0 AS w
          FROM unnest(generate_series(0, $maxPlaneExpr)) AS tp(p), unnest(generate_series(0, 63)) AS td(d)),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
        proj AS (SELECT vec_id, p, sum(e.e[d + 1] * pw.w) AS proj
          FROM e CROSS JOIN pw GROUP BY 1, 2),
        bk AS (SELECT vec_id, CAST(sum(CASE WHEN round(proj, 9) > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
          FROM proj GROUP BY vec_id)
        SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
          round(list_cosine_similarity(le.embedding::DOUBLE[], re.embedding::DOUBLE[]), 6) AS cos_sim
        FROM bk l JOIN bk r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        JOIN $EmbPq le ON le.vec_id = l.vec_id
        JOIN $EmbPq re ON re.vec_id = r.vec_id
        WHERE round(list_cosine_similarity(le.embedding::DOUBLE[], re.embedding::DOUBLE[]), 6) >= 0.25
        ORDER BY vec_a, vec_b"""

  /** Auto-width MinHash pair SQL: rows-per-band replayed from the
    * document count with the shared integer-corrected rule
    * ([[graft.operators.Dedup.minhashRowsFor]]), permutations from the
    * affine family (index-generated, so the dynamic width needs no
    * constant table), signatures as LISTS sliced into 2 bands — the
    * list form is what lets the band width be a query-time value.
    */
  private[queries] def sqlMinhashPairsAuto: String =
    s"""WITH cntm AS (SELECT COUNT(*) AS n FROM $DocsPq),
        mk AS (SELECT GREATEST(CAST(CEIL(LOG2(GREATEST(n, 1)::DOUBLE / 250.0)) AS BIGINT), 0) AS k, n FROM cntm),
        mr AS (SELECT LEAST(16, GREATEST(4, CASE
            WHEN ((n - 1) >> GREATEST(k - 1, 0)) < 250 THEN GREATEST(k - 1, 0)
            WHEN ((n - 1) >> k) < 250 THEN k
            ELSE k + 1 END)) AS r FROM mk),
        sh AS (SELECT doc_id, ${sqlH31("shingle")} AS h FROM ($SqlShingles)),
        mins AS (SELECT doc_id, i,
            min(((1299721 + 2 * i) * h + 104729 * (i + 1)) % ${Dedup.P}) AS mh
          FROM sh, unnest(generate_series(0, 2 * (SELECT r FROM mr) - 1)) AS u(i)
          GROUP BY 1, 2),
        sig AS (SELECT doc_id, list(mh ORDER BY i) AS mhs FROM mins GROUP BY doc_id),
        banded AS (SELECT doc_id, b,
            list_slice(mhs, b * (SELECT r FROM mr) + 1, (b + 1) * (SELECT r FROM mr)) AS bk
          FROM sig, unnest(generate_series(0, 1)) AS u(b)),
        cand AS (SELECT DISTINCT l.doc_id AS doc_a, r2.doc_id AS doc_b
          FROM banded l JOIN banded r2 ON l.b = r2.b AND l.bk = r2.bk AND l.doc_id < r2.doc_id),
        sets AS (SELECT doc_id, list_distinct(list(h)) AS hs FROM sh GROUP BY doc_id),
        jac AS (SELECT doc_a, doc_b,
            round(len(list_intersect(a.hs, b.hs))::DOUBLE /
              (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::DOUBLE, 6) AS jaccard
          FROM cand JOIN sets a ON a.doc_id = doc_a JOIN sets b ON b.doc_id = doc_b)
        SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.6
        ORDER BY doc_a, doc_b"""

  /** Min-label propagation over `pairs` in path-expansion form
    * (min over nodes within distance <= iters — same semantics as
    * iterated rounds). Final CTE is named l{iters}.
    */
  private[queries] def sqlPropagation(iters: Int): String = {
    val e = """e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
               UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
               p1 AS (SELECT src, dst FROM e)"""
    val hops = (2 to iters).map { i =>
      s"p$i AS (SELECT DISTINCT p${i - 1}.src, e.dst FROM p${i - 1} JOIN e ON p${i - 1}.dst = e.src)"
    }
    val reach = (1 to iters).map(i => s"SELECT src, dst FROM p$i").mkString(" UNION ALL ")
    val fin =
      s"""l$iters AS (SELECT src AS doc, min(dst) AS label FROM (
            SELECT src, src AS dst FROM e UNION ALL $reach) GROUP BY src)"""
    (Seq(e) ++ hops :+ fin).mkString(", ")
  }

  val queries: Map[String, QFn] = Map(
    // exact dedup: fingerprint groups with surviving id + copy count.
    "q54_dedup_exact" -> ((s, dir) =>
      Dedup.exactDupGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("keep_id"))),

    // MinHash signatures (8 perms over 3-word shingles).
    "q50_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // LSH banding (2 bands x 4 rows) + hashed-Jaccard verification;
    // signatures and shingle sets in one persisted sketch frame.
    "q51_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))),

    // duplicate clusters: min-label propagation (3 rounds) over the
    // LSH-verified near-dup pairs — every clustered doc with its
    // cluster representative (the component minimum).
    "q67_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text")
      Dedup.labelPropagate(pairs, 3).orderBy(col("doc"))
    }),

    // EXACT connected components (alternating large-star/small-star,
    // Kiveris et al. 2014) over the same LSH-verified pairs as q67 —
    // converges to the true component minimum on ANY diameter, where
    // labelPropagate's bounded rounds would split a long chain. Oracle:
    // full transitive reachability via a recursive CTE.
    "q93_connected_components" -> ((s, dir) => {
      val pairs = Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text")
      Dedup.connectedComponents(pairs).orderBy(col("doc"))
    }),

    // Leakage-safe train/val/test split: splits are assigned per
    // near-dup COMPONENT (q93's exact components over the minhash
    // pairs), so a test document can never be a near-duplicate of a
    // training document — the contamination per-document hashing
    // cannot prevent. Graded on the per-split document/group census;
    // the group→split map is md5-deterministic and replayed in full
    // by the oracle.
    "q252_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // CONTRACT geometry (r12): a split guarding against eval
      // contamination is exactly the consumer that cannot afford the
      // legacy (4, 2) curve — q253 measured it at ~20% recall at
      // J ≈ 0.55, i.e. most mid-similarity contamination walked
      // through the split. (3, 10) holds >= 90% at J = 0.6.
      val pairs = Dedup.minhashPairsContract(docs, "doc_id", "text")
      Dedup.leakageSafeSplit(docs, "doc_id", pairs)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("grp")).as("n_groups"))
        .orderBy(col("split"))
    }),

    // LSH recall audit: the MinHash banding S-curve measured against a
    // blocked exact-Jaccard ground truth (rare-shingle blocking, the
    // LSH-independent candidate generator). Per Jaccard decile: how
    // many true near-dup pairs exist, and how many the q51 geometry's
    // band join actually catches. q117/q248 grade sketch ERROR; this
    // grades banding RECALL — the number that silently decays when a
    // corpus's duplicate mass sits below the S-curve knee. Audited at
    // PASSAGE granularity (32-token windows, stride 8): the sliding
    // ladder populates the mid-Jaccard deciles the bimodal document
    // pairs never reach, so the curve is actually measured (~2% at
    // J≈0.3 through 100% at J=1 for the (8, 2) geometry).
    "q253_lsh_recall" -> ((s, dir) =>
      Dedup.lshRecallAudit(
        Dedup.slidingTokenChunks(t(s, dir, "documents"), "doc_id", "text"),
        "chunk_id", "chunk_text", maxDf = 20)),

    // the q253 audit re-run at the CONTRACT geometry minhashGeometryFor
    // derives from "J >= 0.6 at >= 90% recall, <= 1% bg candidates" —
    // (3, 10), 30 affine permutations. Same truth strata as q253, so
    // the two graded results ARE the before/after of the advisor:
    // theory says bucket 3 lifts ~1% -> ~24% and bucket 5 ~20% -> ~84%.
    "q255_lsh_recall_contract" -> ((s, dir) => {
      val (r, b) = Dedup.minhashGeometryFor(600000L, 900000L)
      Dedup.lshRecallAudit(
        Dedup.slidingTokenChunks(t(s, dir, "documents"), "doc_id", "text"),
        "chunk_id", "chunk_text", maxDf = 20, k = r * b, bands = b,
        perm = Dedup.permutedAffine)
    }),

    // contract-derived near-dup pairs: the geometry comes from the
    // recall CONTRACT ("J >= 0.6 at >= 90% recall, <= 1% background
    // candidates"), not from a fixed default — minhashGeometryFor
    // resolves it to (3, 10) = 30 affine permutations in exact integer
    // arithmetic, and the pipeline runs at that width. Closes the loop
    // q253 opens: measure the S-curve, derive the geometry, run it.
    // Same 0.6 verify threshold as q51, so the graded difference IS
    // the recall (a (4, 2) band join leaves ~12% of J = 0.9 pairs
    // uncandidated; (3, 10) leaves ~2e-4%).
    "q254_contract_neardup" -> ((s, dir) => {
      val (r, b) = Dedup.minhashGeometryFor(600000L, 900000L)
      Dedup.pairsFromHashes(
        Dedup.shingleHashes(t(s, dir, "documents"), "doc_id", "text"), r * b, b, 0.6,
        Dedup.permutedAffine)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // end-to-end corpus cleaning (quality gate -> exact dedup ->
    // MinHash near-dedup keeping cluster representatives).
    "q68_corpus_clean" -> ((s, dir) =>
      graft.examples.CorpusPipeline.clean(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // the keep-best composition: same gate + exact dedup as q68, but
    // clusters elect their highest-quality member via exact CC + one
    // max_by aggregate (vs q68's min-label representative).
    "q121_corpus_clean_best" -> ((s, dir) =>
      graft.examples.CorpusPipeline.cleanKeepBest(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // 16-bit SimHash per document.
    "q52_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // SimHash near-dup pairs: byte-band blocking + exact hamming <= 3.
    "q69_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))),

    // the wide-signature twin (48 bits = 4096 keys/band): same banded
    // completeness for hamming <= 3, but band buckets stay small as the
    // corpus grows — the saturation fix the 30x soak motivated. Note
    // the hamming space differs from q69's (48-bit signatures resolve
    // more detail), so the pair set is its own oracle row, not q69's.
    "q87_simhash_pairs_wide" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", bits = 48)
        .orderBy(col("doc_a"), col("doc_b"))),

    // the config-free width: bits sized from the corpus count
    // (bitsFor: 4 * smallest p >= 8 with n/2^p <= 250, cap 60), so
    // band buckets stay ~250 docs at any corpus size without picking
    // 32 vs 48 by hand. Equals q69's 32-bit pair set at gate scale.
    "q100_simhash_pairs_auto" -> ((s, dir) =>
      Dedup.simhashPairsAuto(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))),

    // SimHash banding recall audit — the q253 pattern for the hamming
    // family: per hamming-distance bucket of the blocked exact truth,
    // the catch rate of the q69 geometry (32 bits, 4 bands). Measured
    // at passage granularity (the 32-token stride-8 ladder) so the
    // small-distance strata actually hold mass. Expected curve is
    // simhashRecallAtMicro: exactly 1e6 through d = 3 (pigeonhole),
    // falling beyond — the measured deviation above d = 3 is the
    // number a production radius contract must know.
    "q256_simhash_recall" -> ((s, dir) =>
      Dedup.simhashRecallAudit(
        Dedup.slidingTokenChunks(t(s, dir, "documents"), "doc_id", "text"),
        "chunk_id", "chunk_text", bits = 32, bands = 4, maxDf = 20)),

    // contract-derived SimHash pairs: (bits, bands) from
    // simhashGeometryFor(radius 4, corpus count) — 5 bands make
    // hamming <= 4 pigeonhole-COMPLETE (recall exactly 1, not an
    // S-curve bet), band width count-sized so buckets stay ~250 docs
    // at any corpus size. The q69/q87 fixed radius-3 family detects
    // strictly less; this is the radius a contract actually picks.
    "q257_simhash_contract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (bits, bands) = Dedup.simhashGeometryFor(4, docs.count())
      Dedup.simhashPairs(docs, "doc_id", "text", bits, maxHamming = 4, bands = bands)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // blocked token-Jaccard near-dup pairs (same lang + length bucket).
    "q53_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),

    // LSH-banded token-Jaccard pairs — q53's 100 TB-safe twin: MinHash
    // bands over token hashes replace (lang, len) blocking, so bucket
    // population is bounded by similarity, not corpus size. One band of
    // all 8 rows (full-signature match) + threshold 0.95: the synthetic
    // corpus has ~31 distinct tokens, so token Jaccard is only
    // discriminative near 1.0.
    "q72_ngram_jaccard_lsh" -> ((s, dir) =>
      Dedup.ngramJaccardPairsLsh(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.95, bands = 1)
        .orderBy(col("doc_a"), col("doc_b"))),

    // embedding near-dup, LSH scale path — q55's 100 TB-safe twin:
    // hyperplane buckets subdivide by direction, so increasing planes
    // keeps buckets small at any corpus size. Threshold 0.25: the
    // synthetic clusters are weak; same-bucket cosine tops out ~0.4.
    "q71_embedding_neardup_lsh" -> ((s, dir) =>
      Similarity.nearDupByLsh(t(s, dir, "embeddings"), planes = 8, dim = 64, threshold = 0.25)
        .orderBy(col("vec_a"), col("vec_b"))),

    // the wide-bucket twin (10 planes = 4x the buckets): same verified
    // cosine pairs semantics, buckets sized for a bigger corpus — the
    // saturation lever of the 100x soak tier, graded.
    "q92_embedding_lsh_wide" -> ((s, dir) =>
      Similarity.nearDupByLsh(t(s, dir, "embeddings"), planes = 10, dim = 64, threshold = 0.25)
        .orderBy(col("vec_a"), col("vec_b"))),

    // the config-free scale path: planes sized from the corpus count
    // (planesFor: smallest p >= 8 with n/2^p <= 300), so bucket
    // population — and with it the candidate-pair volume — stays flat
    // as the corpus grows. Fixed-plane q92 bent to exp 1.9 into 5M
    // vectors at the 1000x soak tier; this is the operator that holds
    // the curve without hand-tuning.
    "q99_embedding_lsh_auto" -> ((s, dir) =>
      Similarity.nearDupByLshAuto(t(s, dir, "embeddings"), dim = 64, threshold = 0.25)
        .orderBy(col("vec_a"), col("vec_b"))),

    // cosine-LSH recall audit at the PRODUCTION single-table geometry
    // (q71's 8 planes): per cosine decile of the blend-ladder truth
    // (28 within-vector rung pairs per vector — linear, no quadratic
    // truth stage), how many pairs one 8-bit bucket actually catches.
    // cosineCollisionMicro says ~1.6% at cos 0.9 for (8, 1); this
    // measures it — the number that explains why single-bucket LSH is
    // a CANDIDATE CAP, not a recall device.
    "q258_cosine_lsh_recall" -> ((s, dir) =>
      Similarity.cosineLshRecallAudit(t(s, dir, "embeddings"),
        planes = 8, tables = 1, dim = 64)),

    // the same audit at the CONTRACT geometry cosineLshGeometryFor
    // derives from "cos >= 0.9 at >= 80% recall, <= 2% candidates at
    // bg cos 0.2" — multi-table amplification (OR over tables) is what
    // lifts the top deciles to the floor; the graded before/after of
    // the advisor, as q253/q255 for MinHash.
    "q259_cosine_lsh_contract" -> ((s, dir) => {
      val (p, tb) = Similarity.cosineLshGeometryFor(900000L, 800000L)
      Similarity.cosineLshRecallAudit(t(s, dir, "embeddings"),
        planes = p, tables = tb, dim = 64)
    }),

    // contract-derived multi-table near-dup pairs: the execution path
    // behind q259's curve — candidates from the OR of the contract's
    // tables, verified at q71's 0.25 threshold so the graded delta vs
    // the single-table family IS the recall the contract buys.
    // SCALE NOTE: the fraction-of-pairs admission behind this geometry
    // is O(n²) in the corpus (measured 207.9 s solo at the x100 soak
    // tier, dominated by false-candidate verification) — q272 below is
    // the same pair semantics under the linear per-row BUDGET and is
    // the form a corpus-scale run should call.
    "q260_cosine_lsh_multi" -> ((s, dir) => {
      val (p, tb) = Similarity.cosineLshGeometryFor(900000L, 800000L)
      Similarity.nearDupByLshMulti(t(s, dir, "embeddings"), p, tb, dim = 64,
        threshold = 0.25).orderBy(col("vec_a"), col("vec_b"))
    }),

    // the PRODUCTION adoption of the cosine contract (the de739ea
    // pattern applied to SemDeDup): dedup the blend-ladder corpus —
    // the raw table has no pairs above cos ~0.51, so the ladder's
    // per-vector rung chains are the genuine high-cosine near-dups —
    // under "catch cos >= 0.9 at >= 80% recall, <= 2% background".
    // Geometry is advisor-derived, candidates are the multi-table OR,
    // kept set = min-id survivor per exact-CC component.
    // the ladder is registered here because it is read twice inside
    // the contract dedup (signature derivation + the keep-set
    // anti-join) and is COMPUTED (8 rungs x dim md5 anchors per row),
    // not scanned — for a plain table input the re-read would be a
    // cheap scan and no cache would be warranted
    "q261_semantic_dedup_contract" -> ((s, dir) =>
      Similarity.semanticDedupLshContract(
          graft.GraftCache.registered(
            Similarity.blendLadder(t(s, dir, "embeddings"), dim = 64)),
          dim = 64, thresholdCosMicro = 900000L, targetRecallMicro = 800000L)
        .select(col("vec_id")).orderBy(col("vec_id"))),

    // the EMPIRICAL recall-contract member: IVF cell shapes are
    // k-means-trained on this corpus, so the probe-recall curve must
    // be MEASURED, not derived — one rank-histogram pass gives recall
    // at every nprobe (no per-nprobe re-search). iters = 0 is the
    // oracle-replayable quantizer (q59's), sample = the 16 lowest
    // vec_ids, truth = brute-force top-10 per sample query.
    "q262_ivf_probe_audit" -> ((s, dir) =>
      Similarity.ivfProbeAudit(t(s, dir, "embeddings"),
        k = 10, cells = 8, iters = 0, sampleQ = 16)),

    // the production adoption: nprobe = the smallest value whose
    // MEASURED sample recall meets 90% (never refuses — nprobe = cells
    // is exact search), then q59's probed search runs at that nprobe.
    "q263_ivf_search_contract" -> ((s, dir) =>
      Similarity.ivfSearchContract(t(s, dir, "embeddings"), 0L,
        k = 10, cells = 8, iters = 0, targetRecallMicro = 900000L, sampleQ = 16)),

    // the second empirical contract member: a PQ codebook is trained
    // on this corpus, so the shortlist depth pqSearchRerank needs is
    // MEASURED — each true neighbor's ADC rank decides the smallest
    // depth that shortlists it, recall at every depth from one rank
    // histogram (no per-depth re-search). iters = 0 is the
    // oracle-replayable codebook (q105's: the 16 lowest vec_ids'
    // subvectors), sample = the 16 lowest vec_ids, truth = brute-force
    // top-10, depth grid = 10·2^j (data-independent, saturates at 1e6
    // past the corpus size).
    "q264_pq_rerank_audit" -> ((s, dir) =>
      Similarity.pqRerankAudit(t(s, dir, "embeddings"),
        k = 10, m = 8, ksub = 16, iters = 0, sampleQ = 16)),

    // the production adoption: depth = the ceil(0.9·n_truth)-th
    // smallest true-neighbor ADC rank (an order statistic, exact —
    // never refuses: depth = corpus size degrades to exact search),
    // floored at k, then q105's ADC scan shortlists at that depth and
    // the exact cosine rerank returns the final 10.
    "q265_pq_rerank_contract" -> ((s, dir) =>
      Similarity.pqSearchRerankContract(t(s, dir, "embeddings"), 0L,
        k = 10, m = 8, ksub = 16, iters = 0,
        targetRecallMicro = 900000L, sampleQ = 16)),

    // q115's at-rest round trip under the CONTRACT: the index is
    // written at the advisor-derived geometry AND persists it
    // (_geometry/ metadata, the writeIvfIndex _centroids convention),
    // and the probe side reads it back — the caller supplies no
    // (k, bands), so writer and prober cannot drift (the legacy pair
    // trusted the caller to re-supply the writer's width; a batch
    // signed at a different width never cohabits a band and the
    // recall loss is silent). Same graded construction as q115: the
    // batch re-ingests corpus doc 5 under a fresh id so the
    // exact-verdict path is exercised.
    "q266_incremental_dedup_contract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = Q.tempDir("graft_dedup_idxc")
      Dedup.writeDedupIndexContract(docs.filter(col("doc_id") < 400), "doc_id", "text", path)
      val batch = docs.filter(col("doc_id") >= 400)
        .unionByName(docs.filter(col("doc_id") === 5)
          .withColumn("doc_id", lit(9001L)))
      Dedup.dedupAgainstIndexContract(batch, "doc_id", "text", path)
        .orderBy(col("doc_id"))
    }),

    // the cosine contract at CORPUS SCALE: q261's fixed-fraction fp
    // ceiling admits O(n^2) false candidates as the corpus grows (the
    // x100 soak measured the blow-up on q260's geometry); here the
    // ceiling is a linear PER-ROW budget at a stated design size —
    // "at 1e6 units, <= 64 false candidates per row" — so the advisor
    // tightens planes as n grows and the candidate stage stays linear
    // by construction. Recall is n-independent (the S-curve is
    // per-pair), so the design geometry run on the sf ladder still
    // meets the 80% floor; the kept set is hash-checked against the
    // same full DuckDB replay shape as q261 at the budget geometry.
    "q269_budget_dedup_contract" -> ((s, dir) =>
      Similarity.semanticDedupLshBudget(
          graft.GraftCache.registered(
            Similarity.blendLadder(t(s, dir, "embeddings"), dim = 64)),
          dim = 64, designN = 1000000L, thresholdCosMicro = 900000L,
          targetRecallMicro = 800000L)
        .select(col("vec_id")).orderBy(col("vec_id"))),

    // the MinHash twin of q269 — and the frontier CONTRAST: (bg/J)^r
    // decays geometrically in r, so "J >= 0.7 at 90% recall, <= 64
    // candidates/row at n = 1e9" RESOLVES here ((8, 39): k = 312
    // affine permutations) while the equivalent cosine contract
    // refuses at that scale — why shingle-MinHash, not sign-bit LSH,
    // is the text-dedup workhorse at 100 TB. Graded at the design
    // geometry against the parameterized affine replay.
    "q270_minhash_budget_pairs" -> ((s, dir) =>
      Dedup.minhashPairsBudget(t(s, dir, "documents"), "doc_id", "text",
        designN = 1000000000L, threshold = 0.7)
        .orderBy(col("doc_a"), col("doc_b"))),

    // the SimHash member completing the budget family: radius-complete
    // (hamming <= 1) pairs at the geometry the budget advisor resolves
    // for "<= 64 candidates/row at n = 1e6" — (28, 2) from the exact
    // BigInt decision bands·pAgree^h·n <= 2·cand·1e6^h. The FRONTIER
    // contrast lives in the advisor (spec-pinned): radius 1 resolves
    // at n = 1e9 as (48, 2), radius >= 2 REFUSES — bands·width <= 63
    // (one signed long) caps the fp decay where MinHash's (bg/J)^r
    // (q270) is unbounded. Recall inside the radius is pigeonhole-
    // exact and n-independent, so the design geometry graded on the
    // gate corpus is the same contract.
    "q271_simhash_budget_pairs" -> ((s, dir) =>
      Dedup.simhashPairsBudget(t(s, dir, "documents"), "doc_id", "text",
        designN = 1000000L, maxHamming = 1)
        .orderBy(col("doc_a"), col("doc_b"))),

    // q260's PAIR semantics under the linear candidate BUDGET — the
    // production escape from the fraction-of-pairs admission: q260's
    // fixed-fraction geometry admits O(n²) false candidates as the
    // corpus grows (measured 207.9 s solo at the x100 soak tier,
    // almost all of it verifying false candidates), while this form
    // resolves its geometry from "≤ 64 candidates/row at n = 1e6"
    // (q269's advisor), so the candidate stage stays linear by
    // construction. Recall is n-independent (the S-curve is per-pair),
    // so the design geometry graded here is the same pair contract —
    // the corpus-scale alternative a 100 TB run should call.
    "q272_cosine_budget_multi" -> ((s, dir) => {
      val (p, tb) = Similarity.cosineLshGeometryForBudget(1000000L, 900000L, 800000L)
      Similarity.nearDupByLshMulti(t(s, dir, "embeddings"), p, tb, dim = 64,
        threshold = 0.25).orderBy(col("vec_a"), col("vec_b"))
    }),

    // the third empirical contract member, closing the LAST
    // uncontracted dedup path (q125's k-means cells): a near-dup pair
    // split across a cell boundary is missed ENTIRELY by within-cell
    // candidate generation, and the quantizer is data-dependent, so
    // the boundary-loss curve must be MEASURED. Quantizer trained on
    // the real corpus (q125's iters = 0 cells); probes = blend-ladder
    // units over the 16 lowest vec_ids; truth = within-vector rung
    // pairs with exact cosine >= 0.4 (q125's threshold); a pair's
    // catch depth = min over cells of max(rank_a, rank_b), so recall
    // at every probe depth falls out of ONE histogram — no per-depth
    // re-clustering or re-pairing.
    "q267_cell_probe_audit" -> ((s, dir) =>
      Similarity.semanticCellRecallAudit(t(s, dir, "embeddings"),
        dim = 64, cells = 8, iters = 0, thresholdMicro = 400000L, sampleQ = 16)),

    // the production adoption — q125 under a measured recall contract:
    // every vector is assigned to its nprobe NEAREST cells (nprobe =
    // the smallest depth whose measured sample recall meets 90%;
    // never refuses — depth = cells degrades to brute force),
    // candidates deduped across cells, exact-cosine verify, shared
    // CC + keep-min tail. The ~nprobe^2 within-cell growth is the
    // measured price of the floor.
    "q268_cell_dedup_contract" -> ((s, dir) =>
      Similarity.semanticDedupCellsContract(t(s, dir, "embeddings"),
        dim = 64, cells = 8, iters = 0, thresholdMicro = 400000L,
        targetRecallMicro = 900000L, sampleQ = 16)
        .select(col("vec_id")).orderBy(col("vec_id"))),

    // the auto-sizing family's MinHash member: rows-per-band sized
    // from the document count (minhashRowsFor: smallest r >= 4 with
    // n/2^r <= 250, cap 16, 2 bands), permutations from the affine
    // family so any width is oracle-replayable. At gate scale r = 4
    // (k = 8) — q51's shape with index-generated permutations.
    "q103_minhash_pairs_auto" -> ((s, dir) =>
      Dedup.minhashPairsAuto(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_a"), col("doc_b"))),

    // deterministic per-group subsample: 3 documents per lang in
    // salted-md5 pseudorandom order — reproducible curation sampling.
    "q77_group_sample" -> ((s, dir) =>
      graft.operators.Relational.samplePerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        Seq(col("lang")), 3, col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))),

    // blocked fuzzy pairs: supplier names within edit distance 1
    // (prefix + length blocking, exact levenshtein filter) — the
    // entity-resolution shape for typo-level duplicates.
    "q76_fuzzy_pairs" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "supplier"), "s_suppkey", "s_name", 1)
        .orderBy(col("id_a"), col("id_b"))),

    // deletion-neighborhood fuzzy pairs (FastSS): COMPLETE for edit
    // distance <= 1 with candidate volume driven by true near-pairs,
    // not bucket population — q76's scale twin. The oracle is the pure
    // definition (all pairs at levenshtein <= 1), which the blocked
    // variant cannot honestly claim.
    "q98_fuzzy_pairs_deletion" -> ((s, dir) =>
      Dedup.editDistancePairsDeletion(t(s, dir, "supplier"), "s_suppkey", "s_name")
        .orderBy(col("id_a"), col("id_b"))),

    // the distance-2 generalization (FastSS 2-deletion neighborhoods):
    // complete for levenshtein <= 2 — the oracle is again the pure
    // definition. Variant blowup is quadratic in string LENGTH, not
    // corpus size (guarded by graft.fuzzy.maxLen).
    "q102_fuzzy_pairs_deletion2" -> ((s, dir) =>
      Dedup.editDistancePairsDeletion(t(s, dir, "supplier"), "s_suppkey", "s_name", maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))),

    // incremental dedup against an at-rest index: corpus = docs < 400
    // summarized to fingerprints/bands/sets parquet, then the "new
    // batch" (docs >= 400) is deduped against those summaries alone —
    // the write-then-probe round trip is the point (as q101 for IVF).
    "q115_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = Q.tempDir("graft_dedup_idx")
      Dedup.writeDedupIndex(docs.filter(col("doc_id") < 400), "doc_id", "text", path)
      // the natural >= 400 batch holds near-dups but no exact copy of a
      // corpus doc, so the batch re-ingests corpus doc 5 under a fresh
      // id — the exact-verdict path must be graded, not just compiled
      val batch = docs.filter(col("doc_id") >= 400)
        .unionByName(docs.filter(col("doc_id") === 5)
          .withColumn("doc_id", lit(9001L)))
      Dedup.dedupAgainstIndex(batch, "doc_id", "text", path)
        .orderBy(col("doc_id"))
    }),

    // THE round-9 at-rest pieces composed as the production corpus
    // refresh loop: the corpus lives in a Versioned table + a CONTRACT
    // dedup index at rest (advisor-derived geometry, persisted in
    // _geometry/ — the probe side reads it back, so writer and prober
    // cannot drift on width the way the legacy caller-trusted pair
    // could, q115); a new batch is verdicted against the index alone
    // (probe cost tracks the batch), survivors upsert as ONE new
    // committed snapshot (readers never see a half-applied refresh).
    // Graded on the final committed corpus.
    "q134_corpus_refresh" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = Q.tempDir("graft_refresh")
      val corpus = docs.filter(col("doc_id") < 400)
      graft.operators.Versioned.commit(s"$base/table", corpus)
      Dedup.writeDedupIndexContract(corpus, "doc_id", "text", s"$base/idx")
      val batch = docs.filter(col("doc_id") >= 400)
      graft.examples.CorpusPipeline.refresh(s, s"$base/table", s"$base/idx", batch)
      graft.operators.Versioned.read(s, s"$base/table")
        .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))
        .orderBy(col("doc_id"))
    }),

    // duplicated-substring spans (token-level Lee et al. 2022): maximal
    // per-doc spans of 5-grams occurring >= 2 times corpus-wide.
    "q111_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text", l = 5)
        .orderBy(col("doc_id"), col("span_start"))),

    // substring-level dedup: the q111 spans removed from every doc and
    // the surviving tokens reassembled (aggressive variant — see
    // Dedup.removeDupSpans on why keep-first needs an owner election).
    "q112_substring_dedup" -> ((s, dir) =>
      Dedup.removeDupSpans(t(s, dir, "documents"), "doc_id", "text", l = 5)
        .orderBy(col("doc_id"))),

    // canonical keep-best per near-dup cluster: exact CC labels over
    // the MinHash pair graph, winner per cluster by
    // (quality DESC, doc_id ASC) via one max_by hash aggregate —
    // quality-aware representative selection (vs q68's min-label).
    "q116_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs
        .join(graft.functions.TextFunctions.tokenAggregates(docs, "doc_id", "text"),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          graft.functions.TextFunctions.qualityFromScores(col("text")).as("quality"))
      Dedup.keepBestPerCluster(scored, Dedup.minhashPairs(docs, "doc_id", "text"))
        .orderBy(col("cluster"))
    }),

    // embedding near-dup: same-label pairs above cosine 0.4 (clusters
    // are weak in the synthetic data; threshold chosen to exercise the
    // filter). Guarded: refuses oversized label blocks, pointing at the
    // LSH twin (q71).
    "q55_embedding_neardup" -> ((s, dir) =>
      Similarity.nearDupExactBlocked(t(s, dir, "embeddings"), "label", 0.4)
        .orderBy(col("vec_a"), col("vec_b"))),

    // SemDeDup (Abbas et al. 2023) graded end-to-end: k-means cells
    // over the embedding space (iters = 0 — the q59 rule, so the
    // quantizer is oracle-replayable), exact cosine pairs WITHIN a
    // cell only, exact connected components over the pair graph, keep
    // the min vec_id per component plus every unpaired vector. The
    // 100 TB shape is the point: assignment is a map-side expression
    // against driver-held centroids (no shuffle), the quadratic step
    // is bounded by cells (the operator's lever), and the output is
    // the KEPT corpus — the production semantic-dedup pass.
    "q125_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(t(s, dir, "embeddings"), cells = 8, iters = 0, threshold = 0.4)
        .select(col("vec_id")).orderBy(col("vec_id"))),

    // the SCALE-PATH semantic dedup (see q125's comment): candidates
    // from auto-sized hyperplane LSH buckets (q99's operator — bucket
    // population bounded at any corpus size), exact CC, keep min-id
    // per component. Threshold 0.25 = q99's, so the pair graph is
    // non-trivial at gate scale.
    "q130_semantic_dedup_lsh" -> ((s, dir) =>
      Similarity.semanticDedupLsh(t(s, dir, "embeddings"), dim = 64, threshold = 0.25)
        .select(col("vec_id")).orderBy(col("vec_id"))),

    // brute-force exact ANN baseline: top-10 for vec 0.
    "q56_ann_bruteforce" -> ((s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), 0L, 10)),

    // k-NN join: 5 neighbors for each of the first 10 vectors.
    "q57_knn_join" -> ((s, dir) =>
      Similarity.knnJoin(t(s, dir, "embeddings"), col("vec_id") < 10, 5)
        .orderBy(col("query_id"), col("rn"))),

    // random-hyperplane LSH bucket per vector (8 planes, 64 dims).
    "q58_ann_lsh_bucket" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.lshBucket(Similarity.toDoubleVec(col("embedding")), 8, 64).as("bucket"))
        .orderBy(col("vec_id"))),

    // cross-modal retrieval: docs containing 'spark' (text filter) →
    // their embeddings (doc_id = vec_id in the testdata) → centroid →
    // top-10 nearest non-seed vectors.
    "q70_crossmodal_expand" -> ((s, dir) => {
      // map-side seed selection: array_contains on the token array
      // instead of explode + distinct (no shuffle, same token-equality
      // semantics as the oracle's unnest filter)
      val seeds = t(s, dir, "documents")
        .filter(array_contains(split(lower(col("text")), " "), "spark"))
        .select(col("doc_id").as("vec_id"))
      Similarity.expandByCentroid(t(s, dir, "embeddings"), seeds, 10)
    }),

    // int8 scalar quantization of the embedding column (4x less I/O at
    // rest — a 100 TB ANN sweep scans 25 TB): graded via the rounded
    // per-vector scale, exact integer checksums over the quantized
    // bytes, and the rounded L1 reconstruction error. Rounding is
    // floor(x + 0.5) spelled identically on both engines.
    "q94_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"))
        .select(col("vec_id"), round(col("scale"), 6).as("scale6"),
          aggregate(col("qvec"), lit(0L), (acc, v) => acc + v).as("qsum"),
          aggregate(col("qvec"), lit(0L), (acc, v) => acc + abs(v)).as("qabs"),
          round(aggregate(zip_with(Similarity.toDoubleVec(col("embedding")), col("qvec"),
            (x, q) => abs(x - q * col("scale"))), lit(0.0), (a, v) => a + v), 6).as("l1_err"))
        .orderBy(col("vec_id"))),

    // IVF ANN, oracle-exact configuration: the coarse quantizer is the
    // k-means INIT (iters = 0 — centroids are the 8 lowest vec_ids'
    // vectors, fully deterministic), so assignment, probe selection
    // (2 nearest cells) and the pruned exact search are all replayable
    // in SQL. Distances quantize to 9 decimals before every argmin
    // (see Similarity.assignCells) so summation-order noise can't flip
    // a cell between engines. The TRAINED quantizer (iters = 2) is
    // graded by its recall contract in q96.
    "q59_ann_ivf" -> ((s, dir) =>
      Similarity.ivfSearch(t(s, dir, "embeddings"), 0L, k = 10,
        cells = 8, iters = 0, nprobe = 2)),

    // the PERSISTED-index path graded end-to-end: train + write the
    // cell-partitioned index (same replayable iters = 0 quantizer),
    // then probe it through the partition-pruned scan — must return
    // q59's exact top-10 (one shared oracle SQL). The write-then-read
    // round trip is the point: it proves the at-rest layout + pruning
    // path, not just the in-session plan PlanSpec pins.
    "q101_ann_ivf_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = Q.tempDir("graft_ivf_idx") + "/index"
      Similarity.writeIvfIndex(emb, path, cells = 8, iters = 0)
      val qv = emb.filter(col("vec_id") === 0)
        .select(Similarity.toDoubleVec(col("embedding")).as("e"))
        .collect().head.getSeq[Double](0)
      Similarity.ivfSearchIndexed(s, path, qv, 0L, k = 10, nprobe = 2)
    }),

    // trained-IVF recall contract: Lloyd-trained cells (iters = 2,
    // engine-internal float averaging — not oracle-replayable), graded
    // on the integer that matters to a user: how many of the exact
    // brute-force top-10 the pruned probe recovers. The graded floor is
    // recall >= 0.8 — measured across the SF ladder the trained
    // quantizer recovers 9-10 of 10 at nprobe = 2 (at sf0.01 one true
    // neighbor sits in a genuinely far cell that even nprobe = 4 skips;
    // that residual miss IS the IVF trade, not a defect — exact top-10
    // equivalence is graded in q59's replayable configuration). A probe
    // or assignment regression drops the overlap below the floor and
    // breaks the hash.
    "q96_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = Similarity.ivfSearch(emb, 0L, k = 10, cells = 8, iters = 2, nprobe = 2)
      val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      ivf.select(col("vec_id")).join(brute.select(col("vec_id")), "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10).as("k"), (col("n_overlap") >= 8).cast("int").as("recall_ge_80pct"))
    }),

    // Product-quantization ANN (Jegou et al. 2011), oracle-exact
    // configuration: 8 subspaces x 16 centroids, iters = 0 — each
    // codebook is the 16 lowest vec_ids' subvectors, so encoding, the
    // ADC tables and the final ranking are all replayable in SQL. The
    // scan side of the search reads CODES only (8 small ints/vector —
    // 32x less than the float32 vectors at rest): the 100 TB shape is
    // encode-once, then every query is a code-scan + m table lookups.
    // The TRAINED books (iters > 0, float averaging) are graded by the
    // q106 recall contract.
    "q105_ann_pq" -> ((s, dir) =>
      Similarity.pqSearchADC(t(s, dir, "embeddings"), 0L, k = 10,
        m = 8, ksub = 16, iters = 0)),

    // trained-PQ recall contract (same shape as q96): Lloyd-trained
    // codebooks (iters = 1) are not oracle-replayable, so the graded
    // integer is the overlap of the re-ranked top-10 with the exact
    // brute-force top-10. The graded path is the production shape —
    // ADC code-scan to a 100-wide shortlist, exact cosine re-rank of
    // only those rows ([[Similarity.pqSearchRerank]]): direct ADC
    // ranking at 16^8 code words is recall-limited by quantization
    // error (measured 1-4 of 10 across the SF ladder), while the
    // re-ranked top-10 recovers 6-10 of 10 because the true neighbors
    // survive INTO the shortlist even when their ADC order within it
    // is scrambled. Floor: >= 5 of 10 (worst measured rung is 6). A
    // code-assignment or ADC-table regression empties the shortlist's
    // overlap with the true neighborhood and breaks the hash.
    "q106_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pq = Similarity.pqSearchRerank(emb, 0L, k = 10, shortlist = 100,
        m = 8, ksub = 16, iters = 1)
      val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      pq.select(col("vec_id")).join(brute.select(col("vec_id")), "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10).as("k"), (col("n_overlap") >= 5).cast("int").as("recall_ge_50pct"))
    }),

    // IVF-PQ recall contract (trained coarse + residual-PQ quantizers,
    // shortlist rerank — the FAISS IndexIVFPQ+refine composition,
    // [[Similarity.ivfPqSearch]]): the scan side reads nprobe/cells of
    // the corpus as m-byte codes (~0.8% of the raw bytes at this
    // config), so recall is bounded by the coarse probe — the true
    // neighbors it keeps survive the rerank exactly. Floor: >= 5 of 10
    // at nprobe = 8 of 16 cells (measured 6-10 across the SF ladder;
    // the weakly-clustered synthetic embeddings make the probe the
    // binding constraint, same as q96's trained-IVF contract).
    "q107_ivfpq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ann = Similarity.ivfPqSearch(emb, 0L, k = 10, cells = 16, nprobe = 8,
        m = 8, ksub = 16, iters = 1, shortlist = 100)
      val brute = Similarity.bruteForceTopK(emb, 0L, 10)
      ann.select(col("vec_id")).join(brute.select(col("vec_id")), "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10).as("k"), (col("n_overlap") >= 5).cast("int").as("recall_ge_50pct"))
    }))

  /** Oracle for the full cleaning pipeline: quality/lang scoring CTEs
    * (same formulas as q61/q62) → fingerprint dedup → pair CTEs over
    * the kept set → propagation → representative filter.
    */
  /** Shared front half of the corpus-clean oracles: scoring CTEs →
    * quality gate → exact-dedup `kept` → MinHash pair CTEs over the
    * survivors at the CONTRACT geometry (r12: (3, 10) from the same
    * minhashGeometryFor call the pipeline makes — see
    * [[Dedup.minhashPairsContract]]). q68 appends min-label
    * propagation; q121 appends exact CC + quality-ranked winner
    * election.
    */
  private val SqlCorpusFront: String = {
    val langs = graft.functions.TextFunctions.langMarkers
    val allMarkers = langs.flatMap(_._2).distinct.map(m => s"'$m'").mkString("(", ", ", ")")
    def markers(ms: Seq[String]) = ms.map(m => s"'$m'").mkString("(", ", ", ")")
    val scoreExprs = langs.map { case (l, ms) =>
      s"len(list_filter(toks, t -> t IN ${markers(ms)})) AS s_$l"
    }.mkString(", ")
    val caseArms = langs.map { case (l, _) => s"WHEN s_$l = gm AND gm > 0 THEN '$l'" }.mkString(" ")
    s"""base AS (SELECT doc_id, text, lower(text) AS lt,
          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM $DocsPq),
        m AS (SELECT doc_id, text, toks,
          len(toks)::DOUBLE AS n_tok,
          len(list_filter(toks, t -> t IN $allMarkers))::DOUBLE AS n_stop,
          len(lt) AS n_ch,
          len(regexp_replace(lt, '[^a-z0-9 ]', '', 'g')) AS n_clean,
          $scoreExprs FROM base),
        g AS (SELECT *, greatest(${langs.map("s_" + _._1).mkString(", ")}) AS gm FROM m),
        scored AS (SELECT doc_id, text, CAST(len(toks) AS INT) AS n_tokens,
          round(0.4 * least(n_tok / 50.0, 1.0)
            + 0.4 * (1.0 - (n_ch - n_clean)::DOUBLE / greatest(n_ch, 1)::DOUBLE)
            + 0.2 * least(n_stop / greatest(n_tok, 1.0) * 5.0, 1.0), 6) AS quality,
          CASE $caseArms ELSE 'und' END AS lang_pred FROM g),
        qual AS (SELECT * FROM scored WHERE quality >= 0.5),
        kept AS (SELECT doc_id, text, quality, lang_pred, n_tokens FROM (
          SELECT *, row_number() OVER (
            PARTITION BY md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
            ORDER BY doc_id) AS rn FROM qual) WHERE rn = 1),
        ${sqlPairsCtesContract("SELECT doc_id, text FROM kept", 0.6)}"""
  }

  private val SqlCorpusClean: String =
    s"""WITH $SqlCorpusFront,
        ${sqlPropagation(3)}
        SELECT k.doc_id, k.lang_pred, k.quality, k.n_tokens FROM kept k
        LEFT JOIN l3 ON l3.doc = k.doc_id
        WHERE l3.label IS NULL OR l3.label = k.doc_id
        ORDER BY k.doc_id"""

  /** q121: the keep-best tail — exact CC over the survivor pair graph
    * (q93's recursive replay), winner per cluster by
    * (quality DESC, doc_id ASC), singletons their own cluster.
    */
  private val SqlCorpusCleanBest: String =
    s"""WITH RECURSIVE $SqlCorpusFront,
        e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(src, dst) AS (
          SELECT src, src AS dst FROM e
          UNION
          SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        lab AS (SELECT src AS doc, min(dst) AS label FROM reach GROUP BY src),
        cl AS (SELECT k.doc_id, coalesce(l.label, k.doc_id) AS cluster,
                 k.quality, k.lang_pred, k.n_tokens
               FROM kept k LEFT JOIN lab l ON k.doc_id = l.doc),
        w AS (SELECT *, row_number() OVER (
                PARTITION BY cluster ORDER BY quality DESC, doc_id) AS rn FROM cl)
        SELECT doc_id, lang_pred, quality, n_tokens
        FROM w WHERE rn = 1 ORDER BY doc_id"""

  /** Full replay of the iters = 0 IVF path, shared by q59 (inline
    * search) and q101 (persisted-index probe — same quantizer, same
    * probes, so the same top-10 by construction).
    */
  /** Shared CTE chain for the q262/q263 IVF probe-contract oracles:
    * q59's iters = 0 quantizer (cents = the 8 lowest vec_ids), probe
    * rank per sample query by (rounded sq distance, cell), truth =
    * brute-force top-k per sample query, `tr` = each true neighbor's
    * cell rank — recall at nprobe p is then just COUNT(cell_rank <= p).
    * Mirrors [[graft.operators.Similarity.ivfProbeAudit]].
    */
  private def sqlIvfProbeCtes(k: Int, cells: Int, sampleQ: Int): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
        cents AS (SELECT CAST(vec_id AS INT) AS cell, e AS c FROM e ORDER BY vec_id LIMIT $cells),
        d AS (SELECT e.vec_id, cents.cell,
            round(list_sum(list_transform(generate_series(1, 64),
              i -> (e.e[i] - cents.c[i]) * (e.e[i] - cents.c[i]))), 9) AS d
          FROM e CROSS JOIN cents),
        assigned AS (SELECT vec_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM d)
          WHERE rn = 1),
        prank AS (SELECT vec_id AS query_id, cell,
            CAST(row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS INT) AS cell_rank
          FROM d WHERE vec_id < $sampleQ),
        qs AS (SELECT vec_id AS query_id, e AS qe FROM e WHERE vec_id < $sampleQ),
        truth AS (SELECT query_id, vec_id FROM (
            SELECT qs.query_id, e.vec_id,
              row_number() OVER (PARTITION BY qs.query_id
                ORDER BY round(list_cosine_similarity(e.e, qs.qe), 6) DESC, e.vec_id) AS rn
            FROM e, qs WHERE e.vec_id <> qs.query_id)
          WHERE rn <= $k),
        tr AS (SELECT pr.cell_rank FROM truth t
          JOIN assigned a ON a.vec_id = t.vec_id
          JOIN prank pr ON pr.query_id = t.query_id AND pr.cell = a.cell),
        curve AS (SELECT CAST(p AS INT) AS nprobe,
            CAST(count(*) AS BIGINT) AS n_truth,
            CAST(sum(CASE WHEN cell_rank <= p THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
          FROM unnest(generate_series(1, $cells)) AS tp(p), tr GROUP BY 1)"""

  /** Shared CTE chain for the q267/q268 cell-probe-contract oracles:
    * q125's iters = 0 quantizer (cents = the `cells` lowest vec_ids),
    * probe units = the blend ladder over the `sampleQ` lowest vec_ids
    * (PER-VECTOR md5 anchors — the q261 construction), per-unit cell
    * ranks by (round-9 squared distance, cell), truth = within-vector
    * rung pairs with exact rounded cosine >= `threshold`, and each
    * pair's catch depth = min over shared cells of max(rank_a,
    * rank_b). Mirrors
    * [[graft.operators.Similarity.semanticCellRecallAudit]].
    */
  private def sqlCellProbeCtes(cells: Int, sampleQ: Int, threshold: Double): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
        cents AS (SELECT CAST(vec_id AS INT) AS cell, e AS c FROM e ORDER BY vec_id LIMIT $cells),
        units AS (SELECT vec_id * 8 + j AS uid, vec_id AS grp,
            list_transform(generate_series(1, 64),
              i -> CASE WHEN i <= j * 8 THEN
                  (((('0x' || substr(md5('anchor_' || vec_id || '_' || (i - 1)), 1, 8))::BIGINT) % 2001 - 1000))::DOUBLE / 1000.0
                ELSE e.e[i] END) AS u
          FROM e, unnest(generate_series(0, 7)) AS tj(j) WHERE vec_id < $sampleQ),
        ud AS (SELECT u.uid, cents.cell,
            round(list_sum(list_transform(generate_series(1, 64),
              i -> (u.u[i] - cents.c[i]) * (u.u[i] - cents.c[i]))), 9) AS d
          FROM units u CROSS JOIN cents),
        ranks AS (SELECT uid, cell,
            CAST(row_number() OVER (PARTITION BY uid ORDER BY d, cell) AS BIGINT) AS rnk
          FROM ud),
        pr AS (SELECT l.uid AS a, r.uid AS b
          FROM units l JOIN units r ON l.grp = r.grp AND l.uid < r.uid
          WHERE round(list_cosine_similarity(l.u, r.u), 6) >= $threshold),
        dep AS (SELECT pr.a, pr.b, min(greatest(ra.rnk, rb.rnk)) AS depth
          FROM pr JOIN ranks ra ON ra.uid = pr.a
            JOIN ranks rb ON rb.uid = pr.b AND ra.cell = rb.cell
          GROUP BY 1, 2),
        curve AS (SELECT CAST(p AS INT) AS nprobe,
            CAST(count(*) AS BIGINT) AS n_truth,
            CAST(sum(CASE WHEN depth <= p THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
          FROM unnest(generate_series(1, $cells)) AS tp(p), dep GROUP BY 1)"""

  /** Shared CTE chain for the q264/q265 PQ rerank-contract oracles:
    * q105's iters = 0 codebooks (per-subspace subvectors of the `ksub`
    * lowest vec_ids), codes by 9-decimal-rounded argmin, per-sample-
    * query ADC tables = the query row's own d values, `rnk` = each
    * corpus vector's position by (adc_dist, vec_id) per query — the
    * exact truncation order of the shortlist — and `tr` = the true
    * top-k neighbors' ADC ranks. Recall at depth c is then just
    * COUNT(adc_rank <= c). Mirrors
    * [[graft.operators.Similarity.pqRerankAudit]].
    */
  private def sqlPqRerankCtes(k: Int, m: Int, ksub: Int, sub: Int, sampleQ: Int): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
        b AS (SELECT CAST(vec_id AS INT) AS code, e AS c
          FROM (SELECT vec_id, e FROM e ORDER BY vec_id LIMIT $ksub)),
        books AS (SELECT j, code, c FROM b, unnest(generate_series(0, ${m - 1})) AS u(j)),
        d AS (SELECT e.vec_id, bk.j, bk.code,
            round(list_sum(list_transform(generate_series(1, $sub),
              i -> (e.e[bk.j*$sub+i] - bk.c[bk.j*$sub+i]) * (e.e[bk.j*$sub+i] - bk.c[bk.j*$sub+i]))), 9) AS d
          FROM e CROSS JOIN books bk),
        codes AS (SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
            FROM d) WHERE rn = 1),
        tab AS (SELECT vec_id AS query_id, j, code, d AS t FROM d WHERE vec_id < $sampleQ),
        adc AS (SELECT t.query_id, c.vec_id, round(list_sum(list(t.t ORDER BY c.j)), 6) AS adc_dist
          FROM codes c JOIN tab t ON t.j = c.j AND t.code = c.code
          WHERE c.vec_id <> t.query_id GROUP BY t.query_id, c.vec_id),
        rnk AS (SELECT query_id, vec_id,
            CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS INT) AS adc_rank
          FROM adc),
        qs AS (SELECT vec_id AS query_id, e AS qe FROM e WHERE vec_id < $sampleQ),
        truth AS (SELECT query_id, vec_id FROM (
            SELECT qs.query_id, e.vec_id,
              row_number() OVER (PARTITION BY qs.query_id
                ORDER BY round(list_cosine_similarity(e.e, qs.qe), 6) DESC, e.vec_id) AS rn
            FROM e, qs WHERE e.vec_id <> qs.query_id)
          WHERE rn <= $k),
        tr AS (SELECT r.adc_rank FROM truth t
          JOIN rnk r ON r.query_id = t.query_id AND r.vec_id = t.vec_id)"""

  private val oracleQ59: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
        cents AS (SELECT CAST(vec_id AS INT) AS cell, e AS c FROM e ORDER BY vec_id LIMIT 8),
        d AS (SELECT e.vec_id, cents.cell,
            round(list_sum(list_transform(generate_series(1, 64),
              i -> (e.e[i] - cents.c[i]) * (e.e[i] - cents.c[i]))), 9) AS d
          FROM e CROSS JOIN cents),
        assigned AS (SELECT vec_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM d)
          WHERE rn = 1),
        q AS (SELECT e AS qe FROM e WHERE vec_id = 0),
        probes AS (SELECT cell FROM (
            SELECT cell, row_number() OVER (ORDER BY d, cell) AS rn FROM d WHERE vec_id = 0)
          WHERE rn <= 2)
        SELECT e.vec_id, round(list_cosine_similarity(e.e, q.qe), 6) AS cos_sim
        FROM e JOIN assigned USING (vec_id) JOIN probes USING (cell), q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id LIMIT 10"""

  val oracleSql: Map[String, String] = Map(
    "q68_corpus_clean" -> SqlCorpusClean,
    "q121_corpus_clean_best" -> SqlCorpusCleanBest,
    "q54_dedup_exact" ->
      s"""SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp,
          min(doc_id) AS keep_id, count(*) AS n_copies
          FROM $DocsPq GROUP BY 1 ORDER BY keep_id""",
    "q50_minhash_sig" -> s"SELECT * FROM ($SqlSig) ORDER BY doc_id",
    "q51_minhash_pairs" ->
      s"WITH $SqlPairsCtes SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b",
    "q67_dup_clusters" ->
      s"""WITH $SqlPairsCtes, ${sqlPropagation(3)}
          SELECT doc, label FROM l3 ORDER BY doc""",
    "q93_connected_components" ->
      s"""WITH RECURSIVE $SqlPairsCtes,
          e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
          reach(src, dst) AS (
            SELECT src, src AS dst FROM e
            UNION
            SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
          SELECT src AS doc, min(dst) AS label FROM reach GROUP BY src ORDER BY doc""",

    "q252_leakage_split" ->
      s"""WITH RECURSIVE ${sqlPairsCtesContract(s"SELECT doc_id, text FROM $DocsPq", 0.6)},
          e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
          reach(src, dst) AS (
            SELECT src, src AS dst FROM e
            UNION
            SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
          lab AS (SELECT src AS id, min(dst) AS label FROM reach GROUP BY src),
          g AS (SELECT d.doc_id AS id, coalesce(l.label, d.doc_id) AS grp
            FROM $DocsPq d LEFT JOIN lab l ON d.doc_id = l.id),
          s AS (SELECT id, grp,
              CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
            FROM (SELECT id, grp,
              ${Q.sqlTokenHash("'split_' || CAST(grp AS VARCHAR)")} % 100 AS b
              FROM g))
          SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(count(DISTINCT grp) AS BIGINT) AS n_groups
          FROM s GROUP BY split ORDER BY split""",
    // truth = rare-shingle blocked pairs with exact hashed-set Jaccard
    // (integer micros), caught = band cohabitation of the q51 (8, 2)
    // signature — both replayed from the shared h31/affine constants,
    // so Spark and DuckDB derive identical pair sets, not just
    // identical contract bits.
    "q253_lsh_recall" -> sqlLshRecallAudit(
      (0 until 8).map(sqlPerm).mkString(", "),
      s"${bandEq("", 0, 4)} OR ${bandEq("", 1, 4)}"),

    // the same audit at the CONTRACT geometry (30 affine permutations,
    // 10 bands of 3) — the graded before/after of minhashGeometryFor:
    // same truth strata, band join swapped for the derived curve.
    "q255_lsh_recall_contract" -> {
      val (r, b) = Dedup.minhashGeometryFor(600000L, 900000L)
      sqlLshRecallAudit(
        (0 until r * b).map(sqlPermAffine).mkString(", "),
        (0 until b).map(bb => bandEq("", bb, r)).mkString(" OR "))
    },

    // the geometry constants are resolved by the SAME
    // minhashGeometryFor call the query makes (exact BigInt
    // arithmetic), so query and oracle cannot drift; affine
    // permutation i = (1299721 + 2i)·h + 104729·(i+1) mod P, the
    // index-generated family any SQL width can replay
    "q254_contract_neardup" ->
      s"""WITH ${sqlPairsCtesContract(s"SELECT doc_id, text FROM $DocsPq", 0.6)}
          SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""",

    "q52_simhash" ->
      s"""WITH th AS (SELECT doc_id, ${sqlH31("token")} AS h FROM
            (SELECT doc_id, unnest(tk) AS token FROM ($SqlToks))),
          votes AS (SELECT doc_id, b, sum(CASE WHEN $SqlBitVote = 1 THEN 1 ELSE -1 END) AS v
            FROM th, unnest(generate_series(0, 15)) AS u(b) GROUP BY 1, 2)
          SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
          FROM votes GROUP BY doc_id ORDER BY doc_id""",
    "q69_simhash_pairs" -> sqlSimhashPairs(32),
    "q87_simhash_pairs_wide" -> sqlSimhashPairs(48),
    "q100_simhash_pairs_auto" -> sqlSimhashPairsAuto,
    "q256_simhash_recall" -> sqlSimhashRecallAudit(32, 4, 20, 12),
    "q257_simhash_contract" -> sqlSimhashPairsContract,
    "q53_ngram_jaccard" ->
      s"""WITH base AS (SELECT doc_id, lang, n_chars // 64 AS len_bucket,
            list_distinct(list_transform(
              list_filter(string_split(lower(text), ' '), x -> x <> ''),
              x -> ${sqlH31("x")})) AS toks
            FROM $DocsPq)
          SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
            round(len(list_intersect(l.toks, r.toks))::DOUBLE /
              (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks)))::DOUBLE, 6) AS jaccard
          FROM base l JOIN base r ON l.lang = r.lang AND l.len_bucket = r.len_bucket
            AND l.doc_id < r.doc_id
          WHERE round(len(list_intersect(l.toks, r.toks))::DOUBLE /
              (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks)))::DOUBLE, 6) >= 0.5
          ORDER BY doc_a, doc_b""",
    "q77_group_sample" ->
      s"""SELECT doc_id, lang FROM (
            SELECT doc_id, lang, row_number() OVER (
              PARTITION BY lang ORDER BY md5('smp_' || doc_id), doc_id) AS rn
            FROM $DocsPq) WHERE rn <= 3
          ORDER BY lang, doc_id""",
    "q76_fuzzy_pairs" ->
      """SELECT l.s_suppkey AS id_a, r.s_suppkey AS id_b,
         CAST(levenshtein(l.s_name, r.s_name) AS INT) AS dist
         FROM supplier l JOIN supplier r
           ON substr(l.s_name, 1, 2) = substr(r.s_name, 1, 2)
           AND abs(len(l.s_name) - len(r.s_name)) <= 1
           AND l.s_suppkey < r.s_suppkey
         WHERE levenshtein(l.s_name, r.s_name) <= 1
         ORDER BY id_a, id_b""",
    // the deletion-neighborhood variant is complete, so its oracle is
    // the definition itself: every pair at levenshtein <= 1 (the length
    // predicate is implied by distance <= 1 — lossless pruning).
    "q98_fuzzy_pairs_deletion" ->
      """SELECT l.s_suppkey AS id_a, r.s_suppkey AS id_b,
         CAST(levenshtein(l.s_name, r.s_name) AS INT) AS dist
         FROM supplier l JOIN supplier r
           ON abs(len(l.s_name) - len(r.s_name)) <= 1
           AND l.s_suppkey < r.s_suppkey
         WHERE levenshtein(l.s_name, r.s_name) <= 1
         ORDER BY id_a, id_b""",
    "q102_fuzzy_pairs_deletion2" ->
      """SELECT l.s_suppkey AS id_a, r.s_suppkey AS id_b,
         CAST(levenshtein(l.s_name, r.s_name) AS INT) AS dist
         FROM supplier l JOIN supplier r
           ON abs(len(l.s_name) - len(r.s_name)) <= 2
           AND l.s_suppkey < r.s_suppkey
         WHERE levenshtein(l.s_name, r.s_name) <= 2
         ORDER BY id_a, id_b""",
    // cross-set replay of the incremental pipeline: same fingerprints,
    // same 8-perm signatures and band equality, same round-6 Jaccard
    // floor — exact verdict wins over near.
    "q115_incremental_dedup" -> {
      val bandCond = (0 until 2).map(b => bandEq("", b, 4)).mkString(" OR ")
      s"""WITH corpus AS (SELECT doc_id, text FROM $DocsPq WHERE doc_id < 400),
          nw AS (SELECT doc_id, text FROM $DocsPq WHERE doc_id >= 400
                 UNION ALL
                 SELECT 9001 AS doc_id, text FROM $DocsPq WHERE doc_id = 5),
          cfp AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
                  FROM corpus),
          nfp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
                  FROM nw),
          csh AS (SELECT doc_id, ${sqlH31("shingle")} AS h
                  FROM (${sqlShingles("SELECT doc_id, text FROM corpus")})),
          nsh AS (SELECT doc_id, ${sqlH31("shingle")} AS h
                  FROM (${sqlShingles("SELECT doc_id, text FROM nw")})),
          csig AS (SELECT doc_id, ${(0 until 8).map(sqlPerm).mkString(", ")} FROM csh GROUP BY doc_id),
          nsig AS (SELECT doc_id, ${(0 until 8).map(sqlPerm).mkString(", ")} FROM nsh GROUP BY doc_id),
          cand AS (SELECT l.doc_id AS new_id, r.doc_id AS corpus_id
                   FROM nsig l JOIN csig r ON ($bandCond)),
          csets AS (SELECT doc_id, list_distinct(list(h)) AS hs FROM csh GROUP BY doc_id),
          nsets AS (SELECT doc_id, list_distinct(list(h)) AS hs FROM nsh GROUP BY doc_id),
          near AS (SELECT DISTINCT new_id AS doc_id FROM cand
                   JOIN nsets a ON a.doc_id = cand.new_id
                   JOIN csets b ON b.doc_id = cand.corpus_id
                   WHERE round(len(list_intersect(a.hs, b.hs))::DOUBLE /
                     (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::DOUBLE, 6) >= 0.6)
          SELECT nfp.doc_id,
            CASE WHEN nfp.fp IN (SELECT fp FROM cfp) THEN 'exact_dup'
                 WHEN nfp.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
                 ELSE 'kept' END AS verdict
          FROM nfp ORDER BY nfp.doc_id"""
    },
    // q115's replay at the CONTRACT geometry: (rows, bands) resolved
    // by the SAME minhashGeometryFor call the index writer makes,
    // signatures from the index-generated affine family — query and
    // oracle cannot drift on width
    "q266_incremental_dedup_contract" -> {
      val (r, b) = Dedup.minhashGeometryFor(600000L, 900000L)
      val k = r * b
      val bandCond = (0 until b).map(bb => bandEq("", bb, r)).mkString(" OR ")
      s"""WITH corpus AS (SELECT doc_id, text FROM $DocsPq WHERE doc_id < 400),
          nw AS (SELECT doc_id, text FROM $DocsPq WHERE doc_id >= 400
                 UNION ALL
                 SELECT 9001 AS doc_id, text FROM $DocsPq WHERE doc_id = 5),
          cfp AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
                  FROM corpus),
          nfp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
                  FROM nw),
          csh AS (SELECT doc_id, ${sqlH31("shingle")} AS h
                  FROM (${sqlShingles("SELECT doc_id, text FROM corpus")})),
          nsh AS (SELECT doc_id, ${sqlH31("shingle")} AS h
                  FROM (${sqlShingles("SELECT doc_id, text FROM nw")})),
          csig AS (SELECT doc_id, ${(0 until k).map(sqlPermAffine).mkString(", ")} FROM csh GROUP BY doc_id),
          nsig AS (SELECT doc_id, ${(0 until k).map(sqlPermAffine).mkString(", ")} FROM nsh GROUP BY doc_id),
          cand AS (SELECT l.doc_id AS new_id, r.doc_id AS corpus_id
                   FROM nsig l JOIN csig r ON ($bandCond)),
          csets AS (SELECT doc_id, list_distinct(list(h)) AS hs FROM csh GROUP BY doc_id),
          nsets AS (SELECT doc_id, list_distinct(list(h)) AS hs FROM nsh GROUP BY doc_id),
          near AS (SELECT DISTINCT new_id AS doc_id FROM cand
                   JOIN nsets a ON a.doc_id = cand.new_id
                   JOIN csets b ON b.doc_id = cand.corpus_id
                   WHERE round(len(list_intersect(a.hs, b.hs))::DOUBLE /
                     (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::DOUBLE, 6) >= 0.6)
          SELECT nfp.doc_id,
            CASE WHEN nfp.fp IN (SELECT fp FROM cfp) THEN 'exact_dup'
                 WHEN nfp.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
                 ELSE 'kept' END AS verdict
          FROM nfp ORDER BY nfp.doc_id"""
    },
    // q266's CONTRACT verdict replay (no synthetic re-ingest row) +
    // the merge: final corpus = base ∪ kept batch rows. Geometry
    // resolved by the SAME minhashGeometryFor call the index writer
    // makes, signatures from the index-generated affine family.
    "q134_corpus_refresh" -> {
      val (r134, b134) = Dedup.minhashGeometryFor(600000L, 900000L)
      val k134 = r134 * b134
      val bandCond = (0 until b134).map(bb => bandEq("", bb, r134)).mkString(" OR ")
      s"""WITH corpus AS (SELECT doc_id, text FROM $DocsPq WHERE doc_id < 400),
          nw AS (SELECT doc_id, text FROM $DocsPq WHERE doc_id >= 400),
          cfp AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
                  FROM corpus),
          nfp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
                  FROM nw),
          csh AS (SELECT doc_id, ${sqlH31("shingle")} AS h
                  FROM (${sqlShingles("SELECT doc_id, text FROM corpus")})),
          nsh AS (SELECT doc_id, ${sqlH31("shingle")} AS h
                  FROM (${sqlShingles("SELECT doc_id, text FROM nw")})),
          csig AS (SELECT doc_id, ${(0 until k134).map(sqlPermAffine).mkString(", ")} FROM csh GROUP BY doc_id),
          nsig AS (SELECT doc_id, ${(0 until k134).map(sqlPermAffine).mkString(", ")} FROM nsh GROUP BY doc_id),
          cand AS (SELECT l.doc_id AS new_id, r.doc_id AS corpus_id
                   FROM nsig l JOIN csig r ON ($bandCond)),
          csets AS (SELECT doc_id, list_distinct(list(h)) AS hs FROM csh GROUP BY doc_id),
          nsets AS (SELECT doc_id, list_distinct(list(h)) AS hs FROM nsh GROUP BY doc_id),
          near AS (SELECT DISTINCT new_id AS doc_id FROM cand
                   JOIN nsets a ON a.doc_id = cand.new_id
                   JOIN csets b ON b.doc_id = cand.corpus_id
                   WHERE round(len(list_intersect(a.hs, b.hs))::DOUBLE /
                     (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))::DOUBLE, 6) >= 0.6),
          verdicts AS (SELECT nfp.doc_id,
              CASE WHEN nfp.fp IN (SELECT fp FROM cfp) THEN 'exact_dup'
                   WHEN nfp.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
                   ELSE 'kept' END AS verdict FROM nfp)
          SELECT doc_id, CAST(len(text) AS BIGINT) AS text_len FROM (
            SELECT doc_id, text FROM corpus
            UNION ALL
            SELECT nw.doc_id, nw.text FROM nw JOIN verdicts USING (doc_id)
            WHERE verdict = 'kept')
          ORDER BY doc_id"""
    },
    "q111_dup_spans" ->
      s"""WITH $SqlDupSpanCtes
          SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
            max(e) - min(s) + 1 AS span_len
          FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    // CC labels replayed per q93 (recursive reachability, min label),
    // quality per q62 (the shared kb_* CTE chain), winner per cluster
    // by (quality DESC, doc_id ASC); singletons are their own cluster.
    "q116_keep_best" ->
      s"""WITH RECURSIVE $SqlPairsCtes,
          e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
          reach(src, dst) AS (
            SELECT src, src AS dst FROM e
            UNION
            SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
          lab AS (SELECT src AS doc, min(dst) AS label FROM reach GROUP BY src),
          ${TextQueries.sqlQualityCtes},
          kb_cl AS (SELECT qual.doc_id, coalesce(l.label, qual.doc_id) AS cluster, qual.quality
                    FROM qual LEFT JOIN lab l ON qual.doc_id = l.doc),
          kb_r AS (SELECT cluster, doc_id, quality,
                     row_number() OVER (PARTITION BY cluster ORDER BY quality DESC, doc_id) AS rn,
                     count(*) OVER (PARTITION BY cluster) AS n_docs FROM kb_cl)
          SELECT cluster, doc_id AS kept_doc, quality AS kept_quality, n_docs
          FROM kb_r WHERE rn = 1 ORDER BY cluster""",
    "q112_substring_dedup" ->
      s"""WITH $SqlDupSpanCtes,
          spans AS (SELECT doc_id, min(s) AS ss, max(e) AS se
                    FROM isl GROUP BY doc_id, island),
          rem AS (SELECT DISTINCT doc_id, u.i AS pos
                  FROM spans, unnest(generate_series(ss, se)) AS u(i)),
          tokpos AS (SELECT doc_id, i AS pos, tk[i] AS token
                     FROM ($SqlToks), unnest(generate_series(1, len(tk))) AS u(i)),
          kept AS (SELECT t.doc_id, t.pos, t.token
                   FROM tokpos t ANTI JOIN rem r USING (doc_id, pos)),
          agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS ct,
                    count(*) AS n_kept
                  FROM kept GROUP BY doc_id)
          SELECT d.doc_id, coalesce(agg.ct, '') AS clean_text,
            len(tk.tk) - coalesce(agg.n_kept, 0) AS n_removed
          FROM $DocsPq d
          JOIN (SELECT doc_id, tk FROM ($SqlToks)) tk USING (doc_id)
          LEFT JOIN agg USING (doc_id)
          ORDER BY d.doc_id""",
    "q103_minhash_pairs_auto" -> sqlMinhashPairsAuto,
    "q72_ngram_jaccard_lsh" ->
      s"""WITH ${sqlPairsCtesFromHashes(
        s"SELECT doc_id, ${sqlH31("token")} AS h FROM (SELECT doc_id, unnest(tk) AS token FROM ($SqlToks))",
        0.95, 1)}
          SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""",
    "q71_embedding_neardup_lsh" -> sqlEmbeddingLshPairs(8),
    "q92_embedding_lsh_wide" -> sqlEmbeddingLshPairs(10),
    "q99_embedding_lsh_auto" -> sqlEmbeddingLshPairsAuto,
    "q258_cosine_lsh_recall" -> sqlCosineLshRecallAudit(8, 1),
    // geometry resolved by the SAME advisor call the query makes
    "q259_cosine_lsh_contract" -> {
      val (p, tb) = Similarity.cosineLshGeometryFor(900000L, 800000L)
      sqlCosineLshRecallAudit(p, tb)
    },
    "q260_cosine_lsh_multi" -> {
      val (p, tb) = Similarity.cosineLshGeometryFor(900000L, 800000L)
      sqlCosineLshPairsMulti(p, tb, 0.25)
    },
    "q261_semantic_dedup_contract" -> {
      val (p, tb) = Similarity.cosineLshGeometryFor(900000L, 800000L)
      sqlSemanticDedupContract(p, tb, 0.9)
    },
    "q262_ivf_probe_audit" ->
      s"""WITH ${sqlIvfProbeCtes(10, 8, 16)}
          SELECT nprobe, n_truth, n_caught,
            CAST((n_caught * 1000000) // n_truth AS BIGINT) AS recall_micro
          FROM curve ORDER BY nprobe""",
    // the advisor replayed in SQL: np = min nprobe meeting the 90%
    // floor over the same measured curve, then q59's probed search at
    // that nprobe
    "q263_ivf_search_contract" ->
      s"""WITH ${sqlIvfProbeCtes(10, 8, 16)},
          np AS (SELECT coalesce(min(nprobe), 8) AS np FROM curve
                 WHERE (n_caught * 1000000) // n_truth >= 900000),
          probes AS (SELECT cell FROM prank
                     WHERE query_id = 0 AND cell_rank <= (SELECT np FROM np)),
          q AS (SELECT e AS qe FROM e WHERE vec_id = 0)
          SELECT e.vec_id, round(list_cosine_similarity(e.e, q.qe), 6) AS cos_sim
          FROM e JOIN assigned USING (vec_id) JOIN probes USING (cell), q
          WHERE e.vec_id <> 0
          ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    "q264_pq_rerank_audit" -> {
      val depths = (0 to 8).map(j => 10L << j)
      s"""WITH ${sqlPqRerankCtes(10, 8, 16, 8, 16)},
          curve AS (SELECT CAST(depth AS INT) AS depth,
              CAST(count(*) AS BIGINT) AS n_truth,
              CAST(sum(CASE WHEN adc_rank <= depth THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
            FROM unnest(${depths.mkString("[", ", ", "]")}) AS tp(depth), tr GROUP BY 1)
          SELECT depth, n_truth, n_caught,
            CAST((n_caught * 1000000) // n_truth AS BIGINT) AS recall_micro
          FROM curve ORDER BY depth"""
    },
    // the advisor replayed in SQL: depth = the ceil(0.9·n_truth)-th
    // smallest true-neighbor ADC rank (min rank at sorted index >=
    // need), floored at k, then the query-0 shortlist at that depth
    // is exact-cosine reranked to the final 10
    "q265_pq_rerank_contract" ->
      s"""WITH ${sqlPqRerankCtes(10, 8, 16, 8, 16)},
          need AS (SELECT CAST(ceil(900000.0 * count(*) / 1000000.0) AS BIGINT) AS need FROM tr),
          dep AS (SELECT GREATEST(10, CAST(min(adc_rank) AS INT)) AS depth FROM (
              SELECT adc_rank, row_number() OVER (ORDER BY adc_rank) AS idx FROM tr)
            WHERE idx >= (SELECT need FROM need)),
          short AS (SELECT vec_id FROM rnk
            WHERE query_id = 0 AND adc_rank <= (SELECT depth FROM dep)),
          q AS (SELECT e AS qe FROM e WHERE vec_id = 0)
          SELECT e.vec_id, round(list_cosine_similarity(e.e, q.qe), 6) AS cos_sim
          FROM e JOIN short USING (vec_id), q
          ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // the affine pair replay at the geometry the MinHash BUDGET
    // advisor resolves for n = 1e9 — the advisor runs at oracle-build
    // time too, so query and oracle cannot drift
    "q270_minhash_budget_pairs" -> {
      val (r, b) = Dedup.minhashGeometryForBudget(1000000000L, 700000L, 900000L)
      s"""WITH ${sqlPairsCtesFromHashesAffine(
        s"SELECT doc_id, ${sqlH31("shingle")} AS h FROM ($SqlShingles)", 0.7, r, b)}
          SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"""
    },
    // the banded-hamming replay at the geometry the SimHash BUDGET
    // advisor resolves for the stated design size — the advisor runs
    // at oracle-build time too, so query and oracle cannot drift
    "q271_simhash_budget_pairs" -> {
      val (bits, bands) = Dedup.simhashGeometryForBudget(1000000L, 1)
      sqlSimhashPairsWith(s"${bits - 1}", s"${bits / bands}",
        s"${1L << (bits / bands)}", "",
        bandsMaxExpr = s"${bands - 1}", maxHamming = 1)
    },
    // same replay shape as q261, at the geometry the BUDGET advisor
    // resolves for the stated design size — the advisor runs at
    // oracle-build time too, so query and oracle cannot drift
    "q269_budget_dedup_contract" -> {
      val (p, tb) = Similarity.cosineLshGeometryForBudget(1000000L, 900000L, 800000L)
      sqlSemanticDedupContract(p, tb, 0.9)
    },
    // q260's pair replay at the geometry the BUDGET advisor resolves —
    // the advisor runs at oracle-build time too, so query and oracle
    // cannot drift
    "q272_cosine_budget_multi" -> {
      val (p, tb) = Similarity.cosineLshGeometryForBudget(1000000L, 900000L, 800000L)
      sqlCosineLshPairsMulti(p, tb, 0.25)
    },
    "q267_cell_probe_audit" ->
      s"""WITH ${sqlCellProbeCtes(8, 16, 0.4)}
          SELECT nprobe, n_truth, n_caught,
            CAST((n_caught * 1000000) // n_truth AS BIGINT) AS recall_micro
          FROM curve ORDER BY nprobe""",
    // the advisor replayed in SQL: np = min depth meeting the 90%
    // floor over the same measured curve (coalesce to cells = brute
    // force), then every corpus vector joins its np nearest cells,
    // candidates are cross-cell-deduped, verified at q125's 0.4, and
    // the q125 CC + keep-min tail closes it
    "q268_cell_dedup_contract" ->
      s"""WITH RECURSIVE ${sqlCellProbeCtes(8, 16, 0.4)},
          np AS (SELECT coalesce(min(nprobe), 8) AS np FROM curve
                 WHERE (n_caught * 1000000) // n_truth >= 900000),
          d2 AS (SELECT e.vec_id, cents.cell,
              round(list_sum(list_transform(generate_series(1, 64),
                i -> (e.e[i] - cents.c[i]) * (e.e[i] - cents.c[i]))), 9) AS d
            FROM e CROSS JOIN cents),
          r2 AS (SELECT vec_id, cell,
              row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rnk FROM d2),
          asg AS (SELECT vec_id, cell FROM r2 WHERE rnk <= (SELECT np FROM np)),
          cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
            FROM asg l JOIN asg r ON l.cell = r.cell AND l.vec_id < r.vec_id),
          p2 AS (SELECT a, b FROM cand
            JOIN e el ON el.vec_id = a JOIN e er ON er.vec_id = b
            WHERE round(list_cosine_similarity(el.e, er.e), 6) >= 0.4),
          edges AS (SELECT a AS src, b AS dst FROM p2 UNION ALL SELECT b AS src, a AS dst FROM p2),
          reach(src, dst) AS (
            SELECT src, src AS dst FROM edges
            UNION
            SELECT r.src, edges.dst FROM reach r JOIN edges ON r.dst = edges.src),
          lab AS (SELECT src AS doc, min(dst) AS label FROM reach GROUP BY src)
          SELECT vec_id FROM e
          WHERE vec_id NOT IN (SELECT doc FROM lab WHERE doc <> label)
          ORDER BY vec_id""",
    "q55_embedding_neardup" ->
      s"""SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
          round(list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]), 6) AS cos_sim
          FROM $EmbPq l JOIN $EmbPq r ON l.label = r.label AND l.vec_id < r.vec_id
          WHERE round(list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]), 6) >= 0.4
          ORDER BY vec_a, vec_b""",
    "q70_crossmodal_expand" ->
      s"""WITH seeds AS (SELECT DISTINCT doc_id AS vec_id FROM
            (SELECT doc_id, unnest(tk) AS token FROM ($SqlToks)) WHERE token = 'spark'),
          sv AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS e FROM $EmbPq e JOIN seeds USING (vec_id)),
          cent AS (SELECT i, avg(e[i]) AS m FROM sv, unnest(generate_series(1, 64)) AS u(i) GROUP BY i),
          c AS (SELECT list(m ORDER BY i) AS centroid FROM cent)
          SELECT e.vec_id, round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) AS cos_sim
          FROM $EmbPq e, c WHERE e.vec_id NOT IN (SELECT vec_id FROM seeds)
          ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    "q56_ann_bruteforce" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM $EmbPq WHERE vec_id = 0)
          SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS cos_sim
          FROM $EmbPq, q WHERE vec_id <> 0 ORDER BY cos_sim DESC, vec_id LIMIT 10""",
    "q57_knn_join" ->
      s"""WITH qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM $EmbPq WHERE vec_id < 10),
          scored AS (SELECT query_id, vec_id,
              round(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS cos_sim
            FROM $EmbPq, qs WHERE vec_id <> query_id),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
            FROM scored)
          SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rn FROM ranked WHERE rn <= 5
          ORDER BY query_id, rn""",
    "q94_quantize_int8" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
          s AS (SELECT vec_id, e,
            greatest(list_max(list_transform(e, x -> abs(x))) / 127.0, 1e-12) AS scale FROM e),
          q AS (SELECT vec_id, e, scale, list_transform(e, x -> floor(x / scale + 0.5)) AS qv FROM s)
          SELECT vec_id, round(scale, 6) AS scale6,
            CAST(list_sum(qv) AS BIGINT) AS qsum,
            CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS qabs,
            round(list_sum(list_transform(generate_series(1, len(e)),
              i -> abs(e[i] - qv[i] * scale))), 6) AS l1_err
          FROM q ORDER BY vec_id""",
    // full replay of the iters=0 IVF path: cents = the 8 lowest
    // vec_ids' vectors, 9-decimal-rounded squared distances for both
    // assignment and probe selection (probe distances are just the
    // d rows of the query vector — sq distance is symmetric), exact
    // search over the 2 probed cells only.
    "q59_ann_ivf" -> oracleQ59,
    // the persisted-index probe must reproduce the replayable inline
    // search exactly — one oracle serves both rows
    "q101_ann_ivf_indexed" -> oracleQ59,
    // SemDeDup replay: the q59 iters=0 quantizer (same cents/assigned
    // CTEs), q55's rounded-cosine pair rule within a cell, exact CC by
    // recursive reachability (the q93 shape), keep = NOT (doc with a
    // smaller-labelled component-mate).
    "q125_semantic_dedup" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
          cents AS (SELECT CAST(vec_id AS INT) AS cell, e AS c FROM e ORDER BY vec_id LIMIT 8),
          d AS (SELECT e.vec_id, cents.cell,
              round(list_sum(list_transform(generate_series(1, 64),
                i -> (e.e[i] - cents.c[i]) * (e.e[i] - cents.c[i]))), 9) AS d
            FROM e CROSS JOIN cents),
          assigned AS (SELECT vec_id, cell FROM (
              SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM d)
            WHERE rn = 1),
          en AS (SELECT e.vec_id, a.cell, e.e FROM e JOIN assigned a USING (vec_id)),
          p AS (SELECT l.vec_id AS a, r.vec_id AS b FROM en l JOIN en r
                ON l.cell = r.cell AND l.vec_id < r.vec_id
                WHERE round(list_cosine_similarity(l.e, r.e), 6) >= 0.4),
          edges AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b AS src, a AS dst FROM p),
          reach(src, dst) AS (
            SELECT src, src AS dst FROM edges
            UNION
            SELECT r.src, edges.dst FROM reach r JOIN edges ON r.dst = edges.src),
          lab AS (SELECT src AS doc, min(dst) AS label FROM reach GROUP BY src)
          SELECT vec_id FROM e
          WHERE vec_id NOT IN (SELECT doc FROM lab WHERE doc <> label)
          ORDER BY vec_id""",
    // q130: q99's auto-LSH pair replay as the candidate CTE, then the
    // same CC + keep-min tail as q125
    "q130_semantic_dedup_lsh" ->
      s"""WITH RECURSIVE p AS (SELECT vec_a AS a, vec_b AS b FROM ($sqlEmbeddingLshPairsAuto)),
          edges AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b AS src, a AS dst FROM p),
          reach(src, dst) AS (
            SELECT src, src AS dst FROM edges
            UNION
            SELECT r.src, edges.dst FROM reach r JOIN edges ON r.dst = edges.src),
          lab AS (SELECT src AS doc, min(dst) AS label FROM reach GROUP BY src)
          SELECT vec_id FROM $EmbPq
          WHERE vec_id NOT IN (SELECT doc FROM lab WHERE doc <> label)
          ORDER BY vec_id""",
    // the contract row for the trained path (see the q96 query comment):
    // the oracle states the expected floor, Spark computes the actual
    // overlap of trained-IVF top-10 vs exact brute-force top-10.
    "q96_ivf_recall" -> "SELECT CAST(10 AS INT) AS k, CAST(1 AS INT) AS recall_ge_80pct",
    // full replay of the iters=0 PQ/ADC path: books = per-subspace
    // subvectors of the 16 lowest vec_ids (kept as full vectors,
    // indexed e[j*8+i] — same arithmetic as the engine's slice), codes
    // by 9-decimal-rounded argmin per (vec, subspace), ADC tables =
    // the query row's own d values, final distance = the 8 table hits
    // summed in subspace order (list_sum over an ORDER BY j list — the
    // engine's left fold) then rounded to 6.
    "q105_ann_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
          b AS (SELECT CAST(vec_id AS INT) AS code, e AS c
            FROM (SELECT vec_id, e FROM e ORDER BY vec_id LIMIT 16)),
          books AS (SELECT j, code, c FROM b, unnest(generate_series(0, 7)) AS u(j)),
          d AS (SELECT e.vec_id, bk.j, bk.code,
              round(list_sum(list_transform(generate_series(1, 8),
                i -> (e.e[bk.j*8+i] - bk.c[bk.j*8+i]) * (e.e[bk.j*8+i] - bk.c[bk.j*8+i]))), 9) AS d
            FROM e CROSS JOIN books bk),
          codes AS (SELECT vec_id, j, code FROM (
              SELECT vec_id, j, code, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
              FROM d)
            WHERE rn = 1),
          tab AS (SELECT j, code, d AS t FROM d WHERE vec_id = 0),
          adc AS (SELECT c.vec_id, round(list_sum(list(t.t ORDER BY c.j)), 6) AS adc_dist
            FROM codes c JOIN tab t ON t.j = c.j AND t.code = c.code
            WHERE c.vec_id <> 0 GROUP BY c.vec_id)
          SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10""",
    // contract row for the trained-PQ path (see the q106 query comment)
    "q106_pq_recall" -> "SELECT CAST(10 AS INT) AS k, CAST(1 AS INT) AS recall_ge_50pct",
    // contract row for the trained IVF-PQ path (see the q107 comment)
    "q107_ivfpq_recall" -> "SELECT CAST(10 AS INT) AS k, CAST(1 AS INT) AS recall_ge_50pct",
    "q58_ann_lsh_bucket" ->
      s"""WITH pw AS (SELECT p, d,
            (((('0x' || substr(md5('plane_' || p || '_' || d), 1, 8))::BIGINT) % 2001 - 1000))::DOUBLE / 1000.0 AS w
            FROM unnest(generate_series(0, 7)) AS tp(p), unnest(generate_series(0, 63)) AS td(d)),
          e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $EmbPq),
          proj AS (SELECT vec_id, p, sum(e.e[d + 1] * pw.w) AS proj
            FROM e CROSS JOIN pw GROUP BY 1, 2)
          SELECT vec_id, CAST(sum(CASE WHEN round(proj, 9) > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
          FROM proj GROUP BY vec_id ORDER BY vec_id""")
}
