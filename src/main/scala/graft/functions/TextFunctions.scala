package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** THE corpus tokenizer — one definition for the whole engine, in the
  * three shapes the operators need. All three compute the same token
  * multiset (lowercase, split on [[Tokenize.Pattern]], drop empties),
  * so retargeting the engine at a real corpus (unicode word breaks,
  * punctuation stripping) means editing THIS object, not ~20 call
  * sites across dedup/curation/retrieval.
  *
  *  - [[Tokenize.arr]]      — array Column, for in-row shingling
  *  - [[Tokenize.exploded]] — (id, token) rows via explode-then-filter,
  *    the codegen-friendly corpus shape (a higher-order `filter` before
  *    `explode` drops out of whole-stage codegen, ~5× slower)
  *  - [[Tokenize.closure]]  — JVM-side twin for typed `mapPartitions`
  *    kernels (FastSS, winnowing) — MUST stay value-equal to the
  *    Column forms or closure-built signatures stop matching their
  *    SQL-built oracles
  *
  * Mirrors the reference's idiom (`/root/reference/examples/wc.py:12`).
  * DuckDB rendering: `graft.queries.Q.SqlTok`.
  */
object Tokenize {
  import org.apache.spark.sql.DataFrame

  /** The split pattern (Spark `split` regex / `String.split` regex —
    * a single space, the reference's convention; testdata text is
    * single-space separated).
    */
  val Pattern = " "

  /** Lowercased token array, empties dropped. */
  def arr(text: Column): Column =
    filter(split(lower(text), Pattern), t => t =!= "")

  /** (id, token) rows — explode-then-filter so tokenization stays
    * inside whole-stage codegen. `id` may be aliased (`col(x).as("y")`).
    */
  def exploded(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id, explode(split(lower(text), Pattern)).as("token"))
      .filter(col("token") =!= "")

  /** Closure twin of [[arr]] for typed kernels. Locale.ROOT so JVM
    * default-locale casing (e.g. Turkish dotless-i) can never diverge
    * from SQL `lower`.
    */
  def closure(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split(Pattern).filter(_.nonEmpty)
}

/** Text-analysis column functions for training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting. All are
  * pure `Column` expressions (codegen'd, no UDFs) and use only
  * engine-portable primitives (md5, regexp, array ops) so every one of
  * them has an exact DuckDB-oracle rendering.
  *
  * At 100 TB these run as map-side expressions inside whole-stage
  * codegen — no shuffle, no driver involvement.
  */
object TextFunctions {

  /** Lowercased whitespace tokens, empties dropped. */
  def tokenize(text: Column): Column = Tokenize.arr(text)

  /** The 31-bit md5-derived base hash shared by every
    * hashing operator (minhash, simhash, LSH, winnowing) AND their
    * DuckDB oracles: `('0x' || substr(md5(x),1,8))::BIGINT % 2147483647`.
    * ONE definition — oracle parity depends on every caller using the
    * same bits.
    */
  def h31(c: Column): Column =
    pmod(graft.plans.Md5Prefix32.md5prefix32(c), lit(2147483647L))

  /** Consecutive n-word shingles of a token array: standard MinHash
    * input (Broder 1997). `transform(sequence(...))` keeps it inside
    * codegen. Documents shorter than n tokens yield an empty array:
    * without the guard, `sequence(1, size-n+1)` turns descending and
    * `element_at(toks, 0)` throws under ANSI 1-based indexing.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(typedLit(Seq.empty[String]))

  /** BPE-ish regex pieces: alphanumeric runs OR single non-alnum
    * non-space characters — the pre-tokenization split BPE vocabularies
    * are trained over (GPT-2-style, simplified to an engine-portable
    * character-class pattern). Punctuation becomes its own piece, so
    * piece counts approximate subword token counts far better than
    * whitespace words on punctuation-heavy text.
    */
  val BpePiecePattern = "[a-z0-9]+|[^a-z0-9\\s]"
  def bpePieces(text: Column): Column =
    regexp_extract_all(lower(text), lit(BpePiecePattern), lit(0))

  /** Marker-word language ID: score each language by stopword hits and
    * take the deterministic argmax (ties resolved by the fixed language
    * order). A real n-gram model would plug in the same shape — this is
    * the portable heuristic variant.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "los", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "de" -> Seq("der", "die", "und", "das", "mit", "ein"),
    "zh" -> Seq("de", "le", "he", "shi", "zai", "wo"))

  def langScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(m => m: Any): _*)))

  def langId(text: Column): Column = {
    val toks = tokenize(text)
    val scores = langMarkers.map { case (lang, ms) => lang -> langScore(toks, ms) }
    // argmax with fixed-order tie-break: first language whose score
    // equals the overall max.
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, sc), els) =>
      when(sc === maxScore && maxScore > 0, lit(lang)).otherwise(els)
    }
  }

  /** Quality score in [0,1]: length saturation, alphanumeric purity,
    * stopword presence — the length/punct/stopword-ratio family used by
    * web-corpus quality filters (C4/Gopher-style rules).
    */
  def qualityScore(text: Column): Column = {
    val toks = tokenize(text)
    val nTok = size(toks).cast("double")
    val lenScore = least(nTok / 50.0, lit(1.0))
    val lower_ = lower(text)
    // clean-char count via the CleanAlnumLen codegen kernel — equals
    // length(regexp_replace(lower_, "[^a-z0-9 ]", "")) (the oracle's
    // spelling) at a fraction of the regex cost; see plans/CleanLen.scala
    val cleanLen = graft.plans.CleanAlnumLen.cleanLen(lower_)
    val punctRatio = (length(lower_) - cleanLen).cast("double") / greatest(length(lower_), lit(1)).cast("double")
    val stopRatio = langScore(toks, langMarkers.flatMap(_._2).distinct).cast("double") / greatest(nTok, lit(1.0))
    round(lit(0.4) * lenScore + lit(0.4) * (lit(1.0) - punctRatio) + lit(0.2) * least(stopRatio * 5.0, lit(1.0)), 6)
  }

  /** Per-doc token aggregates via explode + codegen'd conditional sums
    * — the fast path for corpus-wide scoring. The higher-order
    * `filter`/`aggregate` lambdas in [[langScore]]/[[qualityScore]] are
    * interpreted per element; over a corpus this aggregation computes
    * the same counts inside whole-stage codegen with one shuffle on
    * doc_id. Docs with zero tokens are absent — left-join + coalesce 0.
    *
    * Columns: n_tok, n_uniq, sum_tok_len, n_stop, s_<lang> per language.
    */
  def tokenAggregates(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = Tokenize.exploded(docs, col(idCol), col(textCol))
    val allMarkers = langMarkers.flatMap(_._2).distinct
    val rest = Seq(
      countDistinct(col("token")).as("n_uniq"),
      sum(length(col("token"))).as("sum_tok_len"),
      sum(when(col("token").isin(allMarkers.map(m => m: Any): _*), 1L).otherwise(0L)).as("n_stop")) ++
      langMarkers.map { case (lang, ms) =>
        sum(when(col("token").isin(ms.map(m => m: Any): _*), 1L).otherwise(0L)).as(s"s_$lang")
      }
    tok.groupBy(col(idCol)).agg(count(lit(1)).as("n_tok"), rest: _*)
  }

  /** Language argmax from precomputed s_<lang> columns — same
    * first-wins tie-break as [[langId]].
    */
  def langIdFromScores: Column = {
    val scores = langMarkers.map { case (lang, _) => lang -> coalesce(col(s"s_$lang"), lit(0L)) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, sc), els) =>
      when(sc === maxScore && maxScore > 0, lit(lang)).otherwise(els)
    }
  }

  /** Quality score from precomputed aggregates + the raw text column —
    * identical arithmetic to [[qualityScore]] (same operand order), so
    * results are bit-equal.
    */
  def qualityFromScores(text: Column): Column = {
    val nTok = coalesce(col("n_tok"), lit(0L)).cast("double")
    val lenScore = least(nTok / 50.0, lit(1.0))
    val lower_ = lower(text)
    val cleanLen = graft.plans.CleanAlnumLen.cleanLen(lower_)
    val punctRatio = (length(lower_) - cleanLen).cast("double") / greatest(length(lower_), lit(1)).cast("double")
    val stopRatio = coalesce(col("n_stop"), lit(0L)).cast("double") / greatest(nTok, lit(1.0))
    round(lit(0.4) * lenScore + lit(0.4) * (lit(1.0) - punctRatio) + lit(0.2) * least(stopRatio * 5.0, lit(1.0)), 6)
  }

  /** Winnowed k-gram fingerprint set (Schleimer et al. 2003 — the MOSS
    * rolling-hash document fingerprint): the minimum 31-bit k-gram hash
    * within each sliding window of `w` consecutive k-grams, deduped and
    * sorted. Guarantees any shared token run of length >= w + k - 1
    * yields at least one shared fingerprint, while keeping ~1/w of the
    * k-gram hashes. Pure Column expressions (codegen'd, md5-derived
    * hashing shared with the dedup oracles); docs with fewer than `w`
    * k-grams fall back to their full distinct hash set.
    */
  def winnowedFingerprints(toks: Column, k: Int, w: Int): Column = {
    val hs = transform(shingles(toks, k), s => h31(s))
    when(size(hs) >= w,
      array_sort(array_distinct(transform(sequence(lit(1), size(hs) - (w - 1)),
        i => array_min(slice(hs, i, lit(w)))))))
      .otherwise(array_sort(array_distinct(hs)))
  }

  /** Corpus-scale form of [[winnowedFingerprints]]: (doc_id, fps) for
    * every document with at least `k` tokens, computed as a typed map
    * with an O(n) monotonic-deque sliding minimum. Identical values to
    * the Column form (same shingles, same md5-derived 31-bit hash, same
    * winnow semantics — equality is pinned in OperatorsSpec), but ~100x
    * faster per document: the Column form's nested higher-order lambdas
    * (transform over sequence, array_min over slice) are interpreted
    * per ELEMENT and re-slice per window — ~13 ms/doc measured in the
    * materialize-mode soak, which is what 100 TB cannot afford.
    */
  def winnowedFingerprintSets(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val p = graft.operators.Dedup.P
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        val tk = Tokenize.closure(text)
        if (tk.length < k) Iterator.empty
        else {
          val hs = tk.sliding(k).map { s =>
            graft.plans.Md5Hash.hash(
              org.apache.spark.unsafe.types.UTF8String.fromString(s.mkString(" "))) % p
          }.toArray
          val fps =
            if (hs.length < w) hs.distinct.sorted
            else {
              // monotonic deque: indices of increasing hash values
              val out = scala.collection.mutable.ArrayBuffer[Long]()
              val dq = new java.util.ArrayDeque[Int]()
              var i = 0
              while (i < hs.length) {
                while (!dq.isEmpty && hs(dq.peekLast) >= hs(i)) dq.pollLast()
                dq.addLast(i)
                if (dq.peekFirst <= i - w) dq.pollFirst()
                if (i >= w - 1) out += hs(dq.peekFirst)
                i += 1
              }
              out.distinct.sorted.toArray
            }
          Iterator((id, fps))
        }
      }
      .toDF("doc_id", "fps")
  }

  /** Normalization for fingerprinting: lowercase, collapse whitespace,
    * trim.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), " +", " "))

  /** Document fingerprint: md5 of the normalized text. Exact-dedup key
    * that survives whitespace/case noise.
    */
  def fingerprint(text: Column): Column = md5(normalized(text))
}
