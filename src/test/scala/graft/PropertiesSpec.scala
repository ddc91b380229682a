package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Dedup

/** Property tests for the algebraic laws the engine relies on
  * (SURVEY.md §5: the reference only spot-checks these; we state them
  * as laws). Raw ScalaCheck generators with a deterministic sampler
  * (scalatestplus bridge isn't in the offline cache).
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministically sample `n` values from a generator. */
  def samples[A](gen: Gen[A], n: Int = 5): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default.withSize(30), Seed(42L + i)))

  val intsGen: Gen[List[Int]] = Gen.listOf(Gen.chooseNum(-100, 100))
  val kvGen: Gen[List[(Int, Int)]] = Gen.listOf(Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 50)))

  test("law: fused map chain ≡ unfused (Catalyst fusion is semantics-preserving)") {
    for (xs <- samples(intsGen)) {
      val fused = Pipe.memory(spark, xs).map(_ + 1).map(_ * 2).filter(_ % 3 != 0).collect().sorted
      assert(fused.toList === xs.map(_ + 1).map(_ * 2).filter(_ % 3 != 0).sorted)
    }
  }

  test("law: combiner-backed fold ≡ general reduce for associative ops") {
    for (xs <- samples(intsGen) if xs.nonEmpty) {
      val p = Pipe.memory(spark, xs)
      val folded = p.foldBy(math.abs(_) % 3)(_ + _).collect().toMap
      val reduced = p.groupBy(math.abs(_) % 3).reduce((k, it) => (k, it.sum)).collect().toMap
      assert(folded === reduced)
    }
  }

  test("law: in-mapper combined foldBy / aGroupBy.fold / first ≡ groupByKey.reduceGroups, both sides of the combiner bound") {
    // The form fold lowered to before the combiner, inlined. Keys
    // include null; 16 partitions leave most of them empty.
    type R = (String, Int)
    val key = (r: R) => r._1
    val sum = (a: R, b: R) => (a._1, a._2 + b._2)
    val firstOf = (a: R, _: R) => a
    // associative, NOT commutative: values carry "partition:index;" tags
    val cat = (a: (String, String), b: (String, String)) => (a._1, a._2 + b._2)
    def bag[A](xs: Seq[A]): Map[A, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)
    val rowsGen = Gen.listOf(Gen.zip(
      Gen.option(Gen.chooseNum(0, 6)).map(_.map(i => s"k$i").orNull), Gen.chooseNum(-50, 50)))
    val bounds = Seq(Some(1), Some(2), None)
    for (xs <- samples(rowsGen); parts <- Seq(1, 3, 16)) {
      val p = Pipe.memory(spark, xs, parts)
      val sums = bag(p.ds.groupByKey(key).reduceGroups(sum).collect().toSeq)
      for (b <- bounds) assert(bag(p.groupBy(key).fold(sum, b).collect().toSeq) === sums, s"bound $b")
      assert(bag(p.foldBy(key)(sum).collect().toSeq) === sums)
      assert(bag(p.aGroupBy(key).fold(sum).collect().toSeq) === sums)

      // first: some value of the key; with one partition the first in
      // input order, as the old form gives
      val oldFirst = p.ds.groupByKey(key).reduceGroups(firstOf).collect().toSeq
      val byKey = xs.groupBy(_._1)
      for (got <- bounds.map(b => p.groupBy(key).fold(firstOf, b).collect().toSeq) :+
             p.aGroupBy(key).first().collect().toSeq) {
        assert(got.map(_._1).toSet === byKey.keySet)
        assert(got.forall { case (k, r) => byKey(k).contains(r) })
        if (parts == 1) assert(bag(got) === bag(oldFirst))
      }

      val tagged = p.partitionMap { it =>
        val part = org.apache.spark.TaskContext.getPartitionId()
        it.zipWithIndex.map { case ((k, _), i) => (k, s"$part:$i;") }
      }
      val oldCat = tagged.ds.groupByKey(_._1).reduceGroups(cat).collect().toSeq
      def tags(s: String): Seq[(Int, Int)] =
        s.split(";").toSeq.filter(_.nonEmpty).map(_.split(":") match { case Array(a, b) => (a.toInt, b.toInt) })
      for (got <- bounds.map(b => tagged.groupBy(_._1).fold(cat, b).collect().toSeq) :+
             tagged.foldBy(_._1)(cat).collect().toSeq) {
        assert(bag(got.map { case (k, (_, s)) => (k, bag(tags(s))) }) ===
          bag(oldCat.map { case (k, (_, s)) => (k, bag(tags(s))) }))
        // within one partition each key's values fold in input order
        for ((_, (_, s)) <- got; (_, idx) <- tags(s).groupBy(_._1))
          assert(idx.map(_._2) === idx.map(_._2).sorted, s)
        if (parts == 1) assert(bag(got) === bag(oldCat))
      }
    }
  }

  test("InMapperCombiner flushes at a forced bound and combines fully under the derived one") {
    type R = (String, Int)
    val sum = (a: R, b: R) => (a._1, a._2 + b._2)
    val rows = Seq(("a", 1), ("a", 3), ("b", 2), (null, 4), (null, 6), ("a", 5))
    def run(bound: Option[Int], in: Iterator[R] = rows.iterator) =
      new InMapperCombiner[String, R](in, _._1, sum, bound).toList
    // bound 1: every row is its own partial; bound 2: flush at the second key
    assert(run(Some(1)) === rows.map(r => (r._1, r)))
    assert(run(Some(2)).sortBy(_.toString) ===
      List(("a", ("a", 4)), ("b", ("b", 2)), (null, (null, 10)), ("a", ("a", 5))).sortBy(_.toString))
    assert(run(None).toMap === Map("a" -> ("a", 9), "b" -> ("b", 2), (null: String) -> (null, 10)))
    // past the first size samples, 100 keys still fit the heap budget
    val many = run(None, Iterator.tabulate(10000)(i => (s"k${i % 100}", 1)))
    assert(many.size === 100 && many.forall(_._2._2 == 100))
  }

  test("law: cogroup inner join ≡ driver-side group + intersect") {
    for ((ls, rs) <- samples(Gen.zip(kvGen, kvGen))) {
      val cogrouped = Pipe.memory(spark, ls).joinOn(Pipe.memory(spark, rs))(_._1, _._1)
        .reduce((k, lit, rit) => (k, lit.map(_._2).sum * rit.map(_._2).sum))
        .collect().toMap
      val lm = ls.groupBy(_._1); val rm = rs.groupBy(_._1)
      val expected = (lm.keySet intersect rm.keySet)
        .map(k => k -> lm(k).map(_._2).sum * rm(k).map(_._2).sum).toMap
      assert(cogrouped === expected)
    }
  }

  test("law: Tokenize closure ≡ Column array ≡ exploded rows (any text)") {
    // The three shapes of the one tokenizer definition MUST stay
    // value-equal (functions/TextFunctions.scala scaladoc): closure-
    // built signatures (shingles, FastSS, winnowing) are graded against
    // SQL-built oracles, so a divergence breaks hash parity silently.
    // Texts mix case, repeated/leading/trailing spaces, punctuation,
    // accented latin and CJK.
    val word = Gen.oneOf(Gen.alphaNumStr, Gen.oneOf("Héllo", "ñu", "täst", "中文", "a.b,c!", "X", ""))
    val textGen = Gen.listOf(Gen.oneOf(word, Gen.const(" "), Gen.const("  ")))
      .map(_.mkString(" "))
    for (texts <- Seq(samples(Gen.listOfN(20, textGen), 3).flatten)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val viaClosure = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> graft.functions.Tokenize.closure(t).toSeq }.toMap
      val viaArr = df.select($"id", graft.functions.Tokenize.arr($"text").as("tk"))
        .as[(Long, Seq[String])].collect().toMap
      val viaExploded = graft.functions.Tokenize.exploded(df, $"id", $"text")
        .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      assert(viaArr === viaClosure)
      // exploded drops empty-token docs entirely (no rows) — compare non-empties
      assert(viaExploded === viaClosure.filter(_._2.nonEmpty))
    }
  }

  test("law: minhash signatures are partitioning-invariant") {
    for (words <- samples(Gen.listOfN(6, Gen.alphaLowerStr.suchThat(_.nonEmpty)), 3)) {
      val text = (words ++ words ++ words).mkString(" ")
      val a = Dedup.minhashSignatures(Seq((0L, text)).toDF("doc_id", "text"), "doc_id", "text")
        .collect().head.toSeq
      val b = Dedup.minhashSignatures(
          Seq((0L, text)).toDF("doc_id", "text").repartition(7), "doc_id", "text")
        .collect().head.toSeq
      assert(a === b)
    }
  }

  test("law: HyperplaneKernel.roundPos9 ≡ Spark's round(x, 9) > 0 on adversarial borderline doubles") {
    // Spark's Round on DoubleType evaluates
    // BigDecimal(x).setScale(9, HALF_UP).toDouble (decimal-string
    // semantics); the kernel's fast path only decides |x| outside the
    // (0, 1e-8] band, so the law must hold ON that band — grid the
    // half-up boundary at 5e-10 plus random magnitudes across it
    val boundary = (0 to 40).map(k => k * 2.5e-11) ++
      Seq(4.9999999e-10, 5.0000001e-10, 1e-9, 9.99e-9, 1.0000001e-8, -5e-10, -1e-12)
    val random = samples(Gen.chooseNum(-2e-8, 2e-8), 50)
    for (x <- boundary ++ random) {
      val spark9 = scala.math.BigDecimal(x)
        .setScale(9, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble > 0
      assert(graft.plans.HyperplaneKernel.roundPos9(x) === spark9,
        s"roundPos9 disagrees with Spark round semantics at x=$x")
    }
  }

  test("law: union length adds; distinct is idempotent") {
    for ((xs, ys) <- samples(Gen.zip(intsGen, intsGen))) {
      val px = Pipe.memory(spark, xs); val py = Pipe.memory(spark, ys)
      assert(px.union(py).len() === xs.length + ys.length)
      val d = px.distinct()
      assert(d.collect().sorted.toList === xs.distinct.sorted)
      assert(d.distinct().len() === d.len())
    }
  }

  test("law: meanBy equals arithmetic mean") {
    for (xs <- samples(Gen.nonEmptyListOf(Gen.chooseNum(-1000, 1000)), 4) if xs.nonEmpty) {
      val out = Pipe.memory(spark, xs).meanBy(_ => 0)(_.toDouble).collect().head._2
      assert(math.abs(out - xs.map(_.toDouble).sum / xs.length) < 1e-9)
    }
  }

  test("law: labelPropagate(k) ≡ min node id within graph distance k (BFS reference)") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOf(Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0L, 11L)))
        .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct)
    for (edges <- samples(edgeGen, 6) if edges.nonEmpty) {
      val pairs = edges.toDF("doc_a", "doc_b")
      val got = Dedup.labelPropagate(pairs, 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: per node, min id reachable within <= 3 undirected hops
      val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map { n =>
        var frontier = Set(n); var seen = Set(n)
        for (_ <- 1 to 3) {
          frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen
          seen ++= frontier
        }
        n -> seen.min
      }.toMap
      assert(got === want, s"edges=$edges")
    }
  }

  test("law: connectedComponents ≡ union-find component minimum (any graph shape)") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOf(Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
        .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct)
    // force the DISTRIBUTED alternating-star path — the default would
    // route these tiny graphs to the driver fast path, which IS
    // union-find and would make the law compare it to itself
    spark.conf.set("graft.cc.localMaxEdges", "0")
    try for (edges <- samples(edgeGen, 5) if edges.nonEmpty) {
      val pairs = edges.toDF("doc_a", "doc_b")
      val got = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges) parent(find(a)) = find(b)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val minOfRoot = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
      val want = nodes.map(n => n -> minOfRoot(find(n))).toMap
      assert(got === want, s"edges=$edges")
      graft.GraftCache.releaseAll()
    } finally spark.conf.unset("graft.cc.localMaxEdges")
  }

  test("law: TsvTap escape/unescape round-trips any string") {
    val sGen: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('\t', '\n', '\r', '\\', ' ', 'N'))).map(_.mkString)
    import graft.sources.TsvTap
    for (s <- samples(sGen, 30)) {
      assert(TsvTap.unescape(TsvTap.escape(s)) === s)
      // escaped cells can never smuggle a field or row separator
      assert(!TsvTap.escape(s).contains('\t') && !TsvTap.escape(s).contains('\n'))
    }
  }

  test("law: zorder2 is a bijection on the bits-bounded grid") {
    import org.apache.spark.sql.functions._
    val bits = 5
    val grid = (0L until (1L << bits)).flatMap(x => (0L until (1L << bits)).map(y => (x, y)))
    val zs = grid.toDF("x", "y")
      .select(graft.operators.Layout.zorder2(col("x"), col("y"), bits).as("z"))
      .collect().map(_.getLong(0))
    assert(zs.distinct.length === grid.length)        // injective
    assert(zs.min === 0L && zs.max === (1L << (2 * bits)) - 1) // onto the 2^(2b) range
  }

  test("MeanAggregator registers as a SQL UDAF (udaf() path)") {
    import org.apache.spark.sql.functions.udaf
    spark.udf.register("graft_mean", udaf(new MeanAggregator[Double](identity)))
    Seq(1.0, 2.0, 6.0).toDF("v").createOrReplaceTempView("_pv")
    val got = spark.sql("SELECT graft_mean(v) FROM _pv").collect().head.getDouble(0)
    assert(got === 3.0)
  }

  test("law: heavyHitters ≡ exact threshold count for any corpus/threshold/grid") {
    // the sketch prefilter must be RESULT-invisible: est >= exact means
    // no true heavy hitter is dropped, and the exact recount removes
    // every collision-inflated light key — for any key skew and any
    // (d, w), including w small enough to force heavy collisions
    val corpusGen = Gen.listOf(Gen.chooseNum(0, 20).map(i => s"k$i"))
    for ((keys, i) <- samples(corpusGen, 6).zipWithIndex if keys.nonEmpty) {
      val t = 1L + i % 4
      val (d, w) = (1 + i % 3, Seq(4, 8, 64)(i % 3))
      val exact = keys.groupBy(identity).collect {
        case (k, v) if v.size >= t => k -> v.size.toLong
      }.toMap
      val got = graft.operators.Sketch.heavyHitters(
        keys.toDF("k"), "k", t, d, w)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(got === exact, s"threshold=$t d=$d w=$w corpus=${keys.take(20)}")
    }
  }

  test("law: skipgramPairs total = 2*(w*L - w(w+1)/2) for one length-L sequence") {
    import org.apache.spark.sql.functions._
    val toks = Gen.chooseNum(3, 12).flatMap(l =>
      Gen.listOfN(l, Gen.alphaLowerChar.map(_.toString)))
    for ((ts, i) <- samples(toks, 6).zipWithIndex if ts.nonEmpty) {
      val w = 1 + i % 3
      val l = ts.length
      val total = graft.operators.Sequence.skipgramPairs(
          Seq((1L, ts)).toDF("sid", "toks"), col("sid"), col("toks"), w)
        .agg(coalesce(sum(col("n")), lit(0L))).head.getLong(0)
      // each ordered pair within distance <= w counted once: for every
      // d in 1..min(w, l-1) there are (l-d) pairs, both directions
      val expect = 2L * (1 to math.min(w, l - 1)).map(d => l - d).sum
      assert(total === expect, s"w=$w L=$l toks=$ts")
      graft.GraftCache.releaseAll()
    }
  }

  test("law: completeness partitions the span (present + missing = span) and bounds the gap run") {
    import org.apache.spark.sql.functions._
    val dayGen = Gen.nonEmptyListOf(Gen.chooseNum(0, 40))
    for (ds <- samples(dayGen, 6)) {
      val dates = ds.distinct.map(d =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000L + d)))
      val r = graft.operators.Quality.completeness(dates.toDF("d"), col("d"))
        .collect().head
      val (span, present, missing, maxRun) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(present + missing === span)
      assert(present === dates.size.toLong)
      assert(maxRun <= missing && (missing == 0L) == (maxRun == 0L))
      // independent max-run computation on the driver
      val s = ds.distinct.sorted
      val gaps = s.sliding(2).collect { case Seq(a, b) => b - a - 1 }.toSeq
      assert(maxRun === (if (gaps.isEmpty) 0L else gaps.max.toLong))
      graft.GraftCache.releaseAll()
    }
  }

  test("law: recallAtMicro is monotone in J and bands, antitone in rows; geometry meets its contract") {
    import graft.operators.Dedup
    val caseGen = for {
      r <- Gen.chooseNum(1, 12)
      b <- Gen.chooseNum(1, 32)
      j1 <- Gen.chooseNum(0L, 1000000L)
      j2 <- Gen.chooseNum(0L, 1000000L)
    } yield (r, b, math.min(j1, j2), math.max(j1, j2))
    for ((r, b, jLo, jHi) <- samples(caseGen, 40)) {
      assert(Dedup.recallAtMicro(r, b, jLo) <= Dedup.recallAtMicro(r, b, jHi),
        s"J-monotone broke at ($r, $b, $jLo, $jHi)")
      assert(Dedup.recallAtMicro(r, b + 1, jHi) >= Dedup.recallAtMicro(r, b, jHi),
        s"band-monotone broke at ($r, $b, $jHi)")
      assert(Dedup.recallAtMicro(r + 1, b, jHi) <= Dedup.recallAtMicro(r, b, jHi),
        s"row-antitone broke at ($r, $b, $jHi)")
    }
    // any feasible contract's chosen geometry satisfies both bounds
    val contractGen = for {
      th <- Gen.chooseNum(400000L, 900000L)
      target <- Gen.chooseNum(500000L, 990000L)
    } yield (th, target)
    for ((th, target) <- samples(contractGen, 10)) {
      try {
        val (r, b) = Dedup.minhashGeometryFor(th, target)
        assert(Dedup.recallAtMicro(r, b, th) >= target)
        assert(Dedup.recallAtMicro(r, b, 100000L) <= 10000L)
      } catch { case _: IllegalArgumentException => () } // infeasible: refusal is the contract
    }
  }
}
