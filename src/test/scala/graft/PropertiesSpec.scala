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

  test("law: kmeansInt's one-job fold rounds ≡ the posexplode/groupBy rounds (ties, negatives, empty cells, any partitioning)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    // kmeansInt before the fold, inlined: same seeds and assignment
    // expression, centroids from a (cell, pos) sum + count per round.
    // Output (cell, n, centroid_sum) like kmeansInt's, from its inner
    // join of final counts with centroids.
    def oldKmeans(emb: DataFrame, k: Int, iters: Int): Set[(Int, Int, Long)] = {
      val qv = emb.select(col("vec_id"), Similarity.quantizeMicro(col("embedding")).as("q"))
      var cents: Seq[(Int, Seq[Long])] = qv.orderBy(col("vec_id")).limit(k).collect()
        .zipWithIndex.map { case (r, i) => i -> r.getSeq[Long](1) }.toSeq
      def assigned(cs: Seq[(Int, Seq[Long])]): DataFrame = {
        val dists = cs.map { case (cell, c) =>
          struct(aggregate(zip_with(col("q"), array(c.map(lit): _*), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("d"), lit(cell).as("cell"))
        }
        qv.select(col("vec_id"), col("q"),
          (if (dists.size == 1) dists.head else least(dists: _*)).getField("cell").as("cell"))
      }
      for (_ <- 1 to iters) {
        val sums = assigned(cents).select(col("cell"), posexplode(col("q")).as(Seq("pos", "v")))
          .groupBy(col("cell"), col("pos"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .collect()
        cents = sums.groupBy(_.getAs[Int]("cell")).map { case (cell, rows) =>
          cell -> rows.sortBy(_.getAs[Int]("pos"))
            .map(r => Math.floorDiv(r.getAs[Long]("s"), r.getAs[Long]("n"))).toSeq
        }.toSeq.sortBy(_._1)
      }
      val n = assigned(cents).groupBy(col("cell")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1).toInt).toMap
      cents.flatMap { case (cell, c) => n.get(cell).map(m => (cell, m, c.sum)) }.toSet
    }
    // a small pool of 3-d vectors (components j/7, negatives included)
    // drawn with repeats: duplicates make exact distance ties and leave
    // seeded cells empty when k exceeds the distinct count
    val caseGen = for {
      pool <- Gen.nonEmptyListOf(Gen.listOfN(3, Gen.chooseNum(-10, 10).map(_ / 7.0f))).map(_.take(5))
      picks <- Gen.nonEmptyListOf(Gen.chooseNum(0, pool.size - 1)).map(_.take(24))
    } yield (pool.size, picks.map(pool(_)))
    // hand-made exact tie: (1, 0) sits halfway between seeds (0, 0) and (2, 0)
    val tie = (3, List(List(0f, 0f), List(2f, 0f), List(1f, 0f), List(-1f, 0f), List(3f, 0f)))
    for ((distinct, vecs) <- samples(caseGen, 4) :+ tie; parts <- Seq(1, 3, 16)) {
      val emb = spark.sparkContext.parallelize(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }, parts)
        .toDF("vec_id", "embedding")
      for (k <- Seq(2, distinct + 2); iters <- Seq(0, 1, 3)) {
        val got = Similarity.kmeansInt(emb, k, iters).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
        assert(got === oldKmeans(emb, k, iters), s"k=$k iters=$iters parts=$parts vecs=$vecs")
        assert(got.toSeq.map(_._2).sum === vecs.size)
        graft.GraftCache.releaseAll()
      }
    }
  }

  test("kmeansInt runs exactly one job per Lloyd round and guards its input by vec_id") {
    import graft.operators.Similarity
    val emb = spark.sparkContext.parallelize(
      (0 until 40).map(i => (i.toLong, Seq(i % 5 - 2f, i % 3 * 0.5f, -i / 7f))), 3).toDF("vec_id", "embedding")
    def buildJobs(iters: Int): Int = {
      val n = jobsIn(spark)(Similarity.kmeansInt(emb, k = 4, iters = iters))
      graft.GraftCache.releaseAll()
      n
    }
    val base = buildJobs(0)
    assert(buildJobs(1) === base + 1)
    assert(buildJobs(3) === base + 3)

    def failure(body: => Any): String = {
      val e = intercept[Exception](body)
      graft.GraftCache.releaseAll()
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    }
    assert(failure(Similarity.kmeansInt(emb, k = 0, iters = 1)).contains("k >= 1"))
    assert(failure(Similarity.kmeansInt(emb.filter("vec_id < 0"), k = 2, iters = 1)).contains("empty input"))
    val ragged = Seq((0L, Seq(1f, 2f)), (1L, Seq(3f, 4f)), (7L, Seq(5f))).toDF("vec_id", "embedding")
    val holed = Seq((0L, Seq(Some(1f), Some(2f))), (1L, Seq(Some(3f), Some(4f))), (7L, Seq(Some(5f), None)))
      .toDF("vec_id", "embedding")
    val nulled = Seq((0L, Some(Seq(1f, 2f))), (1L, Some(Seq(3f, 4f))), (7L, None)).toDF("vec_id", "embedding")
    for (bad <- Seq(ragged, holed, nulled); iters <- Seq(0, 1)) {
      // rounds fail in the fold; with no rounds, the final scan fails
      val msg = failure(Similarity.kmeansInt(bad, k = 2, iters = iters).collect())
      assert(msg.contains("kmeansInt: vec_id=7 has"), msg)
    }
    // a bad seed fails on the driver, before any round
    assert(failure(Similarity.kmeansInt(ragged, k = 3, iters = 1)).contains("vec_id=7 has 1 components"))
  }

  test("Q.tempDir creates a fresh directory per call") {
    val a = graft.queries.Q.tempDir("graft_tmp_q")
    val b = graft.queries.Q.tempDir("graft_tmp_q")
    assert(a !== b)
    for (d <- Seq(a, b)) {
      val p = java.nio.file.Paths.get(d)
      assert(java.nio.file.Files.isDirectory(p) && p.getFileName.toString.startsWith("graft_tmp_q"))
    }
  }

  /** The dedup pair pipelines, index writers and recall audits as they
    * stood before the shared signature aggregate, pair core, blocking
    * and recall tail, inlined so the laws below pin the merged forms.
    */
  private object OldDedup {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.fingerprint
    import graft.plans.SortedIntersectCount.sorted_intersect_count

    def scoredCandidates(cand: DataFrame, sets: DataFrame): DataFrame =
      cand
        .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          sorted_intersect_count(col("hs_a"), col("hs_b")).as("inter"),
          size(col("hs_a")).as("na"), size(col("hs_b")).as("nb"))

    def verifyCandidatesWithSets(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
      scoredCandidates(cand, sets)
        .select(col("doc_a"), col("doc_b"),
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))
        .filter(col("jaccard") >= threshold)

    def pairsFromHashes(sh: DataFrame, k: Int, bands: Int, threshold: Double): DataFrame = {
      val sigSets = GraftCache.registered(sh.groupBy(col("doc_id"))
        .agg(min(Dedup.permuted(col("h"), 0)).as("mh0"),
          (1 until k).map(i => min(Dedup.permuted(col("h"), i)).as(s"mh$i")) :+
            sort_array(collect_set(col("h").cast("int"))).as("hs"): _*))
      verifyCandidatesWithSets(Dedup.minhashCandidates(sigSets, k, bands),
        sigSets.select(col("doc_id"), col("hs")), threshold)
    }

    /** The MinHash sketch as one aggregate over shingle rows: k grouped
      * mins of family `perm` and the sorted `array<int>` set, as the
      * pair core, the signatures and the index built it before the sets
      * came from the shingling pass.
      */
    def groupedSigSets(sh: DataFrame, k: Int, perm: (Column, Int) => Column): DataFrame =
      sh.groupBy(col("doc_id"))
        .agg(min(perm(col("h"), 0)).as("mh0"),
          (1 until k).map(i => min(perm(col("h"), i)).as(s"mh$i")) :+
            sort_array(collect_set(col("h").cast("int"))).as("hs"): _*)

    def jaccardVerify(sh: DataFrame, cand: DataFrame, threshold: Double): DataFrame =
      verifyCandidatesWithSets(cand,
        sh.groupBy(col("doc_id")).agg(sort_array(collect_set(col("h").cast("int"))).as("hs")), threshold)

    def sigSetsAffine(sh: DataFrame, k: Int): DataFrame =
      sh.groupBy(col("doc_id"))
        .agg(min(Dedup.permutedAffine(col("h"), 0)).as("mh0"),
          (1 until k).map(i => min(Dedup.permutedAffine(col("h"), i)).as(s"mh$i")) :+
            sort_array(collect_set(col("h"))).as("hs"): _*)

    def pairsFromHashesAffine(sh: DataFrame, rows: Int, bands: Int, threshold: Double): DataFrame = {
      val k = rows * bands
      val sigSets = GraftCache.registered(sigSetsAffine(sh, k))
      verifyCandidatesWithSets(Dedup.minhashCandidates(sigSets, k, bands),
        sigSets.select(col("doc_id"), col("hs")), threshold)
    }

    def writeDedupIndex(corpus: DataFrame, idCol: String, textCol: String, path: String,
        k: Int = 8, bands: Int = 2): Unit = {
      val sigSets = GraftCache.registered(
        Dedup.shingleHashes(corpus, idCol, textCol).groupBy(col("doc_id"))
          .agg(min(Dedup.permuted(col("h"), 0)).as("mh0"),
            (1 until k).map(i => min(Dedup.permuted(col("h"), i)).as(s"mh$i")) :+
              sort_array(collect_set(col("h"))).as("hs"): _*))
      corpus.select(fingerprint(col(textCol)).as("fp")).distinct()
        .write.mode("overwrite").parquet(s"$path/fingerprints")
      Dedup.bandKeys(sigSets, k, bands)
        .write.mode("overwrite").parquet(s"$path/bands")
      sigSets.select(col("doc_id"), col("hs"))
        .write.mode("overwrite").parquet(s"$path/sets")
    }

    def writeDedupIndexContract(corpus: DataFrame, idCol: String, textCol: String,
        path: String, threshold: Double = 0.6): Unit = {
      val thresholdMicro = math.round(threshold * 1000000L)
      val (r, b) = Dedup.minhashGeometryFor(thresholdMicro, 900000L)
      val k = r * b
      val sigSets = GraftCache.registered(
        sigSetsAffine(Dedup.shingleHashes(corpus, idCol, textCol), k))
      corpus.select(fingerprint(col(textCol)).as("fp")).distinct()
        .write.mode("overwrite").parquet(s"$path/fingerprints")
      Dedup.bandKeys(sigSets, k, b)
        .write.mode("overwrite").parquet(s"$path/bands")
      sigSets.select(col("doc_id"), col("hs"))
        .write.mode("overwrite").parquet(s"$path/sets")
      Seq((r, b, thresholdMicro))
        .toDF("rows", "bands", "threshold_micro")
        .write.mode("overwrite").parquet(s"$path/_geometry")
    }

    def rareShingleBlocking(sh: DataFrame, maxDf: Int): DataFrame = {
      val rare = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, maxDf))
        .select(col("h"))
      val blocked = sh.join(rare, "h")
      Dedup.requireBoundedBlocks(blocked, Seq(col("h")),
        s"a smaller maxDf (currently $maxDf: rare-shingle blocking saturates when maxDf admits boilerplate shingles)")
      blocked.as("l").join(blocked.as("r"),
          col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct()
    }

    def simhashRecallAudit(docs: DataFrame, idCol: String, textCol: String,
        bits: Int = 32, bands: Int = 4, maxDf: Int = 5,
        maxHammingAudit: Int = 12): DataFrame = {
      val bandBits = bits / bands
      val texts = GraftCache.registered(docs
        .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("txt"))
        .groupBy(col("txt"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("m")))
      val sh = GraftCache.registered(
        Dedup.shingleHashes(texts, "doc_id", "txt").distinct())
      val rare = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, maxDf))
        .select(col("h"))
      val blocked = sh.join(rare, "h")
      Dedup.requireBoundedBlocks(blocked, Seq(col("h")),
        s"a smaller maxDf (currently $maxDf: rare-shingle blocking saturates when maxDf " +
          "admits boilerplate shingles)")
      val cand = GraftCache.registered(
        blocked.as("l").join(blocked.as("r"),
            col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id"))
          .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
          .distinct())
      val sig = GraftCache.registered(
        Dedup.simhash(texts, "doc_id", "txt", bits)
          .join(texts.select(col("doc_id"), col("m")), "doc_id"))
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

    def lshRecallAudit(docs: DataFrame, idCol: String, textCol: String,
        maxDf: Int = 5, k: Int = 8, bands: Int = 2,
        floorMicro: Long = 300000L, affine: Boolean = false): DataFrame = {
      require(affine || k <= Dedup.MinhashA.length)
      val texts = GraftCache.registered(docs
        .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("txt"))
        .groupBy(col("txt"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("mt")))
      val classes = GraftCache.registered(
        Dedup.shingleHashes(texts, "doc_id", "txt").distinct()
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_set(col("h").cast("int"))).as("hs"))
          .join(texts.select(col("doc_id"), col("mt")), "doc_id")
          .groupBy(col("hs"))
          .agg(min(col("doc_id")).as("doc_id"), sum(col("mt")).as("m")))
      val sh = GraftCache.registered(
        classes.select(col("doc_id"), explode(col("hs")).as("h")))
      val rare = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, maxDf))
        .select(col("h"))
      val blocked = sh.join(rare, "h")
      Dedup.requireBoundedBlocks(blocked, Seq(col("h")),
        s"a smaller maxDf (currently $maxDf: rare-shingle blocking saturates when maxDf admits boilerplate shingles)")
      val cand = GraftCache.registered(
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
      val perm: (Column, Int) => Column = if (affine) Dedup.permutedAffine else Dedup.permuted
      val sigs = sh.groupBy(col("doc_id"))
        .agg(min(perm(col("h"), 0)).as("mh0"),
          (1 until k).map(i => min(perm(col("h"), i)).as(s"mh$i")): _*)
      val caught = Dedup.minhashCandidates(sigs, k, bands)
        .withColumn("caught", lit(1L))
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

  /** sf0.001 documents plus near-dup variants (a tail appended) and
    * exact copies, so every pair family and recall bucket is populated.
    */
  private def dedupLawDocs: org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$sf001/documents.parquet").select(col("doc_id"), col("text"))
    base
      .union(base.filter(col("doc_id") < 60)
        .select((col("doc_id") + 10000L).as("doc_id"), concat(col("text"), lit(" and one more tail")).as("text")))
      .union(base.filter(col("doc_id") < 20).select((col("doc_id") + 20000L).as("doc_id"), col("text")))
  }

  /** Replica-heavy corpus: 120 sf0.001 documents at 1–4 copies each,
    * plus a variant of each with its first word dropped.
    */
  private def replicaDocs: org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$sf001/documents.parquet")
      .filter(col("doc_id") < 120).select(col("doc_id"), col("text"))
    (0 until 4).map(c => base.filter(col("doc_id") % 4 >= c)
        .select((col("doc_id") + 1000L * c).as("doc_id"), col("text")))
      .reduce(_ union _)
      .union(base.select((col("doc_id") + 9000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
  }

  test("law: the merged MinHash pair core ≡ the old fixed and affine pair pipelines (both sides of the band cache, 1/3/16 partitions)") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (parts <- Seq(1, 3, 16)) {
      val sh = Dedup.shingleHashes(dedupLawDocs.repartition(parts), "doc_id", "text")
      // the fixed table stops at 8 permutations, so its widest band
      // count is 8 (one row per band), the first that persists bands
      for ((k, bands) <- Seq((8, 2), (8, 8))) {
        val got = rows(Dedup.pairsFromHashes(sh, k, bands, 0.5))
        assert(got === rows(OldDedup.pairsFromHashes(sh, k, bands, 0.5)), s"k=$k bands=$bands parts=$parts")
        assert((0L until 20L).forall(d => got.contains((d, d + 20000L, 1.0))), s"exact copies lost at bands=$bands")
      }
      for ((r, b) <- Seq((4, 2), (3, 10))) {
        val got = rows(Dedup.pairsFromHashes(sh, r * b, b, 0.5, Dedup.permutedAffine))
        assert(got === rows(OldDedup.pairsFromHashesAffine(sh, r, b, 0.5)), s"rows=$r bands=$b parts=$parts")
        assert(got.exists(p => p._2 >= 10000L && p._2 < 20000L && p._3 < 1.0), "no near-dup pair verified")
      }
      GraftCache.releaseAll()
    }
  }

  test("law: rareShingleBlockedPairs ≡ the inlined rare-shingle blocking, on both sides of the block guard") {
    import org.apache.spark.sql.functions._
    val key = "graft.block.maxBucket"
    def failure(body: => Any): String = intercept[IllegalArgumentException](body).getMessage
    // a sorted list, not a set: a pair emitted twice must show
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val sh = Dedup.shingleHashes(replicaDocs, "doc_id", "text").distinct().cache()
    try {
      for (maxDf <- Seq(2, 3, 5)) {
        val got = pairs(Dedup.rareShingleBlockedPairs(sh, maxDf))
        assert(got.nonEmpty && got === pairs(OldDedup.rareShingleBlocking(sh, maxDf)), s"maxDf=$maxDf")
        // sh is distinct, so a rare shingle's block holds df rows: the
        // guard's edge sits at the largest df admitted, here maxDf itself
        val top = sh.groupBy(col("h")).count().filter(col("count").between(2, maxDf))
          .agg(max(col("count"))).head.getLong(0)
        assert(top === maxDf.toLong)
        try {
          spark.conf.set(key, top.toString)
          assert(pairs(Dedup.rareShingleBlockedPairs(sh, maxDf)) === got)
          assert(pairs(OldDedup.rareShingleBlocking(sh, maxDf)) === got)
          spark.conf.set(key, (top - 1).toString)
          val msg = failure(Dedup.rareShingleBlockedPairs(sh, maxDf))
          assert(msg.contains(s"holds $top rows > $key=${top - 1}") && msg.contains(s"currently $maxDf"), msg)
          assert(msg === failure(OldDedup.rareShingleBlocking(sh, maxDf)))
        } finally spark.conf.unset(key)
      }
    } finally sh.unpersist()
  }

  test("law: lshRecallAudit (fixed and affine) and simhashRecallAudit ≡ their old bodies (sliding chunks, replica-heavy corpus)") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val chunks = Dedup.slidingTokenChunks(docs, "doc_id", "text")
    val (r, b) = Dedup.minhashGeometryFor(600000L, 900000L)
    for ((in, id, text) <- Seq((chunks, "chunk_id", "chunk_text"), (replicaDocs, "doc_id", "text"))) {
      val fixed = Dedup.lshRecallAudit(in, id, text, maxDf = 20).collect().toSeq
      assert(fixed === OldDedup.lshRecallAudit(in, id, text, maxDf = 20).collect().toSeq)
      val affine = Dedup.lshRecallAudit(in, id, text, maxDf = 20, k = r * b, bands = b,
        perm = Dedup.permutedAffine).collect().toSeq
      assert(affine === OldDedup.lshRecallAudit(in, id, text, maxDf = 20, k = r * b, bands = b,
        affine = true).collect().toSeq)
      val simh = Dedup.simhashRecallAudit(in, id, text, bits = 32, bands = 4, maxDf = 20).collect().toSeq
      assert(simh === OldDedup.simhashRecallAudit(in, id, text, bits = 32, bands = 4, maxDf = 20).collect().toSeq)
      // every curve is populated, with the analytic within-class row
      // wherever the input repeats a text
      assert(fixed.size >= 3 && affine.size >= 3 && simh.size >= 3)
      if (id == "doc_id") {
        assert(fixed.exists(_.getAs[Int]("j_bucket") == 10) && simh.exists(_.getAs[Int]("h_bucket") == 0))
      }
      GraftCache.releaseAll()
    }
  }

  test("law: the shared index writer ≡ the inlined writeDedupIndex / writeDedupIndexContract (sets stay array<bigint>)") {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val dir = graft.queries.Q.tempDir("graft_index_law")
    val corpus = dedupLawDocs
    Dedup.writeDedupIndex(corpus, "doc_id", "text", s"$dir/fixed_new")
    OldDedup.writeDedupIndex(corpus, "doc_id", "text", s"$dir/fixed_old")
    Dedup.writeDedupIndexContract(corpus, "doc_id", "text", s"$dir/contract_new")
    OldDedup.writeDedupIndexContract(corpus, "doc_id", "text", s"$dir/contract_old")
    GraftCache.releaseAll()
    for (kind <- Seq("fixed", "contract"); table <- Seq("fingerprints", "bands", "sets")) {
      val got = spark.read.parquet(s"$dir/${kind}_new/$table")
      val want = spark.read.parquet(s"$dir/${kind}_old/$table")
      assert(got.schema === want.schema, s"$kind/$table")
      assert(got.count() === want.count() && got.count() > 0, s"$kind/$table")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$kind/$table")
      if (table == "sets")
        assert(got.schema("hs").dataType.asInstanceOf[ArrayType].elementType === LongType)
    }
    assert(spark.read.parquet(s"$dir/contract_new/_geometry").collect().toSeq ===
      spark.read.parquet(s"$dir/contract_old/_geometry").collect().toSeq)
  }

  /** sf0.001 documents plus crafted rows: ids on several rows whose
    * sets must be united (a new id, an id of the base corpus, a split
    * near-dup of doc 10, and an id whose rows have no shingle at all),
    * texts of fewer than 3 tokens, empty, blank and null texts, and
    * exact copies of docs 0-19. Row j goes to partition j mod `parts`,
    * or to the even partitions only at 16, so the repeated ids'
    * consecutive rows sit in different input partitions and half of
    * the 16 are empty.
    */
  private def craftedDocs(parts: Int): org.apache.spark.sql.DataFrame = {
    val base = spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val words = base.toMap.apply(10L).split(" ")
    val crafted = Seq(
      (900001L, "alpha beta gamma delta"), (900001L, "gamma delta epsilon zeta"),
      (900001L, "alpha beta gamma delta"), (3L, "an extra row for an existing id"),
      (4L, null), (4L, "two words"), (4L, ""),
      (900002L, "only two"), (900003L, ""), (900004L, null), (900005L, "   "),
      (900006L, "a b"), (900006L, null),
      (900007L, words.take(words.length / 2 + 2).mkString(" ")),
      (900007L, words.drop(words.length / 2).mkString(" ")))
    val rows = crafted ++ base ++ base.take(20).map { case (id, t) => (900100L + id, t) }
    val placed = rows.zipWithIndex.map { case (r, j) => (if (parts == 16) (j % 8) * 2 else j % parts, r) }
    spark.sparkContext.parallelize(0 until parts, parts)
      .flatMap(p => placed.collect { case (q, r) if q == p => r })
      .toDF("doc_id", "text")
  }

  test("law: shingleSets ≡ the grouped shingle-row set, and signaturesOf ≡ the grouped min-aggregate (repeated ids, short/empty/null texts, 1/3/16 partitions, k = 8 permuted and k = 20 affine)") {
    import org.apache.spark.sql.functions._
    for (parts <- Seq(1, 3, 16)) {
      val docs = craftedDocs(parts)
      assert(docs.rdd.getNumPartitions === parts)
      val sh = Dedup.shingleHashes(docs, "doc_id", "text")
      val sets = Dedup.shingleSets(docs, "doc_id", "text")
      val got = sets.as[(Long, Seq[Int])].collect().toSeq.sortBy(_._1)
      val want = sh.groupBy(col("doc_id")).agg(sort_array(collect_set(col("h").cast("int"))).as("hs"))
        .as[(Long, Seq[Int])].collect().toSeq.sortBy(_._1)
      assert(got === want, s"parts=$parts")
      val ids = got.map(_._1).toSet
      assert(Seq(3L, 4L, 900001L, 900007L).forall(ids) && !(900002L to 900006L).exists(ids), s"parts=$parts")
      // the repeated id holds the union of its rows' sets: 2 + 2 shingles
      assert(got.find(_._1 == 900001L).get._2.size === 4)
      for ((k, perm) <- Seq[(Int, Dedup.Permutation)]((8, Dedup.permuted), (20, Dedup.permutedAffine))) {
        val signed = Dedup.signaturesOf(sets, k, perm)
        assert(signed.columns.toSeq === ("doc_id" +: (0 until k).map(i => s"mh$i") :+ "hs"))
        assert(signed.collect().toSet === OldDedup.groupedSigSets(sh, k, perm).collect().toSet,
          s"k=$k parts=$parts")
      }
      assert(Dedup.minhashSignatures(docs, "doc_id", "text").collect().toSet ===
        OldDedup.groupedSigSets(sh, 8, Dedup.permuted).drop("hs").collect().toSet, s"parts=$parts")
    }
  }

  test("law: the set-built MinHash entry points ≡ their grouped-aggregate forms (minhashPairs, minhashPairsContract, jaccardVerify, index sets/, lshRecallAudit; 1/3/16 partitions)") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = graft.queries.Q.tempDir("graft_sets_law")
    for (parts <- Seq(1, 3, 16)) {
      val docs = craftedDocs(parts)
      val sh = Dedup.shingleHashes(docs, "doc_id", "text")
      for (bands <- Seq(2, 8)) {
        val got = rows(Dedup.minhashPairs(docs, "doc_id", "text", 8, bands, 0.5))
        assert(got === rows(OldDedup.pairsFromHashes(sh, 8, bands, 0.5)), s"bands=$bands parts=$parts")
        // doc 3 gained a row, so only its copy is no longer exact
        assert((0L until 20L).forall(d => got.contains((d, 900100L + d, 1.0)) == (d != 3L)),
          s"exact copies lost at bands=$bands")
      }
      val contract = rows(Dedup.minhashPairsContract(docs, "doc_id", "text"))
      assert(contract === rows(OldDedup.pairsFromHashesAffine(sh, 3, 10, 0.6)), s"parts=$parts")
      assert(contract.exists(p => p._1 == 10L && p._2 == 900007L), "the re-united split doc was not paired")
      val cand = Dedup.minhashCandidates(OldDedup.groupedSigSets(sh, 8, Dedup.permuted), 8, 2)
        .union(Seq((3L, 900001L), (4L, 900004L), (10L, 900007L)).toDF("doc_a", "doc_b"))
      val verified = rows(Dedup.jaccardVerify(docs, cand, "doc_id", "text", 0.3))
      assert(verified === rows(OldDedup.jaccardVerify(sh, cand, 0.3)), s"parts=$parts")
      assert(verified.exists(p => p._1 == 10L && p._2 == 900007L))
      Dedup.writeDedupIndex(docs, "doc_id", "text", s"$dir/$parts/fixed_new")
      OldDedup.writeDedupIndex(docs, "doc_id", "text", s"$dir/$parts/fixed_old")
      Dedup.writeDedupIndexContract(docs, "doc_id", "text", s"$dir/$parts/contract_new")
      OldDedup.writeDedupIndexContract(docs, "doc_id", "text", s"$dir/$parts/contract_old")
      for (kind <- Seq("fixed", "contract"); table <- Seq("bands", "sets")) {
        val got = spark.read.parquet(s"$dir/$parts/${kind}_new/$table")
        val want = spark.read.parquet(s"$dir/$parts/${kind}_old/$table")
        assert(got.schema === want.schema, s"$kind/$table")
        assert(got.count() > 0 && got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"$kind/$table parts=$parts")
      }
      val fixed = Dedup.lshRecallAudit(docs, "doc_id", "text", maxDf = 20).collect().toSeq
      assert(fixed === OldDedup.lshRecallAudit(docs, "doc_id", "text", maxDf = 20).collect().toSeq)
      assert(fixed.exists(_.getAs[Int]("j_bucket") == 10) && fixed.size >= 2, fixed)
      val affine = Dedup.lshRecallAudit(docs, "doc_id", "text", maxDf = 20, k = 20, bands = 10,
        perm = Dedup.permutedAffine).collect().toSeq
      assert(affine === OldDedup.lshRecallAudit(docs, "doc_id", "text", maxDf = 20, k = 20, bands = 10,
        affine = true).collect().toSeq)
      GraftCache.releaseAll()
    }
  }

  /** The cosine-family searches, audits and pair paths as they stood
    * before Similarity's shared search core (one trained quantizer per
    * call, one query fetch, one cosine top-k, one pair core, one
    * recall-curve skeleton), inlined so the laws below pin the merged
    * forms. Similarity's private helpers are inlined too.
    */
  private object OldSimilarity {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity.{assignCells, assignPqCodes, blendLadder, cosine,
      cosineWithNorms, kmeansCellsLocal, knnJoin, lshBucket, norm, pqTrainLocal, toDoubleVec}

    def sq9(a: Seq[Double], b: Seq[Double]): Double =
      BigDecimal(a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

    def cellRankArray(cents: Seq[(Int, Seq[Double])]): Column = {
      val scored = array(cents.map { case (cell, cvec) =>
        val carr = array(cvec.map(lit): _*)
        val d = aggregate(zip_with(col("e"), carr, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v)
        struct(round(d, 9).as("d"), lit(cell).as("cell"))
      }: _*)
      val order = transform(array_sort(scored), x => x.getField("cell"))
      transform(array(cents.map(c => lit(c._1)): _*), c => array_position(order, c))
    }

    def keepMinOfComponents(emb: DataFrame, pairs: DataFrame): DataFrame = {
      val drop = Dedup.connectedComponents(pairs)
        .filter(col("doc") =!= col("label"))
        .select(col("doc").as("vec_id"))
      emb.join(drop, Seq("vec_id"), "left_anti")
    }

    def ivfProbeAudit(emb: DataFrame, k: Int, cells: Int, iters: Int,
        sampleQ: Int): DataFrame = {
      val spark = emb.sparkSession
      import spark.implicits._
      val embD = graft.GraftCache.registered(
        emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e")))
      val cents = kmeansCellsLocal(embD, cells, iters)
      val assigned = assignCells(embD, cents).select(col("vec_id"), col("cell"))
      val qVecs = embD.filter(col("vec_id") < sampleQ)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
      val ranks = qVecs.flatMap { case (qid, qv) =>
        cents.map { case (c, cv) => (sq9(cv, qv), c) }.sorted.zipWithIndex
          .map { case ((_, c), i) => (qid, c, i + 1) }
      }.toSeq.toDF("query_id", "cell", "cell_rank")
      val truth = knnJoin(emb, col("vec_id") < sampleQ, k)
        .select(col("query_id"), col("vec_id"))
      val tr = truth.join(assigned, "vec_id")
        .join(broadcast(ranks), Seq("query_id", "cell"))
        .select(col("cell_rank"))
      val levels = spark.range(1, cells + 1).select(col("id").cast("int").as("nprobe"))
      broadcast(levels).crossJoin(tr)
        .groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("cell_rank") <= col("nprobe"), 1L).otherwise(0L)).as("n_caught"))
        .withColumn("recall_micro", expr("(n_caught * 1000000) div n_truth"))
        .orderBy(col("nprobe"))
    }

    def ivfProbesFor(emb: DataFrame, k: Int, cells: Int, iters: Int,
        sampleQ: Int, targetRecallMicro: Long): Int = {
      val curve = ivfProbeAudit(emb, k, cells, iters, sampleQ)
        .select(col("nprobe"), col("recall_micro"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      curve.collectFirst { case (p, r) if r >= targetRecallMicro => p }
        .getOrElse(cells)
    }

    def semanticCellRecallAuditWith(emb: DataFrame, dim: Int,
        cents: Seq[(Int, Seq[Double])], thresholdMicro: Long,
        sampleQ: Int): DataFrame = {
      val spark = emb.sparkSession
      val cells = cents.size
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
      val levels = spark.range(1, cells + 1).select(col("id").cast("int").as("nprobe"))
      broadcast(levels).crossJoin(tr)
        .groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("depth") <= col("nprobe"), 1L).otherwise(0L)).as("n_caught"))
        .withColumn("recall_micro", expr("(n_caught * 1000000) div n_truth"))
        .orderBy(col("nprobe"))
    }

    def semanticCellRecallAudit(emb: DataFrame, dim: Int, cells: Int, iters: Int,
        thresholdMicro: Long, sampleQ: Int): DataFrame = {
      val embD = graft.GraftCache.registered(
        emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e")))
      semanticCellRecallAuditWith(emb, dim, kmeansCellsLocal(embD, cells, iters),
        thresholdMicro, sampleQ)
    }

    def semanticCellProbesForWith(emb: DataFrame, dim: Int,
        cents: Seq[(Int, Seq[Double])], thresholdMicro: Long,
        targetRecallMicro: Long, sampleQ: Int): Int = {
      val curve = semanticCellRecallAuditWith(emb, dim, cents, thresholdMicro, sampleQ)
        .select(col("nprobe"), col("recall_micro"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      curve.collectFirst { case (p, r) if r >= targetRecallMicro => p }
        .getOrElse(cents.size)
    }

    def pqAdcRanks(emb: DataFrame, m: Int, ksub: Int, iters: Int,
        sampleQ: Int): DataFrame = {
      val embD = graft.GraftCache.registered(
        emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e")))
      val books = pqTrainLocal(embD, m, ksub, iters)
      val sub = books.head.head.length
      val qVecs = embD.filter(col("vec_id") < sampleQ)
        .select(col("vec_id"), col("e")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
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
          explode(array(qStructs.toSeq: _*)).as("q"))
        .filter(col("vec_id") =!= col("q.query_id"))
        .select(col("q.query_id").as("query_id"), col("vec_id"),
          round(adc, 6).as("adc_dist"))
        .withColumn("adc_rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("adc_dist").asc, col("vec_id").asc)))
        .select(col("query_id"), col("vec_id"), col("adc_rank"))
    }

    def pqRerankAudit(emb: DataFrame, k: Int, m: Int, ksub: Int, iters: Int,
        sampleQ: Int, maxDepthExp: Int): DataFrame = {
      val spark = emb.sparkSession
      import spark.implicits._
      val ranks = pqAdcRanks(emb, m, ksub, iters, sampleQ)
      val truth = knnJoin(emb, col("vec_id") < sampleQ, k)
        .select(col("query_id"), col("vec_id"))
      val tr = truth.join(ranks, Seq("query_id", "vec_id")).select(col("adc_rank"))
      val levels = (0 to maxDepthExp).map(j => k.toLong << j)
        .toDF("depth").select(col("depth").cast("int").as("depth"))
      broadcast(levels).crossJoin(tr)
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("adc_rank") <= col("depth"), 1L).otherwise(0L)).as("n_caught"))
        .withColumn("recall_micro", expr("(n_caught * 1000000) div n_truth"))
        .orderBy(col("depth"))
    }

    def pqRerankDepthFor(emb: DataFrame, k: Int, m: Int, ksub: Int, iters: Int,
        sampleQ: Int, targetRecallMicro: Long): Int = {
      val ranks = pqAdcRanks(emb, m, ksub, iters, sampleQ)
      val truth = knnJoin(emb, col("vec_id") < sampleQ, k)
        .select(col("query_id"), col("vec_id"))
      val tr = truth.join(ranks, Seq("query_id", "vec_id"))
        .select(col("adc_rank")).collect().map(_.getInt(0)).sorted
      val need = math.ceil(targetRecallMicro.toDouble * tr.length / 1000000.0).toInt
      if (need <= 0) k else math.max(k, tr(need - 1))
    }

    def nearDupExactBlocked(emb: DataFrame, blockCol: String, threshold: Double): DataFrame = {
      val e = emb
        .select(col("vec_id"), col(blockCol).as("blk"), toDoubleVec(col("embedding")).as("e"))
        .withColumn("nrm", norm(col("e")))
      Dedup.requireBoundedBlocks(e.select(col("blk")), Seq(col("blk")),
        "Similarity.nearDupByLsh")
      e.as("l").join(e.as("r"),
          col("l.blk") === col("r.blk") && col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
          round(cosineWithNorms(col("l.e"), col("r.e"), col("l.nrm"), col("r.nrm")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
    }

    def nearDupByLsh(emb: DataFrame, planes: Int, dim: Int, threshold: Double): DataFrame = {
      val e = emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
        .withColumn("bucket", lshBucket(col("e"), planes, dim))
        .withColumn("nrm", norm(col("e")))
      Dedup.requireBoundedBlocks(e.select(col("bucket")), Seq(col("bucket")),
        s"more hyperplanes (planes > $planes: buckets = 2^planes, currently ${1L << planes})")
      e.as("l").join(e.as("r"),
          col("l.bucket") === col("r.bucket") && col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
          round(cosineWithNorms(col("l.e"), col("r.e"), col("l.nrm"), col("r.nrm")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
    }

    def nearDupByLshMulti(emb: DataFrame, planes: Int, tables: Int, dim: Int,
        threshold: Double): DataFrame = {
      val e = graft.GraftCache.registered(
        emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
          .withColumn("nrm", norm(col("e"))))
      val allW = Array.tabulate(tables * planes * dim)(i =>
        graft.operators.Similarity.planeWeightLocal(i / dim, i % dim))
      val banded = graft.GraftCache.registered(
        e.select(col("vec_id"), posexplode(
            graft.plans.HyperplaneBuckets.buckets(col("e"), allW, dim, planes, tables))
          .as(Seq("tbl", "bucket")))
          .repartition(col("tbl"), col("bucket")))
      Dedup.requireBoundedBlocks(banded, Seq(col("tbl"), col("bucket")),
        s"more hyperplanes per table (planes > $planes: buckets/table = 2^planes, " +
          s"currently ${1L << planes})")
      val cand = banded.as("l").join(banded.as("r"),
          col("l.tbl") === col("r.tbl") && col("l.bucket") === col("r.bucket") &&
            col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
        .distinct()
      cand
        .join(e.select(col("vec_id").as("vec_a"), col("e").as("e_a"), col("nrm").as("n_a")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("e").as("e_b"), col("nrm").as("n_b")), "vec_b")
        .select(col("vec_a"), col("vec_b"),
          round(cosineWithNorms(col("e_a"), col("e_b"), col("n_a"), col("n_b")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= threshold)
    }

    def semanticDedupCellsContract(emb: DataFrame, dim: Int, cells: Int,
        iters: Int, thresholdMicro: Long, targetRecallMicro: Long,
        sampleQ: Int): DataFrame = {
      val embD = graft.GraftCache.registered(
        emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e")))
      val cents = kmeansCellsLocal(embD, cells, iters)
      val nprobe = semanticCellProbesForWith(emb, dim, cents,
        thresholdMicro, targetRecallMicro, sampleQ)
      val assigned = graft.GraftCache.registered(
        embD.select(col("vec_id"), col("e"), cellRankArray(cents).as("rk"))
          .select(col("vec_id"), col("e"),
            explode(filter(sequence(lit(0), lit(cents.size - 1)),
              c => element_at(col("rk"), c.cast("int") + 1) <= nprobe)).as("cell")))
      Dedup.requireBoundedBlocks(assigned, Seq(col("cell")),
        s"more cells (cells > $cells: cell population ~ nprobe*N/cells) or semanticDedupLshContract")
      val cand = assigned.as("l").join(assigned.as("r"),
          col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"))
        .distinct()
      val e2 = embD.withColumn("nrm", norm(col("e")))
      val pairs = cand
        .join(e2.select(col("vec_id").as("a"), col("e").as("e_a"), col("nrm").as("n_a")), "a")
        .join(e2.select(col("vec_id").as("b"), col("e").as("e_b"), col("nrm").as("n_b")), "b")
        .filter(round(cosineWithNorms(col("e_a"), col("e_b"), col("n_a"), col("n_b")), 6)
          >= lit(thresholdMicro.toDouble / 1e6))
        .select(col("a").as("doc_a"), col("b").as("doc_b"))
      keepMinOfComponents(emb, pairs)
    }
  }

  test("law: the empirical recall audits and advisors ≡ their old bodies (trained and init quantizers)") {
    import graft.operators.Similarity
    val emb = graft.queries.Q.t(spark, sf001, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = df.collect().toSeq
    for (iters <- Seq(0, 1)) {
      val ivf = rows(Similarity.ivfProbeAudit(emb, k = 10, cells = 8, iters = iters, sampleQ = 16))
      assert(ivf.size === 8 && ivf === rows(OldSimilarity.ivfProbeAudit(emb, 10, 8, iters, 16)), s"iters=$iters")
      val cell = rows(Similarity.semanticCellRecallAudit(emb, dim = 64, cells = 8, iters = iters,
        thresholdMicro = 400000L, sampleQ = 16))
      assert(cell.nonEmpty &&
        cell === rows(OldSimilarity.semanticCellRecallAudit(emb, 64, 8, iters, 400000L, 16)), s"iters=$iters")
      val pq = rows(Similarity.pqRerankAudit(emb, k = 10, m = 8, ksub = 16, iters = iters, sampleQ = 16))
      assert(pq.size === 9 && pq === rows(OldSimilarity.pqRerankAudit(emb, 10, 8, 16, iters, 16, 8)),
        s"iters=$iters")
      // the advisors on both ends of the target range and inside it
      for (target <- Seq(0L, 500000L, 900000L, 1000000L)) {
        assert(Similarity.ivfProbesFor(emb, 10, 8, iters, 16, target) ===
          OldSimilarity.ivfProbesFor(emb, 10, 8, iters, 16, target), s"iters=$iters target=$target")
        assert(Similarity.pqRerankDepthFor(emb, 10, 8, 16, iters, 16, target) ===
          OldSimilarity.pqRerankDepthFor(emb, 10, 8, 16, iters, 16, target), s"iters=$iters target=$target")
      }
      GraftCache.releaseAll()
    }
  }

  test("law: the blocked pair core and the shared verify ≡ the old pair paths, on both sides of the block guard") {
    import graft.operators.Similarity
    val key = "graft.block.maxBucket"
    val emb = graft.queries.Q.t(spark, sf001, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    def kept(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    def failure(body: => Any): String = intercept[IllegalArgumentException](body).getMessage
    val exact = pairs(Similarity.nearDupExactBlocked(emb, "label", 0.4))
    assert(exact.nonEmpty && exact === pairs(OldSimilarity.nearDupExactBlocked(emb, "label", 0.4)))
    val lsh = pairs(Similarity.nearDupByLsh(emb, planes = 4, dim = 64, threshold = 0.3))
    assert(lsh.nonEmpty && lsh === pairs(OldSimilarity.nearDupByLsh(emb, 4, 64, 0.3)))
    val multi = pairs(Similarity.nearDupByLshMulti(emb, planes = 8, tables = 3, dim = 64, threshold = 0.25))
    assert(multi.nonEmpty && multi === pairs(OldSimilarity.nearDupByLshMulti(emb, 8, 3, 64, 0.25)))
    val keptSizes = for (target <- Seq(0L, 900000L, 1000000L)) yield {
      val got = kept(Similarity.semanticDedupCellsContract(emb, dim = 64, cells = 8, iters = 0,
        thresholdMicro = 400000L, targetRecallMicro = target, sampleQ = 16))
      assert(got === kept(OldSimilarity.semanticDedupCellsContract(emb, 64, 8, 0, 400000L, target, 16)),
        s"target=$target")
      got.size
    }
    assert(keptSizes.min < 500, "no vector was deduplicated")
    GraftCache.releaseAll()
    // the guard's edge: the largest label block passes at limit = its
    // size and refuses one below, with the old message, on every path
    val top = emb.groupBy("label").count().agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
    try {
      spark.conf.set(key, top.toString)
      assert(pairs(Similarity.nearDupExactBlocked(emb, "label", 0.4)) === exact)
      spark.conf.set(key, (top - 1).toString)
      assert(failure(Similarity.nearDupExactBlocked(emb, "label", 0.4)) ===
        failure(OldSimilarity.nearDupExactBlocked(emb, "label", 0.4)))
      spark.conf.set(key, "1")
      assert(failure(Similarity.nearDupByLsh(emb, 4, 64, 0.3)) ===
        failure(OldSimilarity.nearDupByLsh(emb, 4, 64, 0.3)))
      assert(failure(Similarity.nearDupByLshMulti(emb, 8, 3, 64, 0.25)) ===
        failure(OldSimilarity.nearDupByLshMulti(emb, 8, 3, 64, 0.25)))
      assert(failure(Similarity.semanticDedupCellsContract(emb, 64, 8, 0, 400000L, 900000L, 16)) ===
        failure(OldSimilarity.semanticDedupCellsContract(emb, 64, 8, 0, 400000L, 900000L, 16)))
    } finally {
      spark.conf.unset(key)
      GraftCache.releaseAll()
    }
  }

  test("the IVF and PQ search contracts train their quantizer once: fewer jobs than advisor + search") {
    import graft.operators.Similarity
    val emb = graft.queries.Q.t(spark, sf001, "embeddings")
    def jobs(body: => Any): Int = {
      val n = jobsIn(spark)(body)
      GraftCache.releaseAll()
      n
    }
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq
    for (iters <- Seq(0, 2)) {
      val nprobe = Similarity.ivfProbesFor(emb, 10, 8, iters, 16, 900000L)
      val ivfApart = jobs(Similarity.ivfProbesFor(emb, 10, 8, iters, 16, 900000L)) +
        jobs(Similarity.ivfSearch(emb, 0L, 10, 8, iters, nprobe))
      val ivfOnce = jobs(Similarity.ivfSearchContract(emb, 0L, 10, 8, iters, 900000L, 16))
      assert(ivfOnce < ivfApart, s"iters=$iters: contract $ivfOnce jobs vs $ivfApart apart")
      assert(ids(Similarity.ivfSearchContract(emb, 0L, 10, 8, iters, 900000L, 16)) ===
        ids(Similarity.ivfSearch(emb, 0L, 10, 8, iters, nprobe)))
      val depth = Similarity.pqRerankDepthFor(emb, 10, 8, 16, iters, 16, 900000L)
      val pqApart = jobs(Similarity.pqRerankDepthFor(emb, 10, 8, 16, iters, 16, 900000L)) +
        jobs(Similarity.pqSearchRerank(emb, 0L, 10, depth, 8, 16, iters))
      val pqOnce = jobs(Similarity.pqSearchRerankContract(emb, 0L, 10, 8, 16, iters, 900000L, 16))
      assert(pqOnce < pqApart, s"iters=$iters: contract $pqOnce jobs vs $pqApart apart")
      assert(ids(Similarity.pqSearchRerankContract(emb, 0L, 10, 8, 16, iters, 900000L, 16)) ===
        ids(Similarity.pqSearchRerank(emb, 0L, 10, depth, 8, 16, iters)))
      GraftCache.releaseAll()
    }
  }
}
