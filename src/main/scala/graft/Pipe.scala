package graft

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SizeEstimator

import scala.reflect.ClassTag

/** Dampr-parity fluent surface (the reference's `PMap`/`PReduce`/
  * `ARReduce`/`PJoin` DSL, `/root/reference/dampr/dampr.py:85-945`)
  * re-expressed over `Dataset[T]`.
  *
  * Design stance (SURVEY.md §7.0): this typed surface exists for the
  * opaque-closure ergonomics the reference exposes — arbitrary Scala
  * functions over arbitrary values. It does NOT rebuild graphs, fusion,
  * shuffles or spill files: every method lowers directly to a Dataset
  * operator, so Catalyst fuses consecutive maps (`CollapseProject` /
  * whole-stage codegen replaces `dampr/dampr.py:959-967` closure
  * fusion), and sort-based shuffle replaces the gzip-pickle spill
  * machinery (`dampr/stagerunner.py:54-129`). The one piece it does
  * build is the associative fold's map-side combiner
  * ([[GroupedPipe.fold]]): `reduceGroups` alone plans an
  * `ObjectHashAggregate` that decodes every row into objects and falls
  * back to sort-based aggregation past 128 keys per partition, so the
  * fold combines in the mapper first, as `a_group_by` does
  * (`dampr/dampr.py:661-691`).
  *
  * Scale note: all grouped operations hash-shuffle on the key exactly
  * once; wherever associativity is declared the fold combines on the
  * map side rather than using `mapGroups`, so a 100 TB input only
  * moves its reduced form across the network.
  */
final case class Pipe[T](ds: Dataset[T]) {
  def spark: SparkSession = ds.sparkSession

  // ---- row-level, map-fused ops (reference §2.2, dampr/dampr.py:277-370) ----

  /** 1→1 transform — `PMap.map` (`dampr/dampr.py:277-288`). */
  def map[U: Encoder](f: T => U): Pipe[U] = Pipe(ds.map(f))

  /** 1→N flattened transform — `PMap.flat_map` (`dampr/dampr.py:358-370`). */
  def flatMap[U: Encoder](f: T => IterableOnce[U]): Pipe[U] = Pipe(ds.flatMap(f))

  /** Keep rows where predicate holds — `PMap.filter` (`dampr/dampr.py:343-356`). */
  def filter(f: T => Boolean): Pipe[T] = Pipe(ds.filter(f))

  /** item → (f(item), item) — `PMap.prefix` (`dampr/dampr.py:316-327`). */
  def prefix[K: Encoder](f: T => K)(implicit e: Encoder[(K, T)]): Pipe[(K, T)] =
    Pipe(ds.map(t => (f(t), t)))

  /** item → (item, f(item)) — `PMap.suffix` (`dampr/dampr.py:329-340`). */
  def suffix[V](f: T => V)(implicit e: Encoder[(T, V)]): Pipe[(T, V)] =
    Pipe(ds.map(t => (t, f(t))))

  /** Bernoulli sample. Unlike the reference's time-seeded RNG
    * (`dampr/dampr.py:969-976`) the seed is explicit — deterministic
    * sampling is a correctness requirement here (SURVEY.md §7.3).
    */
  def sample(prob: Double, seed: Long = 42L): Pipe[T] = Pipe(ds.sample(prob, seed))

  /** Debug pass-through — `PMap.inspect` (`dampr/dampr.py:469-484`).
    *
    * LAZY like the reference's (which streams records in-line as the
    * stage runs): building the pipe triggers NO job; up to 20 rows per
    * partition print on executor stdout when a downstream action
    * actually runs the plan (pinned in PipeSpec). The old eager
    * `take(20)` here ran the whole upstream pipeline at
    * pipeline-CONSTRUCTION time — a job the user never asked for.
    *
    * With `exit=true`, mirrors the reference's abort flag
    * (`dampr/dampr.py:479-482`): print a bounded sample and terminate —
    * eager on purpose, the abort IS the requested action (tests swap
    * [[Pipe.exitHook]]).
    */
  def inspect(prefixStr: String = "", exit: Boolean = false): Pipe[T] = {
    if (exit) {
      ds.take(20).foreach(t => println(s"$prefixStr$t"))
      Pipe.exitHook(0)
      this
    } else Pipe(ds.mapPartitions { it =>
      var n = 0
      it.map { t =>
        if (n < 20) { println(s"$prefixStr$t"); n += 1 }
        t
      }
    }(ds.encoder))
  }

  /** Zero-cost pipeline metrics via `Dataset.observe`: the named
    * aggregates (counts, sums, null tallies …) are computed INSIDE the
    * stage as rows stream through — no second pass, no extra job, no
    * `.count()` re-running the upstream (the production-observability
    * answer to sprinkling actions through a pipeline). Values land on
    * the returned [[org.apache.spark.sql.Observation]] after the next
    * action; metric exprs must be aggregates without distinct. The
    * reference's nearest surface is its per-stage record logging
    * (`dampr/dampr.py:469-484`) which costs a scan per look —
    * `observe` rides the one scan the action already pays for.
    */
  def observed(name: String, metric: Column, metrics: Column*)
      : (Pipe[T], org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    (Pipe(ds.observe(obs, metric, metrics: _*)), obs)
  }

  // ---- grouping (reference §2.3, dampr/dampr.py:372-410) ----

  /** Hash-shuffle group by extracted key — `group_by`
    * (`dampr/dampr.py:372-384`). The downstream general reduce sees a
    * single-pass iterator per key, like the reference's
    * `grouped_read` (`dampr/dataset.py:429-433`).
    */
  def groupBy[K: Encoder](key: T => K): GroupedPipe[K, T] = GroupedPipe(ds, key)

  /** Associative grouping — `a_group_by` (`dampr/dampr.py:386-404`).
    * Same grouping as [[groupBy]]; the associativity it declares is
    * what [[GroupedPipe.fold]] relies on to combine in the mapper, the
    * reference's `PartialReduceCombiner` (`dampr/base.py:393-402`).
    */
  def aGroupBy[K: Encoder](key: T => K): GroupedPipe[K, T] = groupBy(key)

  /** `fold_by(key, binop)` shortcut (`dampr/dampr.py:406-410`):
    * associative fold of values per key with map-side combine.
    */
  def foldBy[K: Encoder](key: T => K)(binop: (T, T) => T)(implicit e: Encoder[(K, T)]): Pipe[(K, T)] =
    groupBy(key).fold(binop)

  /** Per-key count — `count` (`dampr/dampr.py:439-448`). */
  def countBy[K: Encoder](key: T => K)(implicit e: Encoder[(K, Long)]): Pipe[(K, Long)] =
    groupBy(key).count()

  /** Per-key mean — `mean` (`dampr/dampr.py:450-467`): the reference's
    * `(sum, count)` accumulator is `typed.avg`'s buffer.
    */
  def meanBy[K: Encoder](key: T => K)(value: T => Double)(implicit e: Encoder[(K, Double)]): Pipe[(K, Double)] =
    Pipe(ds.groupByKey(key).agg(new MeanAggregator[T](value).toColumn))

  /** Global count — `len()` (`dampr/dampr.py:245-275`). */
  def len(): Long = ds.count()

  // ---- joins (reference §2.4, dampr/dampr.py:424-437, :748-829) ----

  /** Checkpoint both sides and pair on key — `PMap.join`
    * (`dampr/dampr.py:424-437`). Returns the cogroup-shaped join the
    * reference's `PJoin` exposes; flat equi-joins are a `.reduce` away.
    */
  def joinOn[U, K: Encoder](other: Pipe[U])(lk: T => K, rk: U => K): JoinedPipe[K, T, U] =
    JoinedPipe(ds.groupByKey(lk), other.ds.groupByKey(rk))

  /** Map-side cartesian against a (small) right side — `cross_left`
    * with `memory=True` (`dampr/dampr.py:541-588`): right side is
    * collected and broadcast, each left row crossed in the map task.
    * For big×big cartesian use `Dataset.crossJoin` directly.
    */
  def crossLeft[U: ClassTag, V: Encoder](other: Pipe[U])(cross: (T, U) => V): Pipe[V] = {
    val rightB = spark.sparkContext.broadcast(Pipe.collectBounded(other.ds, "crossLeft right"))
    Pipe(ds.mapPartitions { it =>
      val right = rightB.value
      it.flatMap(t => right.iterator.map(u => cross(t, u)))
    })
  }

  /** Mirror of [[crossLeft]] — `cross_right`
    * (`dampr/dampr.py:543-564`): THIS side is collected + broadcast and
    * crossed against each row of `other`, whose partitioning drives the
    * job. Same output element shape `cross(t, u)` as `crossLeft`.
    */
  def crossRight[U: Encoder, V: Encoder](other: Pipe[U])(cross: (T, U) => V)(implicit ct: ClassTag[T]): Pipe[V] = {
    val leftB = spark.sparkContext.broadcast(Pipe.collectBounded(ds, "crossRight left"))
    Pipe(other.ds.mapPartitions { it =>
      val left = leftB.value
      it.flatMap(u => left.iterator.map(t => cross(t, u)))
    })
  }

  /** Broadcast the aggregated right side wholesale to every left row —
    * `cross_set` (`dampr/dampr.py:590-619`).
    */
  def crossSet[U: ClassTag, A: ClassTag, V: Encoder](other: Pipe[U])(agg: Array[U] => A)(cross: (T, A) => V): Pipe[V] = {
    val aggB = spark.sparkContext.broadcast(agg(Pipe.collectBounded(other.ds, "crossSet right")))
    Pipe(ds.mapPartitions { it =>
      val a = aggB.value
      it.map(t => cross(t, a))
    })
  }

  // ---- sorts / top-k (reference §2.5) ----

  /** Global sort by key — `sort_by` (`dampr/dampr.py:412-422`). Spark's
    * range-partitioned total sort is strictly stronger than the
    * reference's read-time heap merge (`dampr/runner.py:352-374`).
    */
  def sortBy[K: Encoder: Ordering](key: T => K)(implicit e: Encoder[(K, T)]): Pipe[T] = {
    import org.apache.spark.sql.functions.col
    Pipe(ds.map(t => (key(t), t)).orderBy(col("_1")).map(_._2)(ds.encoder))
  }

  /** Global top-k by score — `topk` (`dampr/dampr.py:621-652`). Spark's
    * `TakeOrderedAndProject` is the same per-partition-heap + final
    * merge algorithm the reference hand-rolls.
    */
  def topk[K: Encoder: Ordering](k: Int)(score: T => K)(implicit e: Encoder[(K, T)]): Seq[T] = {
    import org.apache.spark.sql.functions.col
    ds.map(t => (score(t), t)).orderBy(col("_1").desc).take(k).toSeq.map(_._2)
  }

  // ---- set ops (reference §2.6) ----

  /** Concatenate datasets — `read_input(a, b)` / `CatDataset`
    * (`dampr/dataset.py:550-565`).
    */
  def union(other: Pipe[T]): Pipe[T] = Pipe(ds.union(other.ds))

  /** Per-key distinct — `PReduce.unique` (`dampr/dampr.py:727-746`). */
  def distinct(): Pipe[T] = Pipe(ds.distinct())

  // ---- custom/low-level surface (reference §2.8) ----

  /** Whole-partition generator — `partition_map`
    * (`dampr/dampr.py:201-222`). Runs once per Spark partition.
    */
  def partitionMap[U: Encoder](f: Iterator[T] => Iterator[U]): Pipe[U] =
    Pipe(ds.mapPartitions(f))

  // ---- sinks / lifecycle (reference §2.7) ----

  /** Write values as UTF-8 text lines — `sink` (`dampr/dampr.py:499-519`). */
  def sinkText(path: String): Unit =
    ds.map(_.toString)(Encoders.STRING).write.mode("overwrite").text(path)

  /** Tab-separated sink — `sink_tsv` (`dampr/dampr.py:521-529`). Tuple
    * / case-class fields become TSV columns.
    */
  def sinkTsv(path: String): Unit =
    ds.toDF().write.mode("overwrite").option("sep", "\t").csv(path)

  /** JSON-lines sink — `sink_json` (`dampr/dampr.py:531-539`). */
  def sinkJson(path: String): Unit =
    ds.toDF().write.mode("overwrite").json(path)

  /** Pin in memory for multi-output reuse — `cached()`
    * (`dampr/dampr.py:486-497`).
    */
  def cached(): Pipe[T] = Pipe(ds.persist(StorageLevel.MEMORY_AND_DISK))

  /** Force a stage boundary / truncate lineage — `checkpoint(force)`
    * (`dampr/dampr.py:128-153`). Mostly unnecessary under Catalyst
    * (SURVEY §2.7); lazy local checkpoint for the cases it isn't
    * (iterative lineage growth).
    */
  def checkpoint(): Pipe[T] = Pipe(ds.localCheckpoint(eager = false))

  /** Execute and stream k results to the driver — `ValueEmitter.read`
    * (`dampr/dampr.py:34-42`).
    */
  def read(k: Int): Array[T] = ds.take(k)

  def collect(): Array[T] = ds.collect()
}

/** Typed `(sum, count)` mean — the reference's `mean` accumulator
  * (`/root/reference/dampr/dampr.py:450-467`) as a Spark `Aggregator`,
  * i.e. with map-side partial aggregation instead of a full-value
  * shuffle. Also serves as the proof-of-path UDAF (SURVEY.md §7.2).
  */
final class MeanAggregator[T](value: T => Double) extends Aggregator[T, (Double, Long), Double] {
  override def zero: (Double, Long) = (0.0, 0L)
  override def reduce(b: (Double, Long), t: T): (Double, Long) = (b._1 + value(t), b._2 + 1)
  override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) = (a._1 + b._1, a._2 + b._2)
  override def finish(b: (Double, Long)): Double = if (b._2 == 0) 0.0 else b._1 / b._2
  override def bufferEncoder: Encoder[(Double, Long)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

object Pipe {
  /** Process-exit hook for `inspect(exit=true)` — swappable in tests. */
  private[graft] var exitHook: Int => Unit = code => sys.exit(code)

  /** Driver-side collect with an OOM guard: the `memory=True` cross ops
    * are only sound for genuinely small sides, so refuse anything past
    * `graft.cross.maxRows` (session conf, default 5M) with an
    * actionable error instead of silently OOMing the driver.
    */
  private[graft] def collectBounded[U](ds: Dataset[U], what: String): Array[U] = {
    val key = "graft.cross.maxRows"
    val limit = ds.sparkSession.conf.getOption(key).map { raw =>
      val n = try raw.trim.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$key must be a positive integer, got '$raw'")
      }
      if (n <= 0) throw new IllegalArgumentException(s"$key must be a positive integer, got '$raw'")
      n
    }.getOrElse(5000000L)
    // limit+1 must stay a valid Int for Dataset.limit; anything above
    // Int.MaxValue-1 can't be driver-collected anyway
    val cap = math.min(limit, Int.MaxValue - 1L).toInt
    val arr = ds.limit(cap + 1).collect()
    if (arr.length > cap)
      throw new IllegalArgumentException(
        s"$what side exceeds $key=$cap rows; use Dataset.crossJoin for big-by-big cartesians")
    arr
  }

  /** Parallelize a local collection — `Dampr.memory`
    * (`dampr/dampr.py:845-855`). The reference defaults to 50
    * partitions; we leave partitioning to Spark unless asked.
    */
  def memory[T: Encoder](spark: SparkSession, items: Seq[T], partitions: Int = 0): Pipe[T] = {
    val base = spark.createDataset(items)
    Pipe(if (partitions > 0) base.repartition(partitions) else base)
  }

  def text(spark: SparkSession, path: String): Pipe[String] =
    Pipe(Tables.text(spark, path))

  /** Re-wrap an existing Dataset — `Dampr.from_dataset`
    * (`dampr/dampr.py:904-912`).
    */
  def fromDataset[T](ds: Dataset[T]): Pipe[T] = Pipe(ds)

  /** Tuple-value helpers — `map_values` / `map_keys`
    * (`dampr/dampr.py:290-314`): transform one side of a `(k, v)`
    * value without touching the other.
    */
  implicit class KVPipe[K, V](val p: Pipe[(K, V)]) extends AnyVal {
    def mapValues[W](f: V => W)(implicit e: Encoder[(K, W)]): Pipe[(K, W)] =
      Pipe(p.ds.map { case (k, v) => (k, f(v)) })
    def mapKeys[L](f: K => L)(implicit e: Encoder[(L, V)]): Pipe[(L, V)] =
      Pipe(p.ds.map { case (k, v) => (f(k), v) })
    /** Swap key and value. */
    def swap(implicit e: Encoder[(V, K)]): Pipe[(V, K)] =
      Pipe(p.ds.map { case (k, v) => (v, k) })
  }
}

/** Grouped view after `group_by`/`a_group_by` — the reference's
  * `PReduce`/`ARReduce` (`dampr/dampr.py:654-766`). Holds the source
  * rows and the key function; each operation builds the grouping it
  * needs.
  */
final case class GroupedPipe[K, T](ds: Dataset[T], key: T => K)(implicit kEnc: Encoder[K]) {
  private def kv: KeyValueGroupedDataset[K, T] = ds.groupByKey(key)

  /** General reduce over a lazy single-pass per-key iterator —
    * `PReduce.reduce` (`dampr/dampr.py:716-725`). NOT map-side
    * combined (the function need not be associative), mirroring the
    * reference's general path (`dampr/base.py:197-207`).
    */
  def reduce[U: Encoder](f: (K, Iterator[T]) => U): Pipe[U] =
    Pipe(kv.mapGroups(f))

  /** Generator-shaped reduce — `partition_reduce` / `StreamReducer`
    * (`dampr/dampr.py:224-243`, `dampr/base.py:233-251`).
    */
  def flatReduce[U: Encoder](f: (K, Iterator[T]) => IterableOnce[U]): Pipe[U] =
    Pipe(kv.flatMapGroups(f))

  /** Associative fold with map-side combine — `ARReduce.reduce`
    * (`dampr/dampr.py:661-691`).
    *
    * Each map partition first streams through an [[InMapperCombiner]]
    * (in-mapper combining, Lin & Dyer; the reference's
    * `PartialReduceCombiner`, `dampr/base.py:393-402`), which emits one
    * `(key, partial)` row per key and flush. Those rows then meet
    * `reduceGroups(binop)` on the carried key, whose
    * `ObjectHashAggregate` keeps Spark's memory-safe partial and final
    * merge. Without the combiner that aggregate consumes every raw row,
    * decoding each into objects, and falls back to sort-based
    * aggregation once a partition holds more than 128 keys
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`).
    *
    * Order: within a partition values fold in input order,
    * `binop(earlier, later)`; across partitions the order is arbitrary.
    * That is the guarantee `reduceGroups` alone gave, so `binop` must be
    * associative but need not be commutative.
    */
  def fold(binop: (T, T) => T)(implicit e: Encoder[(K, T)]): Pipe[(K, T)] = fold(binop, None)

  /** [[fold]] with the combiner's entry bound fixed instead of derived
    * from the heap, so tests can force both sides of its flush.
    */
  private[graft] def fold(binop: (T, T) => T, maxEntries: Option[Int])(
      implicit e: Encoder[(K, T)]): Pipe[(K, T)] = {
    val key = this.key // keeps `this` and its Dataset out of the task closure
    val partials = ds.mapPartitions(rows => new InMapperCombiner(rows, key, binop, maxEntries))(e)
    Pipe(partials.groupByKey(_._1).mapValues(_._2)(ds.encoder).reduceGroups(binop))
  }

  /** Arbitrary first value per key — `ARReduce.first`
    * (`dampr/dampr.py:693-699`): the first in input order of some
    * partition.
    */
  def first()(implicit e: Encoder[(K, T)]): Pipe[(K, T)] = fold((a, _) => a)

  /** Per-key distinct values preserving set semantics —
    * `PReduce.unique` (`dampr/dampr.py:727-746`).
    */
  def unique[S: Encoder](sub: T => S)(implicit e: Encoder[(K, Seq[S])]): Pipe[(K, Seq[S])] =
    Pipe(kv.mapGroups((k, it) => (k, it.map(sub).toSeq.distinct)))

  def count()(implicit e: Encoder[(K, Long)]): Pipe[(K, Long)] = Pipe(kv.count())
}

/** Bounded in-mapper combiner under [[GroupedPipe.fold]]: folds each
  * row of one partition into its key's partial with
  * `binop(partial, row)` in input order, and emits every partial as a
  * `(key, partial)` row and clears once it holds `maxEntries` keys or
  * the partition ends. Keys compare by `equals`/`hashCode`, null keys
  * included; keys that differ there but encode alike (arrays) only
  * combine less, since the final merge groups on the encoded key.
  *
  * When `maxEntries` is not given the bound follows the heap:
  * [[InMapperCombiner.budgetBytes]] divided by the bytes per entry
  * that `SizeEstimator` measures on the live map, re-measured each time
  * the number of rows folded doubles so that partials which grow (lists,
  * concatenations) still flush before they outgrow the budget.
  */
private[graft] final class InMapperCombiner[K, T](
    rows: Iterator[T], key: T => K, binop: (T, T) => T, maxEntries: Option[Int])
    extends Iterator[(K, T)] {
  import InMapperCombiner._
  require(maxEntries.forall(_ >= 1), s"maxEntries must be at least 1, got $maxEntries")

  private val partials = new java.util.HashMap[K, T]()
  private val budget = if (maxEntries.isEmpty) budgetBytes() else 0L
  private var limit = maxEntries.getOrElse(Int.MaxValue)
  private var folded = 0L
  private var nextSample = SampleRows
  private var out: java.util.Iterator[java.util.Map.Entry[K, T]] = java.util.Collections.emptyIterator()

  def hasNext: Boolean = out.hasNext || { partials.clear(); fill(); out.hasNext }

  def next(): (K, T) = {
    if (!hasNext) throw new NoSuchElementException("InMapperCombiner exhausted")
    val entry = out.next()
    (entry.getKey, entry.getValue)
  }

  private def fill(): Unit = {
    while (partials.size < limit && rows.hasNext) {
      val t = rows.next()
      val k = key(t)
      val prev = partials.get(k)
      partials.put(k, if (prev == null && !partials.containsKey(k)) t else binop(prev, t))
      folded += 1
      if (folded == nextSample && maxEntries.isEmpty) {
        val perEntry = math.max(1L, SizeEstimator.estimate(partials) / partials.size)
        limit = math.max(1L, math.min(Int.MaxValue.toLong, budget / perEntry)).toInt
        nextSample *= 2
      }
    }
    out = partials.entrySet().iterator()
  }
}

private[graft] object InMapperCombiner {
  /** Rows folded before the first size sample. */
  val SampleRows = 64L

  /** Heap one task's combiner may hold: a tenth of the JVM's max heap
    * per task slot of this executor. The combiner's map lives outside
    * Spark's unified memory region (`spark.memory.fraction` 0.6), so
    * this takes a quarter of the 40% of heap Spark leaves to user
    * objects, and needs no setting of its own.
    */
  def budgetBytes(): Long = {
    val cores = Option(SparkEnv.get).map(_.conf.getInt("spark.executor.cores", 0)).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val slots = math.max(1, cores / Option(TaskContext.get()).map(_.cpus()).getOrElse(1))
    Runtime.getRuntime.maxMemory / 10 / slots
  }
}

/** Two-input grouped join — the reference's `PJoin`
  * (`dampr/dampr.py:768-829`). Both sides are grouped by key before
  * joining, so reduce functions receive `(key, leftIter, rightIter)` —
  * a cogroup, not a row-level join (SURVEY.md §2.4). Lowered to
  * `KeyValueGroupedDataset.cogroup`, which co-partitions both sides in
  * a single shuffle each.
  */
final case class JoinedPipe[K, T, U](left: KeyValueGroupedDataset[K, T], right: KeyValueGroupedDataset[K, U]) {

  /** Inner join: emit f(key, leftIt, rightIt) for keys present on both
    * sides — `PJoin.reduce(many=False)` (`dampr/dampr.py:780-802`).
    */
  def reduce[V: Encoder](f: (K, Iterator[T], Iterator[U]) => V): Pipe[V] =
    Pipe(left.cogroup(right) { (k, l, r) =>
      if (l.isEmpty || r.isEmpty) Iterator.empty
      else {
        // cogroup iterators are single-pass; isEmpty on a
        // non-buffered iterator would consume the head.
        val lb = l.buffered; val rb = r.buffered
        if (lb.hasNext && rb.hasNext) Iterator.single(f(k, lb, rb)) else Iterator.empty
      }
    })

  /** Inner join with flattened (1→N) output — `many=True`
    * (`dampr/dampr.py:797-801`).
    */
  def flatReduce[V: Encoder](f: (K, Iterator[T], Iterator[U]) => IterableOnce[V]): Pipe[V] =
    Pipe(left.cogroup(right) { (k, l, r) =>
      val lb = l.buffered; val rb = r.buffered
      if (lb.hasNext && rb.hasNext) f(k, lb, rb).iterator else Iterator.empty
    })

  /** Left outer join: right iterator may be empty —
    * `PJoin.left_reduce` (`dampr/dampr.py:804-820`).
    */
  def leftReduce[V: Encoder](f: (K, Iterator[T], Iterator[U]) => V): Pipe[V] =
    Pipe(left.cogroup(right) { (k, l, r) =>
      val lb = l.buffered
      if (lb.hasNext) Iterator.single(f(k, lb, r)) else Iterator.empty
    })

  /** Per-matching-key cross product — `PJoin._cross` / `CrossJoin`
    * (`dampr/dampr.py:822-829`, `dampr/base.py:322-335`).
    */
  def cross[V: Encoder](f: (T, U) => V): Pipe[V] =
    Pipe(left.cogroup(right) { (_, l, r) =>
      val rs = r.toVector
      l.flatMap(t => rs.iterator.map(u => f(t, u)))
    })

  /** Full outer join — correctly implemented, unlike the reference's
    * dead/buggy `OuterJoin` (`dampr/base.py:337-371`, SURVEY.md §7.3).
    */
  def fullReduce[V: Encoder](f: (K, Iterator[T], Iterator[U]) => V): Pipe[V] =
    Pipe(left.cogroup(right)((k, l, r) => Iterator.single(f(k, l, r))))
}
