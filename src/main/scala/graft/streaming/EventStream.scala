package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming over the `events` table shape (SURVEY.md
  * §2.10: the reference has no streaming at all — this is the
  * beyond-parity extension). The same aggregations exist in batch form
  * as q40/q41 so correctness is oracle-checked there; these entry
  * points run them incrementally with watermarks and state.
  */
object EventStream {

  /** Watermarked tumbling-window aggregation: the streaming form of
    * q40_window_events. At scale: state is bounded by the watermark
    * horizon; each window+type key holds one partial aggregate.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("total_value"))

  /** Session windows via the built-in session_window (gap-based). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("user_id"), col("n_events"))

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class UserRunning(user_id: Long, n_events: Long)
  case class StreamDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * count — the arbitrary-stateful-operator path
    * (`KeyValueGroupedDataset.mapGroupsWithState`).
    */
  def runningUserCounts(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_type")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[UserEvent], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val now = prev + evs.size
          state.update(now)
          UserRunning(uid, now)
      }.toDF()
  }

  /** Streaming exact dedup: first occurrence per event_id wins, with
    * state bounded by the watermark horizon
    * (`dropDuplicatesWithinWatermark`) — the streaming face of the
    * batch exact-dedup operators. At scale, state holds only ids seen
    * within the watermark window, not the full history.
    */
  def dedupedEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Streaming corpus curation: incremental ingestion of documents
    * with the SAME scoring/dedup semantics as the batch pipeline —
    * quality gate + lang-ID ([[graft.functions.TextFunctions]], pure
    * Column expressions, so they run unchanged on a stream) followed by
    * watermark-bounded exact dedup on the normalized-text fingerprint
    * (first arrival wins; state holds only fingerprints within the
    * watermark horizon, not the corpus). The streaming face of
    * `CorpusPipeline.clean`'s quality + exact-dedup stages; near-dup
    * (MinHash) stays batch — LSH banding needs cross-document joins
    * that streaming state does not bound.
    */
  def curatedDocs(docs: DataFrame, minQuality: Double = 0.5,
      watermark: String = "1 hour"): DataFrame = {
    import graft.functions.TextFunctions
    docs
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("lang_pred", TextFunctions.langId(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Stream-stream interval join with watermarks: attribute each
    * purchase to clicks by the same user within the preceding hour.
    * Both sides are watermarked so join state is bounded — Spark drops
    * buffered rows older than watermark + interval. The batch form of
    * this query is the q47 as-of join's sibling (all clicks in window,
    * not just the latest).
    */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "2 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "2 hours")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("p_id"), col("c_id"))
  }

  /** Stream-stream LEFT OUTER interval join: every click, attributed
    * to the purchases it preceded within the hour — or emitted with a
    * NULL purchase once the watermark proves no match can still
    * arrive. The null row is the interesting half: "clicks that never
    * converted" is an anti-join question, and in streaming it can
    * only be answered after the watermark passes the click's match
    * horizon — Spark buffers the click in join state until then, so
    * state stays bounded by watermark + interval, and the unmatched
    * verdict is late but never wrong.
    */
  def unconvertedClicks(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "10 minutes")
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("c_user").as("user_id"), col("c_id"), col("p_id"))
  }

  case class SessionOut(user_id: Long, n_events: Long, start_ts: Long, end_ts: Long)

  case class UserStage(user_id: Long, stage_reached: Int)

  /** Streaming strict sequential funnel — the incremental face of
    * [[graft.operators.Sequence.funnel]]: per-user keyed state holds
    * (stages completed, frontier event-time in micros); each batch's
    * events are replayed in event-time order against the greedy
    * frontier, which computes exactly the batch funnel's nested
    * earliest-completion times (greedy-earliest ≡ nested min under
    * the strict-after rule). State is two numbers per user — bounded
    * by the user population, not the event history. Correct under
    * in-order-per-user delivery across batches (the monotone-log
    * streaming contract; a late event older than the frontier cannot
    * rewind a completed stage).
    */
  def funnelStream(spark: SparkSession, events: DataFrame,
      stages: Seq[String], maxGapSec: Option[Long] = None): DataFrame = {
    import spark.implicits._
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000
    // windowed variant (q210's semantics): greedy-first-eligible under
    // (frontier, frontier + gap] equals the batch nested-min-within-
    // window — the first in-time event satisfying the window IS the
    // min; if none exists in the window, neither side ever advances.
    val gapMicros = maxGapSec.map(_ * 1000000L)
    events.select(col("user_id"), col("ts"), col("event_type")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[UserEvent], state: GroupState[(Int, Long)]) =>
          var (s, frontier) = state.getOption.getOrElse((0, Long.MinValue))
          val sorted = evs.toArray.sortBy(e => (micros(e.ts), e.event_type))
          for (e <- sorted if s < stages.length)
            if (e.event_type == stages(s) &&
                (s == 0 || (micros(e.ts) > frontier &&
                  gapMicros.forall(g => micros(e.ts) <= frontier + g)))) {
              frontier = micros(e.ts); s += 1
            }
          state.update((s, frontier))
          UserStage(uid, s)
      }.toDF()
  }

  case class PathEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String)
  case class PathOut(user_id: Long, path: String)

  /** Streaming event-type n-gram miner — the incremental face of
    * [[graft.operators.Sequence.eventNgrams]]: per-user state holds
    * only the last `n-1` event types (O(n) per user, never the
    * history); each batch replays its events in (ts, event_id) order
    * against that buffer and emits every n-gram the batch completes,
    * including the ones that SPAN batch boundaries — which is the
    * whole point of carrying the buffer. Downstream counts the
    * emitted paths (the batch query's groupBy face). Correct under
    * in-order-per-user delivery across batches (the same monotone-log
    * contract as [[funnelStream]]).
    */
  def pathStream(spark: SparkSession, events: DataFrame, n: Int): DataFrame = {
    import spark.implicits._
    require(n >= 2, s"pathStream: n must be >= 2, got $n")
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[PathEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (uid: Long, evs: Iterator[PathEvent], state: GroupState[List[String]]) => {
          var buf = state.getOption.getOrElse(Nil) // last n-1 types, oldest first
          val out = List.newBuilder[PathOut]
          for (e <- evs.toArray.sortBy(e => (micros(e.ts), e.event_id))) {
            buf = (buf :+ e.event_type).takeRight(n)
            if (buf.length == n) {
              out += PathOut(uid, buf.mkString(">"))
              buf = buf.tail
            }
          }
          state.update(buf)
          out.result().iterator
        }).toDF()
  }

  /** Custom gap-based sessionizer via `flatMapGroupsWithState` — the
    * fully-custom stateful operator path (SURVEY §7.3's "genuinely
    * stateful-hard item"): per-user state holds the open session;
    * events extend it while within `gapSeconds`; a larger gap emits the
    * completed session, and an EVENT-TIME TIMEOUT emits the open
    * session once the watermark passes its gap horizon — so trailing
    * sessions are flushed and state is dropped, not retained forever.
    * State per key is O(1) — only the open session's bounds.
    */
  def customSessions(spark: SparkSession, events: DataFrame, gapSeconds: Long,
      watermarkDelay: String = "30 minutes"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id"), col("ts"), col("event_type")).as[UserEvent]
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (uid: Long, evs: Iterator[UserEvent], state: GroupState[(Long, Long, Long)]) => {
          // state = (n_events, start_epochSec, last_epochSec)
          if (state.hasTimedOut) {
            // Watermark passed last_ts + gap: nothing can extend the
            // open session any more — emit it and drop the state.
            val out = state.getOption.map { case (n, s0, last) => SessionOut(uid, n, s0, last) }
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            var out = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                case Some((n, s0, last)) if sec - last <= gapSeconds =>
                  cur = Some((n + 1, s0, sec))
                case Some((n, s0, last)) =>
                  out ::= SessionOut(uid, n, s0, last)
                  cur = Some((1L, sec, sec))
                case None =>
                  cur = Some((1L, sec, sec))
              }
            }
            cur.foreach { c =>
              state.update(c)
              // Schedule the flush for when the watermark passes the
              // session's gap horizon (clamped: setTimeoutTimestamp
              // rejects timestamps at/behind the current watermark).
              val horizon = c._3 * 1000 + gapSeconds * 1000
              state.setTimeoutTimestamp(math.max(horizon, state.getCurrentWatermarkMs() + 1))
            }
            out.reverseIterator
          }
        }).toDF()
  }

  /** Durable file-sink run with checkpointing: the exactly-once path.
    * The checkpoint dir records processed input files + sink epochs, so
    * a restarted query resumes from the last committed batch — rerun
    * after new files arrive and only the new data is processed. Returns
    * the started query (AvailableNow: drains current input and stops).
    */
  def runToParquet(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, build: DataFrame => DataFrame): StreamingQuery = {
    val schema = spark.read.parquet(inputDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
    build(stream).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming incremental dedup: every micro-batch of documents is
    * verdicted (`exact_dup` / `near_dup` / `kept`) against the SAME
    * at-rest [[graft.operators.Dedup.writeDedupIndex]] summaries the
    * batch path probes (q115). `foreachBatch` is the right harness —
    * the verdict is per-batch joins against an index at rest, not
    * keyed operator state, so a restarted query has NO state to
    * rebuild and the probe cost keeps tracking the batch, never the
    * corpus. Each micro-batch lands in its own `batch=<id>` dir with
    * overwrite, so a retried batch replaces itself instead of
    * duplicating (idempotent sink — the streaming half of
    * exactly-once; pair with a checkpointLocation for the source
    * half).
    */
  def incrementalDedupStream(newDocs: DataFrame, indexPath: String,
      outPath: String, threshold: Double = 0.6)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup
          .dedupAgainstIndex(batch, "doc_id", "text", indexPath, threshold)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        // the probe registers a persisted signature frame per batch; a
        // long-running stream must return that storage every batch or
        // persisted blocks grow without bound (GraftCache's documented
        // release-after-terminal-action discipline)
        graft.GraftCache.releaseAll()
      }

  /** [[incrementalDedupStream]] against a CONTRACT index: the probe
    * geometry is read from the `_geometry/` metadata
    * [[graft.operators.Dedup.writeDedupIndexContract]] persisted, so a
    * stream can never sign its batches at a different signature width
    * than the index was written at — the silent-recall-loss hazard the
    * legacy path leaves to caller discipline (every batch signed at a
    * mismatched k cohabits NO band and every near-dup is "kept").
    * Same foreachBatch/idempotent-sink harness; refuses an index
    * without geometry metadata AT STREAM CONSTRUCTION (the `_geometry/`
    * read happens once, here — not per micro-batch), and releases the
    * per-batch signature persist every batch so a long-running stream's
    * cached blocks stay bounded.
    */
  def incrementalDedupContractStream(newDocs: DataFrame, indexPath: String,
      outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val geometry = graft.operators.Dedup
      .readDedupIndexGeometry(newDocs.sparkSession, indexPath)
    newDocs.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup
          .dedupAgainstIndexContract(batch, "doc_id", "text", indexPath, geometry)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        graft.GraftCache.releaseAll()
      }
  }

  /** Streaming CDC into a [[graft.operators.Versioned]] table: each
    * micro-batch upserts by `key` as one new committed snapshot, so a
    * reader at any moment sees some complete prefix of the batch
    * sequence — never a partially-applied batch (the pointer swap is
    * the visibility boundary). Replaying a batch re-merges the same
    * rows: the table CONTENT is idempotent under retries (a duplicate
    * version is written, not duplicate rows), and old versions remain
    * readable for time travel across the stream's history.
    */
  def versionedUpsertStream(updates: DataFrame, tablePath: String, key: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Versioned.upsert(batch.sparkSession, tablePath, batch, key)
        ()
      }

  /** Stream-static enrichment: the event stream joined to an at-rest
    * dimension (user segments, document metadata). The static side
    * broadcasts and is re-resolved per micro-batch — on a cluster that
    * means a dimension refreshed at rest is picked up by later batches
    * without restarting the query, and the stream side never shuffles
    * for the join. The remaining streaming join shape beside the
    * stream-stream joins already pinned; StreamingSpec pins
    * stream ≡ batch enrichment.
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), key)

  /** Streaming PSI drift monitor — the streaming face of
    * [[graft.operators.Features.psiDrift]]: every micro-batch of the
    * metric stream is scored against the AT-REST reference
    * distribution (the training-time snapshot), and the 10-row PSI
    * verdict lands in its own `batch=<id>` overwrite directory —
    * retries idempotent, history append-only, so an alerting job just
    * tails the state dir. The reference frame is static (broadcast
    * bounds + 10-row bucket spine); per batch the only data-sized work
    * is one pass over that batch. StreamingSpec pins single-batch
    * stream ≡ batch operator.
    */
  def psiDriftStream(metrics: DataFrame, ref: DataFrame,
      vm: org.apache.spark.sql.Column, statePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    metrics.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Features.psiDrift(ref, batch, vm)
          .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
      }

  /** Streaming replication checksum: each micro-batch's
    * [[graft.operators.Relational.tableChecksum]] row lands in its own
    * `batch=<id>` overwrite directory under `statePath`, so retries of
    * a batch are idempotent (same dir rewritten, never double-counted)
    * and the running total is the SUM over the state rows — valid
    * because the checksum is an exact integer sum, hence associative
    * across any batch partitioning of the rows. StreamingSpec pins
    * stream-accumulated total ≡ one batch scan. This is how a CDC
    * replica gets its "did everything arrive intact" verdict without
    * ever rescanning the source: per-batch kilobyte rows, summed.
    */
  def checksumStream(rows: DataFrame, cols: Seq[String], statePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Relational.tableChecksum(batch, cols)
          .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
      }

  /** Running total over a [[checksumStream]] state directory. */
  def checksumTotal(spark: SparkSession, statePath: String): (Long, Long) = {
    val r = spark.read.parquet(statePath)
      .agg(org.apache.spark.sql.functions.sum("n_rows"),
        org.apache.spark.sql.functions.sum("checksum")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Drive a streaming query from a static parquet dir through the
    * memory sink synchronously — the local smoke path (one parquet file
    * per micro-batch via maxFilesPerTrigger).
    */
  def runToMemory(spark: SparkSession, dir: String, name: String,
      build: DataFrame => DataFrame, outputMode: OutputMode = OutputMode.Append()): StreamingQuery = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/events.parquet")
    build(stream).writeStream
      .outputMode(outputMode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
