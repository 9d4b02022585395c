package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables
import CommitLog.fs

/** Structured Streaming surface (SURVEY §2.1 S6, §2.8 V11/V16): the
  * reference's per-frame event loop becomes micro-batch streams; its
  * turn-state machine becomes keyed state in flatMapGroupsWithState.
  *
  * At scale: state is partitioned by key (game_id / user_id) across
  * executors, checkpointed incrementally; watermarks bound state size
  * for the windowed aggregations. Tested with MemoryStream
  * (StreamingSpec) — the same code runs against Kafka-style sources.
  */
object Streaming {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Event-time tumbling-window counts with a watermark (V16): the
    * streaming twin of q09. Append mode: a window emits once its
    * watermark passes. */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("day"), col("event_type"), col("n_events"))

  /** Session windows per user with a 30-minute gap (V16 /
    * ui_app.cpp:66-72 frame-loop analogue). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Sliding-window counts (V16): overlapping windows — each event
    * lands in windowDuration/slideDuration windows, the trend-monitor
    * shape (e.g. "events per day, refreshed every 6 hours"). Same
    * watermark-bounded state as the tumbling form. */
  def slidingEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"))

  /** Stream-static enrichment join (V16 × J7): each micro-batch joins
    * the stream against a static dimension, broadcast at plan time —
    * the canonical "enrich the clickstream with dimension attributes"
    * deployment shape. Stateless: the static side is re-snapshotted
    * per batch, so dimension updates between batches are picked up and
    * no join state accumulates. */
  def enrichedStream(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup (V14 × S6): the streaming twin of q14/q47 —
    * drop events whose dedup key was already seen, with state bounded
    * by the watermark (dropDuplicatesWithinWatermark evicts keys older
    * than the horizon, so state never grows unboundedly — the property
    * that makes streaming dedup deployable over an unbounded 100 TB/day
    * feed; plain dropDuplicates on a stream would accumulate forever).
    * On a BATCH frame the same entry point degrades to dropDuplicates
    * (Spark rejects dropDuplicatesWithinWatermark outside streaming;
    * with the whole input in one "batch" the horizon spans everything,
    * so the key-set contract is identical) — q102 declares that batch
    * form under the oracle and StreamingSpec equates the two. */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame = {
    val marked = events.withWatermark("ts", "1 hour")
    if (events.isStreaming) marked.dropDuplicatesWithinWatermark(keyCols)
    else marked.dropDuplicates(keyCols)
  }

  /** Stream-STREAM interval join (V16 × J10): impressions ⋈ clicks on
    * user within an event-time window — the attribution-join deployment
    * shape. BOTH sides carry watermarks and the join condition bounds
    * event-time distance, so each side's buffered state is evicted once
    * the other side's watermark passes the window — the pair of
    * constraints that makes a stream-stream join runnable forever on an
    * unbounded feed (either one alone accumulates state without bound).
    * State is partitioned by the equi-key (user), same as a batch
    * shuffle join. */
  def attributionJoinStream(impressions: DataFrame,
      clicks: DataFrame): DataFrame =
    impressions.withWatermark("imp_ts", "30 minutes")
      .join(clicks.withWatermark("click_ts", "30 minutes"),
        expr("imp_user = click_user AND " +
          "click_ts >= imp_ts AND click_ts <= imp_ts + INTERVAL 10 MINUTES"))
      .select(col("imp_user").as("user_id"), col("imp_id"), col("click_id"),
        col("imp_ts"), col("click_ts"))

  /** q96 — the attribution join DECLARED as a batch query so the
    * streaming surface sits under the driver's DuckDB oracle: views ⋈
    * clicks per user within a 10-minute event-time window, computed by
    * the EXACT attributionJoinStream code (withWatermark is a no-op on
    * batch Datasets — Catalyst's EliminateEventTimeWatermark — so the
    * logical join is byte-identical to the deployed stream-stream
    * plan). StreamingSpec feeds the same rows through MemoryStream and
    * equates the collected stream output with this result, closing the
    * batch = stream = oracle triangle. */
  def q96StreamAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
    val imps = ev.filter(col("event_type") === "view")
      .select(col("ts").as("imp_ts"), col("user_id").as("imp_user"),
        col("event_id").as("imp_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ts").as("click_ts"), col("user_id").as("click_user"),
        col("event_id").as("click_id"))
    attributionJoinStream(imps, clicks)
      .orderBy("user_id", "imp_id", "click_id")
  }

  /** q101 — slidingEventCounts DECLARED as a batch query (the q96
    * pattern): each event lands in 24h/6h = 4 overlapping epoch-aligned
    * windows; the EXACT streaming code runs on the batch frame
    * (withWatermark is a no-op in batch), so the oracle's hash covers
    * the deployed sliding-window plan. The DuckDB oracle rebuilds the
    * window assignment from epoch arithmetic. */
  def q101SlidingWindows(spark: SparkSession, dir: String): DataFrame =
    slidingEventCounts(
      Tables.events(spark, dir).select(col("ts"), col("event_type")))
      .orderBy("win_start", "event_type")

  /** q102 — dedupStream DECLARED as a batch query: the EXACT
    * watermarked-dedup code (dropDuplicatesWithinWatermark ≡
    * dropDuplicates on a batch frame) runs over events keyed by
    * (user_id, event_type). Only the KEY columns are emitted — the
    * non-key columns of the survivor are arrival-order-dependent in
    * both the stream and the batch form, so the deterministic (and
    * therefore oracle-checkable) contract of the operator is exactly
    * its key set. Oracle: SELECT DISTINCT. */
  def q102StreamDedup(spark: SparkSession, dir: String): DataFrame =
    dedupStream(
      Tables.events(spark, dir).select(col("ts"), col("user_id"),
        col("event_type")),
      Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"))
      .orderBy("user_id", "event_type")

  /** q107 — windowedEventCounts (tumbling day windows) DECLARED as a
    * batch query: the last streaming aggregation shape still outside
    * the oracle. The oracle rebuilds the epoch-aligned day window with
    * date_trunc. */
  def q107TumblingWindows(spark: SparkSession, dir: String): DataFrame =
    windowedEventCounts(
      Tables.events(spark, dir).select(col("ts"), col("event_type")))
      .orderBy("day", "event_type")

  /** q108 — enrichedStream (stream-static broadcast join) DECLARED as
    * a batch query: events enriched with the customer dimension on
    * user_id (the clickstream-enrichment deployment shape; the
    * broadcast hint is identical in both forms). Left join keeps
    * unmatched events with NULL segment — the oracle mirrors with
    * COALESCE for hash-stable output. */
  def q108StreamEnrich(spark: SparkSession, dir: String): DataFrame =
    enrichedStream(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type")),
      Tables.customer(spark, dir)
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment")),
      "user_id")
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("segment"), lit("NONE")).as("segment"))
      .orderBy("event_id")

  /** Keyed EMA state: the running average, how many ticks fed it, the
    * highest event_id folded so far (the in-order frontier), and how
    * many out-of-order ticks were rejected at that frontier. */
  case class EmaState(ema: Double, n: Long, maxId: Long, late: Long)

  /** V12 streaming form: per-user EMA smoothing as keyed state via
    * mapGroupsWithState (the one-output-per-group-per-batch sibling of
    * replayStream's flatMapGroupsWithState) — each micro-batch folds
    * the user's new ticks (ordered by event_id, the replay convention)
    * into the persisted state and emits the updated summary. The fold
    * is IDENTICAL to batch q25 (`a += (v − a) · 0.2`,
    * ui_app.cpp:242-263), so feeding the same ticks in event_id order
    * across any batch split reproduces q25's rows exactly —
    * StreamingSpec asserts that equivalence on real data.
    *
    * The batch=stream contract only holds for in-order delivery, so it
    * is ENFORCED, not assumed: the state tracks the max folded
    * event_id, and a tick arriving at or below that frontier (a
    * cross-batch replay or out-of-order straggler) is dropped and
    * counted in `EmaState.late` instead of silently folding in arrival
    * order and diverging from q25. */
  def emaStream(ticks: Dataset[(Long, Long, Double)])
    : Dataset[(Long, Long, Long)] = {
    import ticks.sparkSession.implicits._
    val rate = 0.2
    ticks.groupByKey(_._1)
      .mapGroupsWithState[EmaState, (Long, Long, Long)](
        GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[(Long, Long, Double)],
         state: GroupState[EmaState]) =>
          val prev = state.getOption.getOrElse(EmaState(0.0, 0L, Long.MinValue, 0L))
          var ema = prev.ema
          var n = prev.n
          var maxId = prev.maxId
          var late = prev.late
          batch.toSeq.sortBy(_._2).foreach { case (_, id, v) =>
            if (id <= maxId) late += 1
            else {
              ema += (v - ema) * rate
              n += 1
              maxId = id
            }
          }
          state.update(EmaState(ema, n, maxId, late))
          (user, n, math.floor(ema * 10000).toLong)
      }
  }

  /** V11 streaming form: per-game turn-state machine as keyed state.
    * Each micro-batch folds that game's new moves (ordered by seq) into
    * the persisted GameReplay state and emits the updated summary.
    * Shares Replay.GameReplay — identical semantics to batch q24. */
  def replayStream(moves: Dataset[Replay.MoveEvent])
    : Dataset[Replay.ReplaySummary] = {
    import moves.sparkSession.implicits._
    moves.groupByKey(_.game_id)
      .flatMapGroupsWithState[Replay.GameReplay, Replay.ReplaySummary](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (gameId: Int, batch: Iterator[Replay.MoveEvent],
         state: GroupState[Replay.GameReplay]) =>
          val prev = state.getOption.getOrElse(Replay.GameReplay())
          val next = batch.toSeq.sortBy(m => (m.seq, m.piece_id))
            .foldLeft(prev)(_.apply(_))
          state.update(next)
          Iterator.single(next.summary(gameId))
      }
  }

  /** Idempotent micro-batch parquet write (S5 × S6): each batch lands
    * in its OWN `batch_id=N` partition directory with mode=overwrite,
    * so a REPLAYED batch (restart after a failure between the write
    * and the checkpoint commit — the at-least-once window of
    * foreachBatch) rewrites the same directory instead of appending
    * duplicates. Overwrite-per-batch-dir upgrades foreachBatch's
    * at-least-once to exactly-once for any reader of the table root,
    * and `batch_id=` is a plain hive partition column, so readers
    * prune on it like any other. This is the continuous-ingestion
    * write path of the warehouse story (q100/q114 decide layout at
    * write time; this is the same decision under a stream).
    *
    * The batch's durability signal is an explicit [[BatchCommit]]
    * marker written here AFTER the parquet job, not Spark's `_SUCCESS`:
    * object-store committers commonly run with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, under
    * which every batch would be permanently invisible to readers and
    * never compacted — the same failure mode [[EpochCommit]] exists to
    * avoid for epochs. mode=overwrite deletes the whole dir (marker
    * included) before rewriting, so a replay atomically un-commits and
    * re-commits its own directory.
    *
    * Single-writer is ENFORCED, not assumed (the [[WriterLock]] lease):
    * this 3-arg form is the ONE-SHOT writer — it takes an ephemeral
    * exclusive lease for the duration of the write and releases it, so
    * an ad-hoc backfill on a sink with a LIVE stream writer fails
    * loudly instead of silently interleaving; a long-lived stream
    * holds a durable lease instead (acquire via [[acquireWriter]] once
    * and use the 5-arg fenced form per batch — what
    * [[parquetSinkStream]] does). */
  def writeBatchIdempotent(batch: DataFrame, path: String, batchId: Long): Unit = {
    val writerId = s"oneshot-${java.util.UUID.randomUUID()}"
    val spark = batch.sparkSession
    val fence = acquireWriter(spark, path, writerId)
    try writeLeased(batch, path, batchId, writerId, fence)
    finally releaseWriter(spark, path, writerId, fence)
  }

  /** Fenced form for a long-lived writer holding a durable lease from
    * [[acquireWriter]]: verifies ownership before the write and fails
    * loudly if a successor (restart, takeover, staleness steal) has
    * displaced this instance. */
  def writeBatchIdempotent(batch: DataFrame, path: String, batchId: Long,
      writerId: String, fence: Long): Unit =
    writeLeased(batch, path, batchId, writerId, fence)

  /** Streaming parquet sink over writeBatchIdempotent: the deployment
    * shape for continuously ingesting an event feed into the
    * warehouse. Restart-safe via the checkpoint (StreamingSpec kills
    * and resumes it; the replayed-batch property is asserted directly
    * on writeBatchIdempotent).
    *
    * `compactEvery = K` (opt-in, 0 = off) runs [[compactSink]] inline
    * after every K-th micro-batch, so the sink self-maintains instead
    * of needing an external cron. This is SAFE against the replay
    * window by construction: the batch just written is always the max
    * live id, and non-quiesced compaction never consumes the max live
    * id (see compactSink) — a restart that replays it finds its dir
    * untouched and overwrites in place.
    *
    * Single-writer enforcement: the stream acquires the sink's
    * [[WriterLock]] lease BEFORE starting, identified by its
    * checkpoint path — so a restart from the same checkpoint is the
    * same writer and takes over (fencing off any zombie predecessor),
    * while a second stream (different checkpoint) or a concurrent
    * one-shot backfill fails loudly at start instead of interleaving
    * `batch_id=` overwrites. The lease is heartbeated each batch and
    * released when the query terminates (a crashed JVM's lease goes
    * stale and is stolen by the successor). */
  /** The writer-lease LIFECYCLE around a streaming query, shared by
    * [[parquetSinkStream]] and [[cdcSinkStream]] (one definition, or
    * the two drift): release the lease when `start` itself throws
    * (unwritable checkpoint, bad plan — the lease must not strand
    * until the staleness horizon); heartbeat on IDLE triggers — an
    * empty trigger posts QueryIdleEvent, NOT QueryProgressEvent, and
    * never reaches foreachBatch, so without this a quiet feed ages
    * past `lockStaleMs` and gets displaced while perfectly alive
    * (data batches heartbeat through the write path itself); release
    * on termination via the listener; and release directly if the
    * query died inside the registration window (listeners added after
    * an event is posted never receive it). Every release and
    * heartbeat is ownership-guarded, so double release and zombie
    * refresh are both impossible. */
  private def leasedQuery(spark: SparkSession, path: String,
      writerId: String, fence: Long)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    def release(): Unit =
      try releaseWriter(spark, path, writerId, fence)
      catch { case ex: Exception =>
        log.warn(s"writer lease release on $path failed " +
          s"(will age out at the staleness horizon): $ex")
      }
    val query =
      try start
      catch { case e: Throwable => release(); throw e }
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit =
        if (e.id == query.id) heartbeatWriter(spark, path, writerId, fence)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          release()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    if (!query.isActive) {
      release()
      spark.streams.removeListener(listener)
    }
    query
  }

  def parquetSinkStream(events: DataFrame, path: String,
      checkpoint: String, compactEvery: Int = 0, tsCol: String = "ts")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = events.sparkSession
    val writerId = "ckpt-" + java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val fence = acquireWriter(spark, path, writerId)
    leasedQuery(spark, path, writerId, fence) {
      events.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          writeBatchIdempotent(batch, path, id, writerId, fence)
          if (compactEvery > 0 && (id + 1) % compactEvery == 0)
            compactSink(batch.sparkSession, path, tsCol)
          ()
        }
        .option("checkpointLocation", checkpoint)
        .outputMode("append").start()
    }
  }

  /** Streaming CDC apply: the deployment form of [[upsertBatch]] — a
    * change feed (updated rows + new keys) continuously MERGEs into
    * the sink, maintaining a mutable keyed table instead of an
    * append-only log. Each micro-batch applies ATOMICALLY (one minted
    * epoch, see upsertBatch); restart safety needs no write-ahead
    * bookkeeping because re-applying a CDC batch is IDEMPOTENT — a
    * replayed batch replaces the same keys with the same rows, its
    * inserts now match-and-replace themselves (StreamingSpec pins
    * this) — so the checkpoint's replay converges on the exactly-once
    * END STATE even across a crash mid-apply (an uncommitted upsert
    * epoch is discarded wholesale by recovery, then re-applied).
    *
    * A CDC-maintained sink is written ONLY through its change stream:
    * upsertBatch's quiesce rail refuses consumable live `batch_id=`
    * dirs, so don't point [[parquetSinkStream]] at the same sink. The
    * [[WriterLock]] lease enforces single-stream: acquired by
    * checkpoint identity before start (a second stream on a live sink
    * fails loudly; a restart from the same checkpoint takes over at a
    * higher fence), verified before and heartbeated after every apply
    * (a fenced-off zombie predecessor fails its next apply), released
    * at termination (including a start() that throws, and the
    * already-terminated-before-listener-registration window).
    *
    * Two deployment contracts:
    *  - the lease heartbeats on every data apply AND on every empty
    *    trigger's progress event (heartbeatWriter) — an idle feed
    *    stays fresh as long as its query is alive; only a query whose
    *    DRIVER is gone ages to the staleness horizon, which is exactly
    *    when displacement is correct;
    *  - an apply that meets a FRESH maintenance [[CompactLock]]
    *    (maintainSink cron, vacuum, retention) retries with backoff
    *    for ~30 s before surfacing — routine maintenance delays the
    *    stream, it does not kill it. */
  def cdcSinkStream(changes: DataFrame, path: String, checkpoint: String,
      keyCols: Seq[String], tsCol: String = "ts")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = changes.sparkSession
    val writerId = "cdc-" + java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val fence = acquireWriter(spark, path, writerId)
    leasedQuery(spark, path, writerId, fence) {
      changes.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val f = fs(spark, path)
          val lock = new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(path), WriterLock)
          val cur = readWriterLock(f, lock)
          require(cur.exists(c => c._1 == writerId && c._2 == fence),
            s"writer lease on $path displaced: this CDC stream holds " +
              s"('$writerId', fence=$fence) but the lease carries " +
              s"${cur.map(c => s"('${c._1}', fence=${c._2})").getOrElse("nothing")}" +
              " - another writer took over this sink; abandoning the apply")
          // a maintenance op (maintainSink cron, vacuum, retention)
          // briefly holding the compactor lock must DELAY this apply,
          // not kill the stream: retry the fresh-lock refusal with
          // backoff before letting it escape foreachBatch
          var attempt = 0
          var applied = false
          while (!applied) {
            try { upsertBatch(spark, path, batch, keyCols, tsCol); applied = true }
            catch {
              case e: IllegalStateException
                  if e.getMessage != null &&
                    e.getMessage.startsWith("another compactor holds") &&
                    attempt < 5 =>
                attempt += 1
                Thread.sleep(math.min(2000L * attempt, 10000L))
            }
          }
          try f.setTimes(lock, System.currentTimeMillis(), -1) // heartbeat
          catch { case _: java.io.IOException => () }
          ()
        }
        .option("checkpointLocation", checkpoint)
        .outputMode("append").start()
    }
  }

  // ------------------------------------------------------- compaction
  // parquetSinkStream lands one batch_id=N directory per micro-batch;
  // at a 1-minute trigger that is ~526k directories/year — correct but
  // unreadable at warehouse scale. compactSink is the periodic batch
  // pass that folds consumed batch dirs into ONE date-partitioned epoch
  // directory (re-compacting the previous epoch forward, so epochs do
  // NOT accumulate); readSink is the union view over the single epoch
  // zone plus the not-yet-compacted live batches.

  /** Epoch commit marker, written by compactSink itself AFTER every
    * day directory (freshly written AND moved-in) is in place. We do
    * not reuse Spark's `_SUCCESS` as the commit signal: the job commit
    * fires before the move phase (so it would commit a half-merged
    * epoch), and object-store committers commonly run with
    * mapreduce.fileoutputcommitter.marksuccessfuljobs=false, which
    * would make epochs invisible forever while their sources were
    * already retired. An explicit marker has neither failure mode.
    *
    * The marker's content carries `batches=<N>`, the highest batch id
    * folded into the epoch (its CONSUMED-BATCH WATERMARK). Epoch ids
    * and batch ids were originally the same counter (an epoch took the
    * id of the max batch it consumed), but [[deleteWhere]] mints
    * epochs that consume NO batches — its epoch id advances past the
    * watermark, and every "is this batch folded in yet?" decision
    * (reader visibility, recovery retirement, retention's quiesce
    * rail) must compare against the WATERMARK, not the epoch id:
    * comparing against the id would make a batch written after a
    * delete invisible to [[readSink]] and retire it unconsumed at the
    * next compaction — silent loss. Installed atomically (temp +
    * rename) so a half-written marker can never commit an epoch with
    * a torn watermark; an EMPTY marker (readable, no watermark line)
    * falls back to the epoch id, which is exact for every epoch minted
    * before the watermark existed — but a FAILED or corrupt read
    * refuses loudly ([[EpochMarker.watermark]]), because guessing low-by-error
    * would retire live batches. */
  private val EpochCommit = "_EPOCH_COMMIT"

  /** Roll-forward manifest for the merge's move phase: lists the day
    * directories the new epoch still owes from the previous one.
    * Ordering is plan → commit → moves → plan delete → source delete,
    * so (a) an UNCOMMITTED attempt never holds moved-in days and can
    * always be discarded without loss, and (b) a COMMITTED epoch whose
    * plan still exists is complete BY REFERENCE: readers resolve each
    * planned day to whichever side of its atomic rename it is on. */
  private val MergePlan = "_MERGE_PLAN"

  /** Per-batch durability marker written by [[writeBatchIdempotent]]
    * itself (see its scaladoc for why `_SUCCESS` is not trusted). A
    * `batch_id=` directory without it is a write in flight — invisible
    * to [[readSink]] and never consumed by [[compactSink]]. */
  private[ops] val BatchCommit = "_BATCH_COMMIT"

  /** Hive's directory name for a null partition value: rows whose
    * `tsCol` is null land here. Handled explicitly throughout the
    * merge/move/read protocol — a string-formatted "day=null" key would
    * silently diverge from this name and lose the previous epoch's
    * null-day rows on re-compaction (they would be classified as an
    * untouched day to MOVE, find the destination already written by the
    * fresh null rows, and be dropped with the retired source epoch). */
  private[ops] val NullDayDir = "day=__HIVE_DEFAULT_PARTITION__"

  /** Per-epoch CDC CHANGE MANIFEST (`epoch=N/_changes/`, parquet) — the
    * write-side half of making [[SnapshotDiff.readSinkChanges]] cost
    * O(churn) instead of O(table) (the r14 verdict's #1 gap: the
    * snapshot diff's full-outer join shuffles 2× the table to ship
    * 0.1 % churn; Delta CDF exists precisely to avoid that). Every
    * mutation op already KNOWS its delta at commit time — the delete's
    * match scan computes its victims, the upsert holds its batch — so
    * it records the delta inside the epoch directory BEFORE the epoch
    * commit marker lands: the manifest commits atomically with the
    * epoch (a torn attempt is discarded wholesale by [[settleEpochs]]),
    * retires with it, and is invisible to every data read (leading
    * underscore = hidden to parquet discovery, same as [[MergePlan]]).
    *
    * Manifest rows are FLAT full-width rows (the epoch's schema,
    * `day` included) plus [[CdcKindCol]]:
    *   - `delete`       — pre-image of a removed row
    *   - `insert`       — post-image of a row whose key was new
    *   - `update_pre` / `update_post` — both images of a replaced key
    * An epoch with no row churn (the alter-only normalize pass) writes
    * an EMPTY manifest — "nothing changed" must be distinguishable
    * from "churn not recorded" (no manifest → the reader falls back to
    * the snapshot join).
    *
    * Emission (all checked per-op, so mixed-config sinks degrade to
    * the fallback, never to wrong answers):
    *   - `spark.graft.sink.changeFiles` (default FALSE — opt-in per
    *     session/phase, exactly Delta CDF's per-table
    *     `enableChangeDataFeed` model: the manifest taxes every
    *     mutation with one extra affected-days read plus an O(churn)
    *     write, which only pays off
    *     on sinks someone actually diffs) — deleteWhere / deleteKeys /
    *     upsertBatch, whose manifests are O(churn) by nature, the
    *     alter-normalize empty manifest, AND data-bearing compactions,
    *     whose churn is recorded BY REFERENCE (see below) at O(1)
    *     metadata cost — no ingest byte is ever rewritten. A
    *     retention ([[retireDays]]) never records churn: reading its
    *     expired rows back would cost O(expired data) where retention
    *     is otherwise O(1) metadata.
    *
    * INSERT epochs record churn BY REFERENCE (Delta CDF's add-only
    * commits do exactly this): a data-bearing compaction's change set
    * is precisely its consumed batches, and those directories were
    * about to be deleted anyway — so the manifest stores their NAMES
    * ([[CdcRefCol]] rows) and the post-commit batch retirement MOVES
    * each one under the epoch's [[ChangesRefDir]] instead of deleting
    * it (O(1) renames). [[readEpochChanges]] resolves each name to
    * whichever side of its rename it is on; a crash between the commit
    * and the moves is finished by the next compaction's recovery
    * ([[settleChangeRefs]]). The referenced bytes then live exactly as
    * long as the epoch does — change data retained with its version,
    * reclaimed when retention retires the epoch. */
  private[ops] val ChangesDir = "_changes"

  /** Where an insert epoch's by-reference change data lands: the
    * consumed batch dirs, renamed under the epoch at retirement time
    * (hidden from data reads by the leading underscore, like
    * [[ChangesDir]] itself). */
  private[ops] val ChangesRefDir = "_changes_ref"

  /** The by-reference column of a [[ChangesDir]] manifest: the name of
    * a consumed batch directory whose files ARE this epoch's insert
    * rows. Reserved like [[CdcKindCol]]. */
  private[ops] val CdcRefCol = "__cdc_ref"

  /** The change kind column of a [[ChangesDir]] manifest. The "__cdc"
    * prefix is reserved: mutation ops refuse a sink column colliding
    * with it, and the reader's fold bookkeeping stays collision-free. */
  private[ops] val CdcKindCol = "__cdc_kind"

  /** Run a sink FILE WRITE with parquet timestamps as INT64
    * microseconds. This Spark build's session default is legacy INT96,
    * which carries NO footer statistics — blinding the sink's
    * timestamp zone maps ([[SinkStats.readSinkPrunedTs]] would scan
    * every file, conservatively correct but never fast). Scoped to the
    * sink's own writes, NOT the session: the driver's correctness
    * harness dumps query results as parquet and hash-compares them
    * through DuckDB, where a session-wide micros default turns naive
    * timestamps into tz-annotated ones and breaks the hash — the
    * sink's physical layout is ours to choose, the result dumps are
    * not. (Readers are unaffected either way: both representations
    * decode to identical instants.)
    *
    * The set/restore mutates SESSION-scoped conf, so an UNRELATED
    * write on the same session concurrent with a sink write would
    * inherit TIMESTAMP_MICROS for the window — safe here because every
    * lifecycle write runs under the sink's [[CompactLock]]/[[WriterLock]]
    * and the harness runs queries sequentially on one session, but a
    * host application sharing one session across threads should give
    * sink maintenance its own `spark.newSession()` (separate conf,
    * shared catalog/context). */
  private def withMicrosTs[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Write epoch `epochDir`'s change manifest. Unpartitioned (the feed
    * is consumed whole, never day-pruned) and pre-commit (atomic with
    * the epoch). Refuses a sink whose own columns collide with the
    * reserved "__cdc" prefix — INCLUDING [[CdcRefCol]]: only the
    * internal by-reference insert manifest (`refManifest = true`, a
    * frame of exactly the two bookkeeping columns) may carry it,
    * because [[readEpochChanges]] treats ANY CdcRefCol-bearing
    * manifest as a ref manifest and would resolve a user column's
    * values as consumed-batch directory names — a value coinciding
    * with a live `batch_id=` dir would inject phantom change rows,
    * and anything else would silently degrade the whole manifest to
    * the snapshot join. A data-bearing frame with that column must
    * refuse loudly at emission, exactly like every other __cdc name. */
  private def writeEpochChanges(spark: SparkSession,
      epochDir: org.apache.hadoop.fs.Path, events: DataFrame,
      refManifest: Boolean = false): Unit = {
    if (refManifest) require(
      events.columns.toSet == Set(CdcKindCol, CdcRefCol),
      s"a by-reference manifest carries exactly ($CdcKindCol, " +
        s"$CdcRefCol), got ${events.columns.mkString(", ")}")
    val clash = events.columns.filter(c =>
      c.startsWith("__cdc") && c != CdcKindCol &&
        !(refManifest && c == CdcRefCol))
    require(clash.isEmpty,
      s"sink columns ${clash.mkString(", ")} collide with the reserved " +
        "__cdc prefix of CDC change manifests - rename them or " +
        "disable spark.graft.sink.changeFiles")
    withMicrosTs(spark) {
      events.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(epochDir, ChangesDir).toString)
    }
  }

  /** The zero-churn change set's shape: one kind column, no rows —
    * what an empty manifest parquet dir reads back as
    * ([[readEpochChanges]]) and what a churn-less mutation records
    * ([[restoreChurn]]); kept in one place so the convention cannot
    * drift between the writer and the reader. */
  private def kindOnlyEmptyManifest(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(CdcKindCol,
          org.apache.spark.sql.types.StringType))))

  /** The committed change manifest of epoch `epochId`: Some(events)
    * when the epoch recorded its churn (possibly zero rows — an empty
    * manifest parquet dir has `_SUCCESS` but no part files, and reads
    * as an empty kind-only frame), None when it did not (epochs minted
    * before manifests existed, with emission disabled, or by an op
    * that does not record churn — a retention) —
    * None is the reader's signal to fall back to the snapshot join.
    *
    * BY-REFERENCE rows ([[CdcRefCol]] — insert epochs) resolve here:
    * each named batch directory is read from the epoch's
    * [[ChangesRefDir]] (post-retirement home) or from the sink root
    * (the pre-move crash window), its rows stamped with the recorded
    * kind and the sink's derived `day` — exactly the rows the
    * compaction folded in. A reference that resolves NOWHERE (a hand-
    * deleted dir) makes the whole manifest unreadable → None, the
    * fallback signal: degrade to the snapshot join, never to a
    * partial change set. The pending alter applies to manifest rows
    * exactly as [[readSink]] applies it to data rows, so both CDC
    * paths see one logical schema. */
  private[ops] def readEpochChanges(spark: SparkSession, path: String,
      epochId: Long, tsCol: String = "ts"): Option[DataFrame] = {
    val f = fs(spark, path)
    val eDir = new org.apache.hadoop.fs.Path(s"$path/epoch=$epochId")
    val cDir = new org.apache.hadoop.fs.Path(eDir, ChangesDir)
    if (!f.exists(new org.apache.hadoop.fs.Path(eDir, EpochCommit)) ||
      !f.exists(new org.apache.hadoop.fs.Path(cDir, "_SUCCESS"))) None
    else {
      val hasParts = f.listStatus(cDir)
        .exists(_.getPath.getName.startsWith("part-"))
      val raw =
        if (!hasParts)
          // zero-churn manifest: Spark writes no part files for an
          // empty frame, so the schema is gone - a kind-only empty
          // frame unions harmlessly into any event feed
          kindOnlyEmptyManifest(spark)
        else spark.read.option("mergeSchema", "true")
          .parquet(cDir.toString)
      val (ren, drop) = readAlter(f, path)
      def alterOf(df: DataFrame): DataFrame =
        if (ren.isEmpty && drop.isEmpty) df else applyAlter(df, ren, drop)
      if (!raw.columns.contains(CdcRefCol)) Some(alterOf(raw))
      else {
        // the ref list is the manifest itself: tiny, driver-bounded
        val refs = raw.filter(col(CdcRefCol).isNotNull)
          .select(col(CdcRefCol), col(CdcKindCol)).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        val plain = raw.filter(col(CdcRefCol).isNull).drop(CdcRefCol)
        val resolved: Seq[Option[DataFrame]] = refs.map { case (name, kind) =>
          val inEpoch = new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(eDir, ChangesRefDir), name)
          val atRoot = new org.apache.hadoop.fs.Path(path, name)
          val loc =
            if (f.exists(inEpoch)) Some(inEpoch)
            else if (f.exists(atRoot)) Some(atRoot)
            else None
          loc.flatMap { p =>
            val df = spark.read.option("mergeSchema", "true")
              .parquet(p.toString)
            // day derives exactly as the compaction derived it; a
            // batch without the ts column could not have compacted,
            // so treat it as unresolvable rather than guess
            if (!df.columns.contains(tsCol)) None
            else Some(df.withColumn("day", to_date(col(tsCol)))
              .withColumn(CdcKindCol, lit(kind)))
          }
        }
        if (resolved.exists(_.isEmpty)) None
        else Some(alterOf((plain +: resolved.flatten)
          .reduce(_.unionByName(_, allowMissingColumns = true))))
      }
    }
  }

  /** Writer lease for the sink's BATCH WRITE path — the sibling of
    * [[CompactLock]] for the other half of the "one writer and one
    * compactor" contract, which was previously documented but not
    * enforced: two `parquetSinkStream` instances (or a stream plus a
    * backfill job) on one sink would silently interleave `batch_id=`
    * overwrites with no loud failure. The lease file carries
    * `id=<writerId>` (a stable identity — parquetSinkStream derives it
    * from the checkpoint path, so a RESTART of the same stream is the
    * same writer), `fence=<n>` (a monotonically increasing fencing
    * token: every acquisition bumps it, and a zombie instance whose
    * lease was taken over fails its next write on the fence mismatch
    * instead of interleaving), and a per-acquisition token for the
    * verify-after-write race check. Heartbeated (mtime) on every batch
    * write; a crashed writer's lease is stolen once older than
    * `spark.graft.writer.lockStaleMs` (default 1 h). */
  private val WriterLock = "_WRITER_LOCK"

  /** Best-effort mutual-exclusion marker for the sink's MUTATING
    * maintenance ops (compact / retire / vacuum). Concurrent compactors
    * were previously excluded only by documentation, but the blast
    * radius of violating that rule is silent loss: a second compactor's
    * recovery step deletes the first's in-progress (uncommitted) epoch
    * attempt mid-write. The lock converts that operational footgun into
    * a loud error. Create-exclusive; deleted on completion (success or
    * failure — a thrown maintenance op has stopped mutating); a crashed
    * holder's lock is stolen once older than
    * `spark.graft.compact.lockStaleMs` (default 1 h). */
  private val CompactLock = "_COMPACT_LOCK"

  private[ops] def subdirs(spark: SparkSession, path: String, prefix: String)
      : Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val f = fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.stripPrefix(prefix).toLong -> s.getPath)
  }

  /** Committed batch dirs (their [[BatchCommit]] marker exists) with id
    * above `after`, ascending — with the watermark as `after`, the live
    * batches no epoch has folded yet. */
  private def committedBatches(spark: SparkSession, path: String,
      after: Long = -1L): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val f = fs(spark, path)
    subdirs(spark, path, "batch_id=").filter { case (id, p) =>
      id > after && f.exists(new org.apache.hadoop.fs.Path(p, BatchCommit))
    }.sortBy(_._1)
  }

  /** Committed epoch dirs (their [[EpochCommit]] marker exists),
    * ascending. */
  private[ops] def committedEpochs(spark: SparkSession, path: String)
      : Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val f = fs(spark, path)
    subdirs(spark, path, "epoch=").filter { case (_, p) =>
      f.exists(new org.apache.hadoop.fs.Path(p, EpochCommit))
    }.sortBy(_._1)
  }

  private def touch(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = f.create(p, true).close()

  /** Commit an epoch with its consumed-batch watermark (see
    * [[EpochCommit]]). Temp + rename: a crash mid-write leaves no
    * marker (the attempt stays uncommitted and is discarded by the
    * next [[settleEpochs]]), never a torn one — a torn marker would
    * fall back to watermark = epoch id, which after a delete exceeds
    * the true watermark and would retire future batches unconsumed.
    *
    * `bloomCols` (Some = known, None = unknown/legacy) records which
    * columns ANY file visible through this epoch may carry NATIVE
    * parquet blooms for — see [[mintedBloomCols]]. Written as a
    * `bloom_cols=` line; extra marker lines are ignored by every
    * pre-existing parser (key-matched), so the marker stays
    * backward-readable.
    *
    * A `mint_ms=` line records WHEN the epoch committed (epoch
    * millis), the resolution record `TIMESTAMP AS OF` reads
    * ([[readSinkAsOf]]). Mint times are STRICTLY increasing across an
    * epoch chain — the wall clock clamped to the SUPERSEDED epoch's
    * record + 1 ms — because two epochs stamped the same millisecond
    * would make timestamp resolution ambiguous (two lifecycle ops
    * legitimately land inside one ms; a wall-clock step backwards must
    * never reorder history). `prev` is the marker of the max committed
    * epoch the caller is superseding (None = none) — NOT the new id
    * minus one: an ingest compaction's id jumps to the consumed batch
    * counter, so id−1 frequently names an epoch that never existed.
    * The caller read it strictly under the lock, and retirement runs
    * AFTER commit. */
  private def commitEpoch(f: org.apache.hadoop.fs.FileSystem,
      epochDir: org.apache.hadoop.fs.Path, consumed: Long,
      op: String, bloomCols: Option[Set[String]],
      prev: Option[EpochMarker],
      schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val bc = bloomCols.map(cs =>
      s"\nbloom_cols=${cs.toSeq.sorted.mkString(",")}").getOrElse("")
    // `schema=` records the epoch's READER-facing schema (data columns
    // + the `day` partition column, a superset of every file the epoch
    // resolves — moved-in days only ever carry fewer columns), so
    // frame construction skips the distributed mergeSchema footer
    // sweep: the r18 job profile showed 0.2-0.5 s of footer inference
    // per readSink/readEpochFrame/readDays construction and 2-3
    // constructions per lifecycle op — at 100 TB that sweep is a full
    // O(files) job per read, which is why every lakehouse keeps the
    // schema in the commit log (Delta metaData / Iceberg table
    // metadata) instead of the footers. One json line; absent on
    // legacy/hand-made markers, where readers fall back to inference.
    val sc = schema.map(s => s"\nschema=${s.json}").getOrElse("")
    // the superseded marker's mint is STRICT here: a corrupt record
    // lenient-swallowed into None would degrade the clamp to the bare
    // wall clock, and a clock sitting behind a clamp-advanced previous
    // mint would then record a non-increasing mint — the exact
    // inversion the strict-increase invariant exists to prevent. None
    // stays legitimate ONLY for a readable marker without the record
    // (pre-record history).
    val mint = math.max(System.currentTimeMillis(),
      prev.flatMap(_.mintMs).map(_ + 1).getOrElse(Long.MinValue))
    CommitLog.write(f, epochDir, EpochCommit,
      s"batches=$consumed\nop=$op$bc$sc\nmint_ms=$mint",
      s"could not install epoch commit marker under $epochDir")
  }

  /** One committed epoch's [[EpochCommit]] marker, read once: every
    * record below comes from that single read. */
  private[graft] final case class EpochMarker(id: Long,
      file: org.apache.hadoop.fs.Path, lines: Seq[String]) {
    private val kv = CommitLog.keyValues(lines)

    private def long(key: String): Option[Long] = kv.get(key).map { v =>
      try v.toLong
      catch {
        case e: NumberFormatException => throw new IllegalStateException(
          s"corrupt epoch commit marker $file: '$key=$v'", e)
      }
    }

    /** The consumed-batch watermark: the highest batch id folded into
      * this epoch. Batch dirs with id <= watermark are durably
      * represented in the epoch (retire on sight); ids above it are
      * live. Falls back to the epoch id itself ONLY for a marker that
      * carries no content at all (every pre-watermark epoch consumed
      * exactly the batches up to its own id). A marker with content but
      * no parsable watermark line is corruption, not legacy, and
      * refuses like an unreadable one. */
    def watermark: Long = long("batches").getOrElse {
      val content = lines.filter(_.nonEmpty)
      if (content.isEmpty) id
      else throw new IllegalStateException(
        s"corrupt epoch commit marker $file: no watermark line in " +
          s"${content.take(3).mkString("[", ", ", "]")}")
    }

    /** The `mint_ms=` record — when the epoch committed, for
      * `TIMESTAMP AS OF` resolution ([[readSinkAsOf]]). None means the
      * marker carries no record (pre-record history — the only
      * legitimate absence); a corrupt number throws, because
      * [[commitEpoch]]'s clamp would otherwise guess a wall-clock value
      * that can invert the strictly-increasing mint invariant. */
    def mintMs: Option[Long] = long("mint_ms")

    /** The `op=` tag (`compact` / `delete` / `update` / `upsert` /
      * `apply` / `retire` / `restore`). None for markers minted before
      * the tag existed, which [[Views.incrementalSound]] treats as
      * unprovable, never as a compaction. */
    def op: Option[String] = kv.get("op")

    /** The `bloom_cols=` record: Some(columns) = every file visible
      * through this epoch was written by an epoch whose active
      * `spark.graft.bloom.autoIndexColumns` sat inside this set
      * (Some(empty) = NO file can carry a native bloom — the receipt
      * that lets [[SinkStats.indexSinkBloom]] skip its footer
      * classification); None = minted before the record existed, so
      * native coverage is unknown and the index must classify per
      * file. Perf only: both bloom index paths serve exact answers. */
    def bloomCols: Option[Set[String]] = kv.get("bloom_cols").map(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    /** The `schema=` record — the reader-facing schema [[commitEpoch]]
      * recorded at mint, sparing every frame construction over the
      * epoch its distributed mergeSchema footer sweep. None = pre-record
      * or unparsable: perf-only, readers fall back to inference, never
      * to a wrong answer. */
    def schema: Option[org.apache.spark.sql.types.StructType] =
      CommitLog.lenient(kv.get("schema").map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]))
  }

  /** Committed epoch `epochId`'s marker (None for −1: no epoch yet),
    * read STRICTLY. A failed read (transient I/O, corrupt content)
    * must fail LOUDLY, never fall back: after a delete/upsert epoch the
    * epoch id exceeds the true watermark, so a fallback taken on an I/O
    * hiccup would let recovery retire live batches that no epoch holds
    * — silent data loss. The marker is installed by temp-write +
    * atomic rename ([[commitEpoch]]), so a committed epoch's marker is
    * never legitimately unreadable. Monitoring-only reads wrap this in
    * [[CommitLog.lenient]]. */
  private[graft] def epochMarker(f: org.apache.hadoop.fs.FileSystem,
      path: String, epochId: Long): Option[EpochMarker] =
    if (epochId < 0) None
    else {
      val file = new org.apache.hadoop.fs.Path(
        s"$path/epoch=$epochId", EpochCommit)
      val lines =
        try CommitLog.readLines(f, file)
        catch {
          case e: Exception => throw new IllegalStateException(
            s"cannot read epoch commit marker $file - refusing to " +
              "guess the consumed-batch watermark (a wrong guess " +
              "retires live batches); resolve the read failure and " +
              "retry", e)
        }
      Some(EpochMarker(epochId, file, lines))
    }

  /** The schema a fresh data-bearing epoch records: the written
    * frame's columns widened by-name to the full previous-epoch width
    * (an affected-days rewrite's frame can be narrower than the epoch
    * when drift columns live only in unaffected, moved days), with
    * `day` last — mirroring where partition discovery appends it, so a
    * recorded-schema read is column-for-column the inferred read. */
  private def mintSchema(written: org.apache.spark.sql.types.StructType,
      fullPrev: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.types.StructType = {
    val have = written.fieldNames.toSet
    val widened = org.apache.spark.sql.types.StructType(
      written.fields ++ fullPrev.toSeq.flatMap(_.fields)
        .filterNot(f => have.contains(f.name)))
    org.apache.spark.sql.types.StructType(
      widened.filterNot(_.name == "day") ++
        widened.find(_.name == "day").toSeq)
  }

  /** The `bloom_cols` value a fresh epoch commits ([[commitEpoch]]):
    * the bloom columns its own write emitted native filters for
    * ([[SinkConf.bloomAutoIndex]], [[epochWriteOptions]]) UNIONED with the previous committed
    * epoch's record — moves and by-reference plans carry the previous
    * epoch's files forward untouched, so the union is what makes the
    * CURRENT epoch's single line a sound over-approximation for every
    * file it resolves, however many renames deep. A previous epoch
    * without the record (pre-record history) propagates None: coverage
    * there is unknowable and the index side must keep classifying per
    * file. */
  private def mintedBloomCols(conf: SinkConf,
      prev: Option[EpochMarker]): Option[Set[String]] = {
    val own = conf.bloomAutoIndex.toSet
    prev.fold(Option(own))(_.bloomCols.map(_ ++ own))
  }

  /** Run a lock-free read, retried ONCE when it lost a benign race
    * with concurrent maintenance: a dir or marker listed at the top is
    * retired (FileNotFoundException, possibly wrapped — [[epochMarker]]
    * wraps its read failure) before the read of it lands. The
    * post-maintenance state is consistent, so the retry sees a whole
    * cut; a second failure, or any other cause, is a real fault and
    * propagates. LOCKED maintenance bodies never retry: under the lock
    * nothing they list can vanish, so every failure there is loud. */
  private def racedOnce[T](read: => T): T = {
    def raced(e: Throwable): Boolean = e match {
      case _: java.io.FileNotFoundException => true
      case e: Exception => e.getCause != null && raced(e.getCause)
      case _ => false
    }
    try read catch { case e: Exception if raced(e) => read }
  }

  /** What one lock-free reader sees of the sink, read once ([[cutOf]]):
    * the current committed epoch's [[EpochMarker]] (its id, watermark,
    * recorded schema and op), the committed `batch_id=` dirs above that
    * watermark (`live`, ascending), every retained committed epoch id
    * (`retained`, ascending) and the pending alter ([[readAlter]]).
    * Every unlocked reader — [[readSink]], [[readSinkSince]],
    * [[sinkWatermark]], [[describeSink]], [[maintainSink]]'s policy
    * reads, [[SinkStats]]' pruned and point reads, [[Views]]' pinned
    * reads and the index syncs — decides "which epoch, and which
    * batches" from one cut, so the epoch a frame reads and the
    * watermark its live batches start above come from ONE marker read.
    * Two listings could pair epoch N's rows with epoch N+1's watermark
    * and silently drop the batches N+1 folded. */
  private[ops] final case class Cut(path: String, marker: Option[EpochMarker],
      live: Seq[(Long, org.apache.hadoop.fs.Path)], retained: Seq[Long],
      alter: (Map[String, String], Seq[String])) {
    /** The current committed epoch id; −1 before the first. */
    def epoch: Long = marker.fold(-1L)(_.id)

    /** The current epoch's consumed-batch watermark; −1 without one. */
    def watermark: Long = marker.fold(-1L)(_.watermark)

    /** The highest batch id visible through this cut: the max of the
      * watermark and the live batch ids ([[sinkWatermark]]). */
    def cursor: Long = (watermark +: live.map(_._1)).max

    def alterPending: Boolean = alter._1.nonEmpty || alter._2.nonEmpty

    /** The current epoch's recorded schema ([[EpochMarker.schema]]);
      * None before the first epoch or for a pre-record marker. */
    def schema: Option[org.apache.spark.sql.types.StructType] =
      marker.flatMap(_.schema)

    /** `df` under the pending alter's logical schema ([[applyAlter]]). */
    def conform(df: DataFrame): DataFrame = applyAlter(df, alter._1, alter._2)

    /** One frame per batch dir: `day` derived from `tsCol` (NULL when
      * the batch lacks it), conformed to the pending alter. */
    def frames(spark: SparkSession, dirs: Seq[(Long, org.apache.hadoop.fs.Path)],
        tsCol: String): Seq[DataFrame] = dirs.map { case (_, d) =>
      val df = spark.read.parquet(d.toString)
      conform(
        if (df.columns.contains(tsCol)) df.withColumn("day", to_date(col(tsCol)))
        else df.withColumn("day", lit(null).cast("date")))
    }

    /** The current view's parts: the epoch's relation (when it holds
      * data) and every live batch, each conformed. */
    def parts(spark: SparkSession, tsCol: String): Seq[DataFrame] =
      (if (epoch < 0) Seq.empty
       else readEpochFrame(spark, fs(spark, path), path, epoch).toSeq)
        .map(conform) ++ frames(spark, live, tsCol)
  }

  /** The sink's [[Cut]], read once, without the lock, retried once on a
    * race ([[racedOnce]]). The alter is read FIRST: a normalizing
    * compaction commits its epoch before it clears the marker, so an
    * alter read ahead of the epoch listing can only be stale toward a
    * normalized epoch, where its guarded renames are no-ops. */
  private[ops] def cutOf(spark: SparkSession, path: String): Cut = racedOnce {
    val f = fs(spark, path)
    val alter = readAlter(f, path)
    val retained = committedEpochs(spark, path).map(_._1)
    val marker = epochMarker(f, path, retained.lastOption.getOrElse(-1L))
    Cut(path, marker, committedBatches(spark, path, marker.fold(-1L)(_.watermark)),
      retained, alter)
  }

  // -------------------------------------------------- writer lease
  // Lease file content: id, fence, and a per-acquisition random token
  // (the token disambiguates two acquirers racing the same id+fence).

  private def readWriterLock(f: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path): Option[(String, Long, String)] =
    CommitLog.lenient { // absent or torn mid-write
      val m = CommitLog.keyValues(CommitLog.readLines(f, lock))
      Some((m("id"), m("fence").toLong, m("token")))
    }

  /** Acquire (or take over) the sink's writer lease as `writerId`;
    * returns the FENCE for this acquisition, to be passed to every
    * subsequent [[writeBatchIdempotent]] call. Rules:
    *
    *  - no lease → acquired at fence 1;
    *  - lease held by the SAME id → takeover at fence+1 regardless of
    *    freshness: the same logical writer restarting (same checkpoint)
    *    must never be blocked by its own crashed predecessor, and a
    *    still-live zombie predecessor is FENCED OFF — its next write
    *    sees the higher fence and fails loudly;
    *  - lease held by a DIFFERENT id and fresh → refused loudly (a
    *    second stream or backfill on a live sink is the silent-
    *    interleaving hazard this lease exists to prevent);
    *  - lease held by a different id but stale → stolen at fence+1
    *    (crashed foreign writer; staleness per
    *    `spark.graft.writer.lockStaleMs`, default 1 h — the stream
    *    heartbeats the lease every batch, so a live writer stays
    *    fresh at any realistic trigger interval).
    *
    * Acquisition is verify-after-write (same discipline and same
    * residual stat-before-verify window as [[CompactLock]]): the lease
    * is re-read and must carry this acquisition's token. */
  def acquireWriter(spark: SparkSession, path: String,
      writerId: String): Long = {
    val f = fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    f.mkdirs(root)
    val lock = new org.apache.hadoop.fs.Path(root, WriterLock)
    val staleMs = SinkConf.of(spark).writerLockStaleMs
    val cur = readWriterLock(f, lock)
    cur match {
      case Some((id, _, _)) if id != writerId =>
        val age =
          try System.currentTimeMillis() -
            f.getFileStatus(lock).getModificationTime
          catch { // released between read and stat: treat as stale
            case _: java.io.FileNotFoundException => Long.MaxValue
          }
        if (age < staleMs)
          throw new IllegalStateException(
            s"writer '$id' holds the lease on $path (age $age ms < " +
              s"stale threshold $staleMs ms) - a second concurrent " +
              "writer would silently interleave batch_id= overwrites; " +
              "stop it first, or delete _WRITER_LOCK if it is known dead")
      case _ => () // free, or our own id: takeover is always allowed
    }
    val fence = cur.map(_._2).getOrElse(0L) + 1
    val token = java.util.UUID.randomUUID().toString
    val out = f.create(lock, true)
    try out.write(s"id=$writerId\nfence=$fence\ntoken=$token\n"
      .getBytes("UTF-8"))
    finally out.close()
    require(readWriterLock(f, lock).exists(_._3 == token),
      s"writer lease on $path was displaced during acquisition - backing off")
    fence
  }

  /** Release the lease if it still carries (`writerId`, `fence`): a
    * successor's lease (same id, higher fence — or a different id after
    * a staleness steal) is left untouched. Safe to call from a stale
    * instance. */
  def releaseWriter(spark: SparkSession, path: String, writerId: String,
      fence: Long): Unit = {
    val f = fs(spark, path)
    val lock = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), WriterLock)
    if (readWriterLock(f, lock).exists(c => c._1 == writerId && c._2 == fence))
      f.delete(lock, false)
  }

  /** Refresh the lease's mtime iff this (id, fence) still owns it —
    * the keep-alive an IDLE stream sends from its progress listener
    * (empty triggers never reach foreachBatch, so without this a quiet
    * feed ages past the staleness horizon). Best-effort: failures are
    * swallowed — the next data batch heartbeats through the write
    * path, and a genuinely lost lease fails THAT apply loudly. */
  private[graft] def heartbeatWriter(spark: SparkSession, path: String,
      writerId: String, fence: Long): Unit =
    try {
      val f = fs(spark, path)
      val lock = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(path), WriterLock)
      if (readWriterLock(f, lock)
          .exists(c => c._1 == writerId && c._2 == fence))
        f.setTimes(lock, System.currentTimeMillis(), -1)
    } catch { case _: Exception => () }

  /** The fenced write: verify the lease is still ours, write the batch
    * dir + commit marker, heartbeat the lease. The verify-then-write
    * window is the unavoidable residue of lease-based exclusion without
    * filesystem-level fencing; the displaced writer fails its NEXT
    * batch at the latest, bounding the interleave to one in-flight
    * batch — which the successor's replay then overwrites wholesale
    * (mode=overwrite per batch dir), restoring exactly-once. */
  private def writeLeased(batch: DataFrame, path: String, batchId: Long,
      writerId: String, fence: Long): Unit = {
    val f = fs(batch.sparkSession, path)
    val lock = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), WriterLock)
    val cur = readWriterLock(f, lock)
    require(cur.exists(c => c._1 == writerId && c._2 == fence),
      s"writer lease on $path displaced: this writer holds " +
        s"('$writerId', fence=$fence) but the lease carries " +
        s"${cur.map(c => s"('${c._1}', fence=${c._2})").getOrElse("nothing")}" +
        " - another writer took over this sink; abandoning the write")
    val dir = s"$path/batch_id=$batchId"
    withMicrosTs(batch.sparkSession) {
      batch.write.mode("overwrite").parquet(dir)
    }
    touch(f, new org.apache.hadoop.fs.Path(dir, BatchCommit))
    try f.setTimes(lock, System.currentTimeMillis(), -1) // heartbeat
    catch { case _: java.io.IOException => () } // displaced post-write: next write fails
  }

  /** Run `body` holding the sink's [[CompactLock]]. Acquisition is
    * create-exclusive (`create(overwrite = false)` fails if the marker
    * exists); a fresh lock means another maintenance op is live and the
    * call FAILS LOUDLY instead of racing it; a lock older than
    * [[SinkConf.compactLockStaleMs]] belongs to a crashed holder and is
    * stolen. Released on every exit — an exception from `body` means the
    * op has stopped mutating, and crash recovery is the next run's job.
    *
    * The body gets the call's [[SinkConf]] (`conf`, or the session's
    * when None — read once, before the lock, so the staleness threshold
    * and the body agree) and a FENCE CHECK: it re-verifies the lock
    * still carries this session's token and aborts loudly if a steal
    * displaced it mid-body — the last line of defense behind the
    * identity-checked steal. The epoch-minting ops call it through
    * [[mutate]] (before settling) and [[Mutation.mint]] (before the
    * commit); the others immediately before their first irreversible
    * mutation. */
  private def withFencedCompactorLock[T](spark: SparkSession, path: String,
      conf: Option[SinkConf])(body: (SinkConf, () => Unit) => T): T = {
    val c = conf.getOrElse(SinkConf.of(spark))
    val f = fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    f.mkdirs(root)
    val lock = new org.apache.hadoop.fs.Path(root, CompactLock)
    val staleMs = c.compactLockStaleMs
    val token = s"${java.util.UUID.randomUUID()}\n"
    def tryAcquire(): Boolean =
      try {
        val out = f.create(lock, false)
        try out.write(token.getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def holdsOwnToken(): Boolean =
      try CommitLog.read(f, lock) == token
      catch { case _: java.io.IOException => false }
    if (!tryAcquire()) {
      // read the blocker's token BEFORE judging staleness: the steal
      // below is IDENTITY-CHECKED against this value, so it can only
      // ever displace the exact lock instance judged stale
      val staleTok: Option[String] =
        try Some(CommitLog.read(f, lock))
        catch { case _: java.io.IOException => None } // vanished/torn
      val age =
        try System.currentTimeMillis() -
          f.getFileStatus(lock).getModificationTime
        catch { // released between the failed create and the stat: stale
          case _: java.io.FileNotFoundException => Long.MaxValue
        }
      if (age < staleMs)
        throw new IllegalStateException(
          s"another compactor holds $lock (age ${age} ms < stale " +
            s"threshold $staleMs ms) - concurrent sink maintenance is " +
            "not supported; wait for it, or delete the lock if its " +
            "holder is known dead")
      // COMPARE-AND-DELETE via atomic rename (closes the double-steal
      // race a plain delete leaves open: a stealer that slept past
      // another acquirer's full delete+create+verify would delete the
      // VERIFIED holder's fresh lock). Rename the current lock aside
      // to a private tombstone — atomic, single-winner — then confirm
      // the tombstone IS the instance judged stale; a fresh holder's
      // lock renamed by mistake is restored immediately. The residual
      // window shrinks from the whole body duration to the
      // microseconds between rename-aside and restore, and even that
      // needs a third acquirer's create to land inside it. (.tmp
      // suffix so a crash mid-steal leaves only vacuumSink litter.)
      val tomb = new org.apache.hadoop.fs.Path(root,
        s".$CompactLock.steal.${java.util.UUID.randomUUID()}.tmp")
      val renamed =
        try f.rename(lock, tomb)
        catch { case _: java.io.IOException => false }
      if (renamed) {
        val tombTok: Option[String] =
          try Some(CommitLog.read(f, tomb))
          catch { case _: java.io.IOException => None }
        if (staleTok.isDefined && tombTok == staleTok)
          f.delete(tomb, false) // confirmed: retired the stale instance
        else {
          // displaced a DIFFERENT (freshly re-acquired) lock: restore
          // it and back off; if another acquirer created meanwhile,
          // the restore fails and the tombstone is dropped
          if (!f.rename(tomb, lock)) f.delete(tomb, false)
          throw new IllegalStateException(
            s"compactor lock $lock was re-acquired while this session " +
              "was stealing it - backing off")
        }
      } // !renamed: already stolen or released by someone else — race
        // for the plain create below like any other acquirer
      require(tryAcquire(), s"could not steal stale compactor lock $lock")
    }
    // verify-after-acquire: two acquirers racing the post-steal create
    // can interleave on filesystems whose create(overwrite=false) is
    // not truly exclusive; each re-reads the lock and requires its OWN
    // session token, so a displaced acquirer fails loudly instead of
    // mutating concurrently. Belt-and-braces under the identity-checked
    // steal above; maintenance bodies additionally re-verify the token
    // immediately before their first irreversible mutation.
    require(holdsOwnToken(),
      s"compactor lock $lock was displaced by a concurrent stealer " +
        "during acquisition - backing off")
    val fenceCheck: () => Unit = () => require(holdsOwnToken(),
      s"compactor lock $lock no longer carries this session's token " +
        "at the point of no return - a stale-lock steal displaced this " +
        "holder mid-body; aborting before committing anything")
    // release only a lock that still carries OUR token: a blanket
    // delete would release whatever lock exists at exit, including one
    // a later stealer legitimately holds after displacing us mid-body
    try body(c, fenceCheck)
    finally if (holdsOwnToken()) f.delete(lock, false)
  }

  /** Highest durably-committed compaction epoch (−1 if none): an epoch
    * directory counts only once its [[EpochCommit]] marker exists, so
    * a compaction that died mid-write or mid-merge is invisible to
    * readers until recovery completes or discards it. */
  private def maxEpoch(spark: SparkSession, path: String): Long =
    committedEpochs(spark, path).lastOption.fold(-1L)(_._1)

  /** Write the merge plan atomically: content to a temp name, then
    * rename. A torn plan must be impossible — recovery trusts the plan
    * to list EVERY day directory owed to the new epoch, and a partial
    * list would commit an epoch missing the unlisted days. */
  private def writePlan(f: org.apache.hadoop.fs.FileSystem,
      epochDir: org.apache.hadoop.fs.Path, from: Long,
      days: Seq[String]): Unit =
    // a silently missing plan would let the commit marker land with the
    // owed-day list gone (recovery would then retire the source epoch
    // and lose those days): a failed install fails HERE, before the
    // commit, where the uncommitted attempt is still safely discardable
    CommitLog.write(f, epochDir, MergePlan,
      (s"from=$from" +: days).mkString("\n"),
      s"could not install merge plan under $epochDir")

  private def readPlan(f: org.apache.hadoop.fs.FileSystem,
      plan: org.apache.hadoop.fs.Path): (Long, Seq[String]) = {
    val lines = CommitLog.readLines(f, plan)
    (lines.head.stripPrefix("from=").toLong, lines.tail.filter(_.nonEmpty))
  }

  /** Complete a committed epoch's move phase from its durable plan:
    * every listed day directory not yet present in the new epoch is
    * renamed in from the source epoch (rename is atomic, so each day is
    * on exactly one of the two sides at any instant), then the plan is
    * dropped — from that point the epoch is complete in place.
    * Idempotent: a crash mid-move is finished by the same procedure. */
  private def finishMoves(f: org.apache.hadoop.fs.FileSystem, path: String,
      epochDir: org.apache.hadoop.fs.Path): Unit = {
    val plan = new org.apache.hadoop.fs.Path(epochDir, MergePlan)
    val (from, days) = readPlan(f, plan)
    days.foreach { day =>
      val dest = new org.apache.hadoop.fs.Path(epochDir, day)
      if (!f.exists(dest)) {
        f.rename(new org.apache.hadoop.fs.Path(s"$path/epoch=$from", day), dest)
        // rename reports failure as `false`; dropping the plan anyway
        // would mark an epoch complete while a planned day sits in
        // neither location — fail loudly instead, leaving the plan in
        // place so readers keep resolving and recovery keeps retrying
        require(f.exists(dest),
          s"owed day $day found in neither epoch=$from nor $epochDir")
      }
    }
    f.delete(plan, false)
  }

  // ------------------------------------------------ type widening
  // Additive schema drift (new columns) rides parquet's mergeSchema,
  // but TYPE drift — int→long, float→double — does not: mergeSchema
  // refuses mixed footers outright. Compaction therefore NORMALIZES:
  // it computes the widened target schema over its inputs and the
  // previous epoch, casts every input read to it, and when the
  // previous epoch's footers are narrower it rewrites EVERY previous
  // day through the cast instead of moving any — a one-time migration
  // cost the O(1) rename cannot dodge, because a moved file keeps its
  // narrow footer and poisons every later single-scan read.

  /** The widened type two footer types normalize to, when widening is
    * lossless (integral family upward, float→double, integral+
    * fractional → double); None marks an un-widenable conflict. */
  private def widen(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    def irank(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4; case _ => 0
    }
    def frank(t: DataType): Int = t match {
      case FloatType => 1; case DoubleType => 2; case _ => 0
    }
    if (a == b) Some(a)
    else if (irank(a) > 0 && irank(b) > 0)
      Some(if (irank(a) >= irank(b)) a else b)
    else if (frank(a) > 0 && frank(b) > 0)
      Some(if (frank(a) >= frank(b)) a else b)
    else if ((irank(a) > 0 && frank(b) > 0) || (frank(a) > 0 && irank(b) > 0))
      Some(DoubleType)
    else None
  }

  /** Widened union of footer schemas by column name (first-seen order;
    * later-only columns append — the additive case). An un-widenable
    * conflict refuses loudly, naming the column: silently picking a
    * side would corrupt whichever generation loses. */
  private def widenedSchema(
      schemas: Seq[org.apache.spark.sql.types.StructType],
      context: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val order = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    schemas.foreach(_.foreach { fld =>
      order.get(fld.name) match {
        case None => order(fld.name) = fld
        case Some(prev) =>
          val t = widen(prev.dataType, fld.dataType).getOrElse(
            throw new IllegalStateException(
              s"$context: column '${fld.name}' cannot evolve from " +
                s"${prev.dataType.simpleString} to " +
                s"${fld.dataType.simpleString} - only lossless widenings " +
                "(integral family, float->double) are supported; rewrite " +
                "the producer or rename the column"))
          order(fld.name) =
            StructField(fld.name, t, prev.nullable || fld.nullable)
      }
    })
    StructType(order.values.toSeq)
  }

  /** `df` with every column cast to the target's widened type; a frame
    * already at the target passes through untouched, so the
    * no-drift fast path stays cast-free. Columns outside the target
    * (the derived `day`) pass through. */
  private def conform(df: DataFrame,
      target: org.apache.spark.sql.types.StructType): DataFrame = {
    val tm = target.map(f => f.name -> f.dataType).toMap
    val needs = df.schema.exists(f => tm.get(f.name).exists(_ != f.dataType))
    if (!needs) df
    else df.select(df.schema.map { f =>
      tm.get(f.name) match {
        case Some(t) if t != f.dataType => col(f.name).cast(t).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
  }

  // ------------------------------------------------ rename / drop
  // The OTHER two schema-drift classes after additive (q124) and
  // widening (q137): RENAME and DROP. Same discipline as widening —
  // the alter is METADATA first (a durable marker; readers conform the
  // logical view on the fly, so the rename is visible instantly at
  // zero data cost), and the next compaction NORMALIZES it physically
  // through a one-time all-days rewrite (a moved file would keep the
  // old column name in its footer and poison every later read), after
  // which the marker clears and the steady state is marker-free.
  // Mutating ops (deleteWhere / upsertBatch) refuse while an alter is
  // pending — their rewrite would have to re-implement the conform
  // logic per day; normalizing first keeps one code path correct.

  private val PendingAlter = "_PENDING_ALTER"

  private def readAlter(f: org.apache.hadoop.fs.FileSystem,
      path: String): (Map[String, String], Seq[String]) = {
    val p = new org.apache.hadoop.fs.Path(path, PendingAlter)
    if (!f.exists(p)) (Map.empty, Seq.empty)
    else {
      val lines = CommitLog.readLines(f, p)
      val renames = lines.collect { case l if l.startsWith("rename ") =>
        val Array(_, o, n) = l.split(" "); o -> n
      }.toMap
      val drops = lines.collect { case l if l.startsWith("drop ") =>
        l.split(" ")(1)
      }
      (renames, drops)
    }
  }

  /** The logical view of `df` under a pending alter: drops first, then
    * renames — each GUARDED on the physical column being present, so
    * the same alter applies cleanly to an old-schema epoch, a
    * new-schema batch (a producer already writing the new name), and
    * a half-normalized sink after a crash between commit and marker
    * clear (idempotence is what makes the crash window safe). A part
    * carrying BOTH names is ambiguous and refuses loudly. */
  private def applyAlter(df: DataFrame, renames: Map[String, String],
      drops: Seq[String]): DataFrame = {
    val dropped = drops.foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d.drop(c) else d)
    renames.foldLeft(dropped) { case (d, (o, n)) =>
      if (!d.columns.contains(o)) d
      else {
        require(!d.columns.contains(n),
          s"alter rename $o -> $n is ambiguous: a part carries BOTH " +
            "columns - the producer wrote the old and new name side by " +
            "side; fix the producer and rewrite that batch")
        d.withColumnRenamed(o, n)
      }
    }
  }

  /** Record a RENAME / DROP schema alter on the sink — metadata only,
    * O(1), visible to every reader immediately (the logical view
    * conforms on the fly); the next [[compactSink]] normalizes it
    * physically via a one-time all-days rewrite and clears the marker.
    * One alter may be pending at a time (normalize before stacking
    * another); the reserved columns (`tsCol`, `day`) and the sink's
    * current logical schema are validated loudly. New batches may
    * land in EITHER schema while the alter is pending — a producer
    * already writing the new name conforms as a no-op. */
  def alterSink(spark: SparkSession, path: String,
      renames: Map[String, String] = Map.empty,
      drops: Seq[String] = Seq.empty, tsCol: String = "ts",
      conf: Option[SinkConf] = None): Unit =
    withFencedCompactorLock(spark, path, conf) { (c, fence) =>
      require(renames.nonEmpty || drops.nonEmpty,
        "alterSink needs at least one rename or drop")
      val f = fs(spark, path)
      val (er, ed) = readAlter(f, path)
      require(er.isEmpty && ed.isEmpty,
        s"an alter is already pending on $path - run compactSink to " +
          "normalize it before recording another")
      val reserved = Set(tsCol, "day")
      (renames.keys ++ renames.values ++ drops).foreach { c =>
        require(!reserved.contains(c),
          s"cannot alter reserved column '$c' (the sink's time/partition " +
            "derivation depends on it)")
      }
      require((renames.keySet & drops.toSet).isEmpty,
        "a column cannot be both renamed and dropped in one alter")
      require(renames.values.toSeq.distinct.size == renames.size,
        "two renames target the same new name")
      val cur = readSink(spark, path, tsCol, conf = Some(c)).columns.toSet
      renames.foreach { case (o, n) =>
        require(cur.contains(o), s"rename source '$o' is not in the " +
          s"sink schema (${cur.toSeq.sorted.mkString(", ")})")
        require(!cur.contains(n),
          s"rename target '$n' already exists in the sink schema")
      }
      drops.foreach(c => require(cur.contains(c),
        s"drop target '$c' is not in the sink schema"))
      // a declared CHECK referencing an altered column would brick
      // every later fold with a raw unresolved-column error (the gate
      // evaluates against the post-alter schema) - refuse HERE, where
      // the operator can still sequence drop-check -> alter ->
      // re-declare
      val declared = readChecks(f, path)
      if (declared.nonEmpty) {
        val touched = (renames.keySet ++ drops).map(_.toLowerCase)
        declared.foreach { case (n, s) =>
          val refs = spark.sessionState.sqlParser.parseExpression(s)
            .collect {
              case a: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => a.nameParts.last.toLowerCase
            }.toSet
          val hit = refs & touched
          require(hit.isEmpty,
            s"cannot alter column(s) ${hit.mkString(", ")} referenced " +
              s"by check '$n' ($s) - drop the check, alter, then " +
              "re-declare it against the new schema")
        }
      }
      val lines = renames.toSeq.sortBy(_._1).map { case (o, n) =>
        s"rename $o $n"
      } ++ drops.sorted.map(c => s"drop $c")
      fence()
      CommitLog.write(f, new org.apache.hadoop.fs.Path(path), PendingAlter,
        lines.mkString("\n"), s"could not install alter marker under $path")
    }

  // ------------------------------------------------ CHECK constraints
  // Declared data-quality expectations on the sink (SQL CHECK
  // semantics: a row VIOLATES a check only when its predicate
  // evaluates FALSE — NULL passes, exactly the standard's rule), the
  // gate a 100 TB training-data ingest runs its feed through. Checks
  // admit rows at every point NEW rows enter the sink: the ingest
  // compaction's fold, a merge batch (upsert/apply), and an update's
  // post-images. Two modes (`spark.graft.sink.checkMode`): `refuse`
  // (default — the op aborts listing per-check violation counts,
  // sources untouched) and `quarantine` (violating rows divert to the
  // epoch's quarantine feed, clean rows proceed; an update stays
  // refuse-only — "quarantining" an update would silently delete the
  // row). The quarantine is a FEED, not a table: rows land under the
  // minted epoch as `_quarantine/epoch=<origin>/day=.../`, every
  // later epoch carries the un-drained subdirs forward by HARD LINK
  // (O(files) metadata, the restore trick), [[readSinkQuarantine]]
  // serves the current epoch's accumulated feed, and a consumer
  // drains it with [[clearSinkQuarantine]] after shipping the rows to
  // triage.

  private val ChecksMarker = "_CHECKS"
  private[ops] val QuarantineDir = "_quarantine"
  private[ops] val CheckFailedCol = "__check_failed"

  /** The declared checks of the sink, in declaration order: (name,
    * SQL predicate) from the `_CHECKS` marker; empty when none. */
  private[ops] def readChecks(f: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[(String, String)] = {
    val marker = new org.apache.hadoop.fs.Path(path, ChecksMarker)
    if (!f.exists(marker)) Seq.empty
    else {
      CommitLog.readLines(f, marker).filter(_.nonEmpty).map { l =>
        val i = l.indexOf('=')
        require(i > 0, s"corrupt checks marker $marker: '$l'")
        (l.substring(0, i), l.substring(i + 1))
      }
    }
  }

  /** Install the checks marker atomically (temp + rename); an empty
    * list removes it. Caller holds [[CompactLock]]. Replacing the
    * marker must not fail OPEN: a moment with NO marker would let every
    * later fold silently admit violating rows — the opposite of the
    * feature's fail-safe rule — hence [[CommitLog.write]]'s atomic
    * replace. */
  private def writeChecksMarker(f: org.apache.hadoop.fs.FileSystem,
      path: String, checks: Seq[(String, String)]): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (checks.isEmpty)
      f.delete(new org.apache.hadoop.fs.Path(root, ChecksMarker), false)
    else CommitLog.write(f, root, ChecksMarker,
      checks.map { case (n, s) => s"$n=$s" }.mkString("\n"),
      s"could not install checks marker under $path", atomicReplace = true)
  }

  /** Declare CHECK constraint `name` (`sql`, a boolean SQL predicate
    * over the sink's columns) on the sink. Follows Delta's ADD
    * CONSTRAINT discipline: the current epoch's EXISTING rows must
    * already satisfy the predicate — one column-pruned validation pass
    * (O(table), the price every lakehouse pays at declaration; a sink
    * with no compacted epoch yet defers to parse-only, and rows
    * sitting in not-yet-consumed batch dirs validate when their
    * compaction folds them). From the moment the marker lands, every
    * op that brings NEW rows into the sink gates on the full declared
    * set. A predicate referencing a column absent from an incoming
    * batch fails that op loudly (fail-safe: a check that cannot be
    * evaluated must not silently admit rows). Holds [[CompactLock]]. */
  def addSinkCheck(spark: SparkSession, path: String, name: String,
      sql: String): Unit =
    withFencedCompactorLock(spark, path, None) { (_, fence) =>
      require(name.matches("[A-Za-z][A-Za-z0-9_]*"),
        s"check name '$name' must be an identifier " +
          "([A-Za-z][A-Za-z0-9_]*)")
      require(!sql.contains("\n") && !sql.contains("\r"),
        "a check predicate must be a single line")
      val f = fs(spark, path)
      val existing = readChecks(f, path)
      require(!existing.exists(_._1 == name),
        s"check '$name' is already declared on $path - drop it first " +
          "to replace the predicate")
      // functions.expr builds a LAZY column node on this Spark — the
      // parse must be FORCED here so a typo refuses at declaration,
      // not at the first fold it would otherwise poison
      try spark.sessionState.sqlParser.parseExpression(sql)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"check '$name' does not parse: $sql", e) }
      val pred = expr(sql)
      val cut = maxEpoch(spark, path)
      if (cut >= 0) readEpochFrame(spark, f, path, cut).foreach { frame0 =>
        // validate against the LOGICAL schema (a pending rename/drop
        // applies exactly as readSink serves it): the declaration must
        // analyze against the names every reader and every
        // post-normalize fold will see
        val (ren, drop) = readAlter(f, path)
        val frame =
          if (ren.isEmpty && drop.isEmpty) frame0
          else applyAlter(frame0, ren, drop)
        val bad = frame.filter(pred <=> lit(false)).count()
        require(bad == 0L,
          s"cannot add check '$name' ($sql) on $path: $bad existing " +
            "row(s) violate it - rectify the data first (deleteWhere / " +
            "updateWhere) or fix the predicate")
      }
      fence()
      writeChecksMarker(f, path, existing :+ (name -> sql))
    }

  /** Remove declared check `name`; unknown names refuse loudly (a
    * typo silently "succeeding" would leave the real check active).
    * Holds [[CompactLock]]. */
  def dropSinkCheck(spark: SparkSession, path: String,
      name: String): Unit =
    withFencedCompactorLock(spark, path, None) { (_, fence) =>
      val f = fs(spark, path)
      val existing = readChecks(f, path)
      require(existing.exists(_._1 == name),
        s"no check named '$name' on $path (declared: " +
          s"${existing.map(_._1).mkString("[", ", ", "]")})")
      fence()
      writeChecksMarker(f, path, existing.filterNot(_._1 == name))
    }

  /** The declared checks as one metadata frame: (name, predicate) in
    * declaration order. Lock-free (a point-in-time listing, like
    * [[describeSink]]). */
  def listSinkChecks(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    readChecks(fs(spark, path), path).toDF("name", "predicate")
  }

  /** The per-check violation columns — ONE construction shared by the
    * pricing aggregation and the split, so the counted violations can
    * never desynchronize from the rows actually diverted. Violation
    * is SQL CHECK's: the predicate IS FALSE (null-safe equality with
    * false — a NULL predicate passes). */
  private def checkViols(checks: Seq[(String, String)])
      : Seq[(String, Column)] =
    checks.map { case (n, s) => n -> (expr(s) <=> lit(false)) }

  /** One aggregation job pricing the gate over `incoming`: (total
    * rows, rows violating ANY check, per-check violation counts). */
  private def checkCounts(incoming: DataFrame,
      checks: Seq[(String, String)]): (Long, Long, Seq[(String, Long)]) = {
    val viols = checkViols(checks)
    val anyViol = viols.map(_._2).reduce(_ || _)
    val row = incoming.agg(
      count(lit(1)).as("__total"),
      (count(when(anyViol, lit(1))).as("__bad") +:
        viols.map { case (n, v) => count(when(v, lit(1))).as(n) }): _*)
      .head()
    (row.getLong(0), row.getLong(1),
      checks.zipWithIndex.map { case ((n, _), i) => n -> row.getLong(i + 2) })
  }

  /** Gate `incoming` (new rows entering the sink via `op`) through the
    * declared checks: (clean rows to fold, Some(violating rows tagged
    * with [[CheckFailedCol]]) in quarantine mode). No checks — or no
    * violation — passes everything through untouched with ZERO extra
    * jobs in the first case and one bounded aggregation in the second.
    * Refuse mode (and an ALL-violating feed even in quarantine mode —
    * quarantining 100 % of a batch is an upstream disaster better
    * stopped than absorbed, and a clean-empty fold would mint a
    * dataless epoch) aborts with the per-check counts; nothing was
    * mutated yet at every call site, so sources stay consumable.
    * Cost on the violating quarantine path: the split's two filters
    * (plus the caller's writes) re-read the incoming frame — up to
    * three extra passes over data that is BATCH-sized by contract,
    * paid only on the rare flagged epoch (a cache here would leak
    * across the callers' commit boundaries for a constant-factor win
    * on the unhappy path). */
  private def enforceChecks(conf: SinkConf, path: String,
      incoming: DataFrame, checks: Seq[(String, String)], op: String)
      : (DataFrame, Option[DataFrame]) = {
    if (checks.isEmpty) return (incoming, None)
    val (total, bad, perCheck) = checkCounts(incoming, checks)
    if (bad == 0L) return (incoming, None)
    val detail = perCheck.filter(_._2 > 0)
      .map { case (n, c) => s"$n: $c" }.mkString("; ")
    require(conf.checkMode == "quarantine",
      s"$op over $path refused by CHECK constraint(s) [$detail] of " +
        s"$total incoming row(s) - rectify the feed, drop the check, " +
        "or set spark.graft.sink.checkMode=quarantine to divert")
    require(bad < total,
      s"$op over $path: EVERY incoming row ($total) violates the " +
        s"declared checks [$detail] - refusing even in quarantine " +
        "mode; fix the feed")
    val viols = checkViols(checks)
    val anyViol = viols.map(_._2).reduce(_ || _)
    (incoming.filter(!anyViol),
      Some(incoming.filter(anyViol).withColumn(CheckFailedCol,
        concat_ws(",", viols.map { case (n, v) =>
          when(v, lit(n))
        }: _*))))
  }

  /** Land this epoch's freshly-quarantined rows under its own origin
    * subdir — day-partitioned like the data they were refused from,
    * atomic with the epoch (pre-commit; an uncommitted attempt
    * discards them wholesale). */
  private def writeQuarantine(spark: SparkSession,
      epochDir: org.apache.hadoop.fs.Path, epoch: Long,
      bad: DataFrame): Unit =
    withMicrosTs(spark) {
      bad.write.mode("overwrite").partitionBy("day")
        .parquet(new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(epochDir, QuarantineDir),
          s"epoch=$epoch").toString)
    }

  /** Carry the superseded epoch's un-drained quarantine subdirs into
    * the minted epoch BY HARD LINK (origin subdirs are immutable once
    * written — cleared only wholesale — so link sharing is safe for
    * [[SharedArtifacts.cloneTo]]'s reason), pre-commit: every epoch
    * serves the full surviving feed, retirement deletes old copies
    * without losing it, and a drain ([[clearSinkQuarantine]]) stays
    * drained because later mints carry from the cleared state.
    *
    * An ALTER-NORMALIZING fold passes its pending rename/drop: the
    * carried generations REWRITE through [[applyAlter]] instead of
    * linking (bounded by the feed, the same one-time migration the
    * fold pays for the data days) — linked old-name files beside new
    * post-alter generations would otherwise serve a silently mixed
    * schema once the marker clears. */
  private def carryQuarantine(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, path: String, fromEpoch: Long,
      epochDir: org.apache.hadoop.fs.Path, alterRen: Map[String, String],
      alterDrop: Seq[String]): Unit = {
    if (fromEpoch < 0) return
    val src = new org.apache.hadoop.fs.Path(
      s"$path/epoch=$fromEpoch/$QuarantineDir")
    if (!f.exists(src)) return
    val conf = spark.sparkContext.hadoopConfiguration
    f.listStatus(src).foreach { s =>
      if (s.isDirectory && s.getPath.getName.startsWith("epoch=")) {
        val dest = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(epochDir, QuarantineDir),
          s.getPath.getName)
        if (!f.exists(dest)) {
          if (alterRen.isEmpty && alterDrop.isEmpty)
            SharedArtifacts.linkOrCopyTree(conf, s.getPath, dest)
          else withMicrosTs(spark) {
            applyAlter(
              spark.read.option("basePath", s.getPath.toString)
                .option("mergeSchema", "true").parquet(s.getPath.toString),
              alterRen, alterDrop)
              .write.mode("overwrite").partitionBy("day")
              .parquet(dest.toString)
          }
        }
      }
    }
  }

  /** The sink's accumulated quarantine feed — every violating row not
    * yet drained, served from the CURRENT epoch only (each mint
    * carries the surviving subdirs forward, exactly as [[readSink]]
    * reads the one max epoch zone): the original rejected rows plus
    * [[CheckFailedCol]] (comma-joined failing check names), `day`,
    * and `__quarantine_epoch` (the origin epoch — the drain cursor).
    * A pending alter applies to quarantined rows exactly as
    * [[readSink]] applies it to data rows. An empty feed returns the
    * bookkeeping columns only (the rejected rows' schema is
    * data-dependent). */
  def readSinkQuarantine(spark: SparkSession, path: String): DataFrame = {
    val f = fs(spark, path)
    val cut = maxEpoch(spark, path)
    def emptyFeed = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("day",
          org.apache.spark.sql.types.DateType),
        org.apache.spark.sql.types.StructField(CheckFailedCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__quarantine_epoch",
          org.apache.spark.sql.types.LongType))))
    if (cut < 0) return emptyFeed
    val qDir = new org.apache.hadoop.fs.Path(
      s"$path/epoch=$cut/$QuarantineDir")
    if (!f.exists(qDir)) return emptyFeed
    val subs = f.listStatus(qDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.toString).sorted
    if (subs.isEmpty) return emptyFeed
    val raw = spark.read.option("basePath", qDir.toString)
      .option("mergeSchema", "true").parquet(subs: _*)
      .withColumn("__quarantine_epoch", col("epoch").cast("long"))
      .drop("epoch")
    val (ren, drop) = readAlter(f, path)
    if (ren.isEmpty && drop.isEmpty) raw else applyAlter(raw, ren, drop)
  }

  /** Drain the quarantine feed: delete origin subdirs with epoch ≤
    * `throughEpoch` from the current epoch (the consumer's commit
    * point after shipping the rows to triage — retained OLDER epochs'
    * hard-linked copies retire with their epochs). Returns the
    * drained origin ids, oldest first. Holds [[CompactLock]]. */
  def clearSinkQuarantine(spark: SparkSession, path: String,
      throughEpoch: Long): Seq[Long] =
    withFencedCompactorLock(spark, path, None) { (_, fence) =>
      val f = fs(spark, path)
      val cut = maxEpoch(spark, path)
      if (cut < 0) Seq.empty
      else {
        val qDir = new org.apache.hadoop.fs.Path(
          s"$path/epoch=$cut/$QuarantineDir")
        if (!f.exists(qDir)) Seq.empty
        else {
          val victims = f.listStatus(qDir).toSeq
            .filter(s =>
              s.isDirectory && s.getPath.getName.startsWith("epoch="))
            .map(s =>
              (s.getPath.getName.stripPrefix("epoch=").toLong, s.getPath))
            .filter(_._1 <= throughEpoch).sortBy(_._1)
          fence()
          victims.foreach { case (_, p) => f.delete(p, true) }
          victims.map(_._1)
        }
      }
    }

  /** Every day of committed epoch `epochId` paired with the directory
    * that PHYSICALLY holds it: the epoch's own `day=` children plus —
    * when a durable [[MergePlan]] is present (snapshot mode,
    * [[SinkConf.keepEpochs]] > 1, or any mid-crash window) — each still-owed
    * day resolved TRANSITIVELY down the committed-epoch chain (an
    * owed day may itself be owed by the source epoch, and so on;
    * plans always link an epoch to its immediate committed
    * predecessor, so the chain is the committed-epoch sequence and
    * its depth is bounded by the retained count). A referenced day no
    * epoch holds physically is an invariant violation — the retention
    * protocol materializes before it deletes — and refuses loudly. */
  private[ops] def resolvedDays(f: org.apache.hadoop.fs.FileSystem,
      path: String, epochId: Long)
      : Seq[(String, org.apache.hadoop.fs.Path)] = {
    val eDir = new org.apache.hadoop.fs.Path(s"$path/epoch=$epochId")
    val physical = f.listStatus(eDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      .map(s => s.getPath.getName -> s.getPath)
    val plan = new org.apache.hadoop.fs.Path(eDir, MergePlan)
    if (!f.exists(plan)) physical
    else {
      val (from, owed) = readPlan(f, plan)
      val have = physical.map(_._1).toSet
      val pending = owed.filterNot(have)
      if (pending.isEmpty) physical
      else {
        val below = resolvedDays(f, path, from).toMap
        physical ++ pending.map { d =>
          d -> below.getOrElse(d, throw new IllegalStateException(
            s"epoch=$epochId of $path owes $d from epoch=$from but no " +
              "retained epoch holds it - the sink's retention protocol " +
              "was violated (epochs must be retired via vacuumEpochs / " +
              "the lifecycle ops, never deleted by hand)"))
        }
      }
    }
  }

  /** Whether `name` names a data file: Hadoop's hidden-file rule,
    * under which `_`/`.` names (markers, manifests, checksums) are
    * metadata. */
  private[ops] def isDataName(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Every data file of committed epoch `epochId` as (day, file name,
    * path), over its [[resolvedDays]]: the one answer to "which files
    * does this epoch hold" that [[SinkStats]]' manifests index and
    * count. */
  private[ops] def epochFiles(f: org.apache.hadoop.fs.FileSystem,
      path: String, epochId: Long)
      : Seq[(String, String, org.apache.hadoop.fs.Path)] =
    resolvedDays(f, path, epochId).flatMap { case (day, dir) =>
      f.listStatus(dir).toSeq
        .filter(s => s.isFile && isDataName(s.getPath.getName))
        .map(s => (day, s.getPath.getName, s.getPath))
    }

  /** One frame over resolved day directories, or data files directly
    * under them, grouped by physical parent epoch so the plan keeps ONE
    * parquet relation per source epoch (bounded by the retained-epoch
    * count) instead of one per day; `day` comes from hive partition
    * discovery under each group's basePath, so day-predicate pruning
    * prunes file listings exactly as on a fully-physical epoch. With a
    * recorded epoch schema ([[EpochMarker.schema]]) the read is
    * declared, not inferred — no footer job at construction, and files
    * missing a recorded column (additive drift in moved days) surface
    * it as NULL; only a pre-record marker falls back to mergeSchema. */
  private[ops] def readDays(spark: SparkSession,
      paths: Seq[org.apache.hadoop.fs.Path],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    paths.groupBy(p => (if (p.getName.startsWith("day=")) p else p.getParent)
        .getParent.toString).toSeq.sortBy(_._1)
      .map { case (base, ps) =>
        val r = spark.read.option("basePath", base)
        schema.fold(r.option("mergeSchema", "true"))(r.schema)
          .parquet(ps.map(_.toString).sorted: _*)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** The full relation of committed epoch `epochId`; None when the
    * epoch holds no data (retention emptied it). Fast path: a fully
    * physical epoch (no plan — the K=1 steady state) is ONE scan of
    * the epoch directory; an epoch holding days by reference reads
    * through [[readDays]]' grouped resolution. */
  private[ops] def readEpochFrame(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, path: String,
      epochId: Long): Option[DataFrame] = {
    val eDir = s"$path/epoch=$epochId"
    val plan = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(eDir), MergePlan)
    // recorded schema (r18): construction is declared, not inferred —
    // the mergeSchema footer sweep ran as a 0.2-0.5 s job per frame
    // here; legacy markers fall back to it
    val recorded =
      CommitLog.lenient(epochMarker(f, path, epochId).flatMap(_.schema))
    if (!f.exists(plan)) {
      val hasDays = f
        .listStatus(new org.apache.hadoop.fs.Path(eDir)).toSeq
        .exists(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      if (!hasDays) None
      else Some {
        val r = spark.read
        recorded.fold(r.option("mergeSchema", "true"))(r.schema)
          .parquet(eDir)
      }
    } else {
      val days = resolvedDays(f, path, epochId)
      if (days.isEmpty) None
      else Some(readDays(spark, days.map(_._2), recorded))
    }
  }

  /** Transitive [[finishMoves]]: pull every day epoch `epochId` still
    * holds by reference up into its own directory (idempotent atomic
    * renames; a crash re-derives the remainder from the plan) and drop
    * its plan. Called on the OLDEST RETAINED epoch immediately before
    * the epochs below the retention horizon are deleted: every newer
    * retained epoch's resolution chain passes through this one, so
    * materializing it is exactly what makes those deletions safe. */
  private def materializeEpoch(f: org.apache.hadoop.fs.FileSystem,
      path: String, epochId: Long): Unit = {
    val eDir = new org.apache.hadoop.fs.Path(s"$path/epoch=$epochId")
    val plan = new org.apache.hadoop.fs.Path(eDir, MergePlan)
    if (!f.exists(plan)) return
    resolvedDays(f, path, epochId).foreach { case (d, p) =>
      if (p.getParent.getName != s"epoch=$epochId") {
        val dest = new org.apache.hadoop.fs.Path(eDir, d)
        if (!f.exists(dest)) {
          f.rename(p, dest)
          require(f.exists(dest),
            s"could not materialize $d from ${p.getParent} into $eDir")
        }
      }
    }
    f.delete(plan, false)
  }

  /** Enforce the snapshot-retention depth: keep the
    * [[SinkConf.keepEpochs]] newest committed epochs, MATERIALIZE the
    * oldest retained one, delete the rest. Crash-ordered — materialize
    * fully, then delete — so a death at any point leaves every retained
    * epoch resolvable and the next call finishes the job. Caller holds
    * [[CompactLock]]. Returns the retired epoch ids, oldest first.
    *
    * Mechanically, K > 1 flips the merge-move protocol into
    * BY-REFERENCE mode: a lifecycle op still records the untouched
    * days it owes from the previous epoch in its [[MergePlan]], but
    * the plan becomes a DURABLE structure — nobody rolls it forward,
    * the previous epoch stays intact as an immutable snapshot, and
    * readers resolve each referenced day transitively down the
    * committed-epoch chain ([[resolvedDays]]). Day directories MOVE
    * (O(1) rename) only when an epoch falls below the retention
    * horizon, here. Lowering K (even back to 1) is safe and collapses
    * history at the next maintenance op ([[vacuumEpochs]] forces it).
    * The marginal cost of an epoch of grace is metadata plus the
    * TOUCHED days' data — untouched days are shared by reference — so
    * grace is cheap exactly when mutations are day-local. */
  private def retireEpochsLocked(spark: SparkSession, path: String,
      f: org.apache.hadoop.fs.FileSystem, conf: SinkConf): Seq[Long] = {
    val committed = committedEpochs(spark, path)
    val keep = conf.keepEpochs
    if (committed.size <= keep) Seq.empty
    else {
      val victims = committed.dropRight(keep)
      materializeEpoch(f, path, committed.takeRight(keep).head._1)
      victims.foreach { case (_, p) => f.delete(p, true) }
      victims.map(_._1)
    }
  }

  /** Fold the live `batch_id=N` directories AND the previous epoch into
    * ONE date-partitioned epoch directory `epoch=<maxN>/day=YYYY-MM-DD/`
    * and retire the sources, so the steady state is a SINGLE epoch zone
    * no matter how many compactions have run (round-10 shape minted one
    * immortal epoch per run — an 8.8k-way union plan after a year of
    * hourly compaction).
    *
    * Scale posture: re-compaction does NOT rewrite history. Only days
    * that actually received new rows are read+rewritten merged; every
    * other day directory of the previous epoch is MOVED into the new
    * epoch by a filesystem rename — O(1) per day, no data I/O — so the
    * cost of a compaction is O(new data + touched days), not O(table).
    * The rewrite shuffles once on `day` (one sized writer per day via
    * repartition); readers prune on `day=` like any hive partition.
    *
    * The rewrite shuffles once, range-partitioned on (day, tsCol) into
    * a SIZE-AWARE number of writer partitions (input bytes /
    * `spark.graft.compact.targetFileBytes`, default 128 MiB, floored at
    * the day count capped at 1024): a hot day writes through k parallel
    * sized writers instead of funneling through one task (the round-11
    * shape hashed on the low-cardinality `day` alone — one writer per
    * day, which at a 100 TB/day feed funnels terabytes through a single
    * task), a quiet day keeps one parallel writer and one sized file,
    * and `day=` pruning stays exact (hive layout unchanged). The range
    * partitioner adds one extra job that SAMPLES the input (a bounded
    * reservoir per partition, not a second full read); that is cheap
    * next to the shuffle+write and is what buys balanced writers
    * without a per-day file-count plan.
    *
    * Input gating (the at-least-once window): a batch directory is
    * consumed only if its [[BatchCommit]] marker exists — a dir the
    * stream died inside is left for the restart's replay to overwrite,
    * never folded half-written into an epoch. Additionally, unless
    * `quiesced = true`, the max live batch id is NEVER consumed even
    * when committed: it is the one batch a restart can legitimately
    * replay (checkpoint commit pending), and a replay's mode=overwrite
    * delete-then-rewrite must not race the compactor's read. Pass
    * `quiesced = true` only when the writing stream is known stopped.
    * With one writer and one compactor — BOTH halves now ENFORCED
    * ([[WriterLock]] lease on the write path, [[CompactLock]] on
    * maintenance), not just documented — every crash point is
    * recovered by the next run, and READERS stay consistent throughout:
    *
    *  - died before the commit marker → an uncommitted attempt never
    *    holds moved-in days (moves fire strictly after commit), so it
    *    is discarded wholesale; sources untouched, retry recomputes;
    *  - died after commit, mid-move → the epoch is complete BY
    *    REFERENCE: its merge plan lists the days still owed, and both
    *    recovery and readSink resolve each one to whichever side of
    *    its atomic rename it is on;
    *  - died after the moves, before the deletes → sources are durably
    *    represented; recovery retires every batch dir ≤ maxEpoch and
    *    every older epoch, and readSink (which reads only the max
    *    committed epoch) never double-counts them.
    *
    * Schema drift is additive: batches are read with mergeSchema and
    * merged across the epoch boundary with unionByName(allowMissing),
    * so a column added mid-stream survives compaction (old rows carry
    * NULL). Rows with a NULL `tsCol` are first-class: they compact into
    * hive's null-partition directory and MERGE across epochs like any
    * other day (see [[NullDayDir]]).
    *
    * Reader overlap: a [[readSink]] frame is lazy — it pins the epoch
    * and batch directories that exist at CONSTRUCTION. A compaction
    * that commits and retires those sources between construction and
    * the scan makes the read fail (FileNotFoundException), so reads
    * must not overlap a compaction: collect before compacting, or
    * schedule a grace period between the two. The consistency
    * guarantees above are for readers that do not straddle a
    * compaction's source retirement.
    *
    * Returns the new max epoch (unchanged if nothing to do). */
  def compactSink(spark: SparkSession, path: String,
      tsCol: String = "ts", quiesced: Boolean = false,
      conf: Option[SinkConf] = None): Long =
    mutate(spark, path, conf)(compactLocked(spark, path, tsCol, quiesced, _))

  /** Recovery step shared by every maintenance op: settle every epoch
    * attempt — finish the move phase of committed epochs still
    * carrying a plan (BEFORE retirement can drop their source epoch),
    * discard uncommitted attempts (which by construction hold no
    * moved-in days). */
  private def settleEpochs(spark: SparkSession, path: String,
      f: org.apache.hadoop.fs.FileSystem, conf: SinkConf,
      rollPlans: Boolean): Unit = {
    // In snapshot mode (keepEpochs > 1) a committed epoch's plan is
    // the DURABLE by-reference structure, not a crashed move phase —
    // only classic mode rolls plans forward here. Ascending order
    // makes the single-level finishMoves total even over a plan CHAIN
    // left behind by a keepEpochs decrease: by the time an epoch is
    // processed, the epoch its plan references is already physical.
    val rollForward = rollPlans && conf.keepEpochs == 1
    subdirs(spark, path, "epoch=").sortBy(_._1).foreach { case (_, p) =>
      if (!f.exists(new org.apache.hadoop.fs.Path(p, EpochCommit)))
        f.delete(p, true)
      else if (rollForward && f.exists(new org.apache.hadoop.fs.Path(p, MergePlan)))
        finishMoves(f, path, p)
    }
  }

  /** The scaffold of every op that mints (or retires) epochs: take the
    * [[CompactLock]], fence, [[settleEpochs]] (an uncommitted attempt
    * at any id — above all at `max+1`, the id the op is about to mint —
    * is discarded, never adopted), read the cut, and hand the body a
    * [[Mutation]]. `rollPlans = false` settles without rolling classic
    * mode's plans forward, for [[retireDays]], whose rail refuses a
    * plan owing an expired day. */
  private def mutate[T](spark: SparkSession, path: String,
      conf: Option[SinkConf], rollPlans: Boolean = true)(
      body: Mutation => T): T =
    withFencedCompactorLock(spark, path, conf) { (c, fence) =>
      // fence BEFORE the first irreversible mutation: settleEpochs
      // deletes uncommitted epoch attempts, and a displaced holder
      // (stalled past staleness, lock since stolen) running it would
      // delete the NEW holder's in-flight attempt out from under its
      // commit
      fence()
      settleEpochs(spark, path, fs(spark, path), c, rollPlans)
      body(new Mutation(spark, path, c, fence))
    }

  /** A settled sink under the lock, as [[mutate]] hands it to an op:
    * the call's settings `c`, the cut — `before` (max committed epoch,
    * −1 none), `prev` (its marker, read strictly) and `wm` (its
    * consumed-batch watermark) — and the steps the ops share. */
  private final class Mutation(spark: SparkSession, path: String,
      val c: SinkConf, val fence: () => Unit) {
    val f: org.apache.hadoop.fs.FileSystem = fs(spark, path)
    val before: Long = maxEpoch(spark, path)
    val prev: Option[EpochMarker] = epochMarker(f, path, before)
    val wm: Long = prev.fold(-1L)(_.watermark)

    def dir(epoch: Long) = new org.apache.hadoop.fs.Path(s"$path/epoch=$epoch")

    /** The quiesced-batches rail: committed batches above the watermark
      * hold rows no epoch represents yet. `refusal` words the op's
      * message from their count. */
    def requireQuiesced(refusal: Int => String): Unit = {
      val live = committedBatches(spark, path, wm)
      require(live.isEmpty, refusal(live.size))
    }

    /** The pending-alter rail of the ops whose per-day rewrite must see
      * one physical schema. */
    def requireNoAlter(refusal: String): Unit = {
      val (ren, drop) = readAlter(f, path)
      require(ren.isEmpty && drop.isEmpty, refusal)
    }

    /** Retire the committed epochs past the retention depth, fenced. */
    def retire(): Seq[Long] = {
      fence()
      retireEpochsLocked(spark, path, f, c)
    }

    /** Commit `epochDir`, whose data, change manifest and plan are
      * written, as `op` — the tail every mint shares, in order:
      * carry the superseded epoch's quarantine feed in (rewritten
      * through the `alter` a normalizing fold applies), fence (the
      * commit makes the epoch visible: last exit), [[commitEpoch]],
      * `afterCommit`, retire past the retention depth (classic mode
      * materializes the new epoch and drops its source), `afterRetire`,
      * [[autoIndexStats]]. A mint consumes no batch unless it says so:
      * `consumed` defaults to the watermark it supersedes. */
    def mint(epochDir: org.apache.hadoop.fs.Path, op: String,
        schema: Option[org.apache.spark.sql.types.StructType],
        consumed: Long = wm,
        bloomCols: Option[Set[String]] = mintedBloomCols(c, prev),
        alter: (Map[String, String], Seq[String]) = (Map.empty, Seq.empty),
        afterCommit: () => Unit = () => (),
        afterRetire: () => Unit = () => ()): Unit = {
      carryQuarantine(spark, f, path, before, epochDir, alter._1, alter._2)
      fence()
      commitEpoch(f, epochDir, consumed, op, bloomCols, prev, schema)
      afterCommit()
      retireEpochsLocked(spark, path, f, c)
      afterRetire()
      autoIndexStats(spark, path, c)
    }
  }

  /** The sized epoch writer every rewrite shares: `frame` shuffles once,
    * range-partitioned on [[epochRangeKeys]] into enough writers that
    * each writes ~`targetFileBytes` of `inputBytes`, floored at the
    * `dayCount` (capped at 1024) so quiet days keep one PARALLEL writer
    * each — a measured local[32] comparison showed a single coalesced
    * writer serializing its per-day parquet file creations, so the
    * floor buys cross-day write parallelism while a hot day still spans
    * several (day, tsCol) ranges and writes that many sized files. */
  private def writeEpochDays(frame: DataFrame,
      epochDir: org.apache.hadoop.fs.Path, inputBytes: Long, dayCount: Int,
      tsCol: String, conf: SinkConf): Unit = {
    val k = conf.writers(inputBytes, math.min(dayCount.toLong, 1024L))
    withMicrosTs(frame.sparkSession) {
      frame.repartitionByRange(k, epochRangeKeys(conf, frame, tsCol): _*)
        .write.mode("overwrite").options(epochWriteOptions(conf))
        .partitionBy("day")
        .parquet(epochDir.toString)
    }
  }

  /** Chain data-skipping manifest emission into the epoch commit —
    * closing the refuse-window the manual `indexSinkStats` /
    * `indexSinkBloom` discipline leaves open (every lifecycle op mints
    * an epoch whose stale manifest REFUSES pruned reads until a
    * re-index runs; correct-but-loud, and at 100 TB a maintenance step
    * someone forgets). With [[SinkConf.statsAutoIndex]] and/or
    * [[SinkConf.bloomAutoIndex]] set, every epoch-minting op ends by
    * re-indexing the
    * fresh epoch before the op returns — so a pruned read NEVER
    * observes a manifest-less epoch. Cost per op: stats re-index is
    * O(files) distributed footer reads — and so is the bloom re-index,
    * because the same conf makes every epoch write emit parquet's
    * NATIVE column blooms ([[epochWriteOptions]]) which
    * [[SinkStats.indexSinkBloom]] lifts straight out of the footers;
    * only files written WITHOUT native blooms (foreign writers,
    * pre-conf epochs) pay the one column-pruned scan fallback.
    * Off by default (both confs unset = the manual discipline).
    * An epoch holding no data (retention emptied it) has nothing to
    * index and is skipped. */
  private def autoIndexStats(spark: SparkSession, path: String,
      conf: SinkConf): Unit = {
    val statCols = conf.statsAutoIndex
    val bloomCols = conf.bloomAutoIndex
    if (statCols.nonEmpty || bloomCols.nonEmpty) {
      val f = fs(spark, path)
      val e = maxEpoch(spark, path)
      if (e >= 0 && resolvedDays(f, path, e).nonEmpty) {
        if (statCols.nonEmpty) SinkStats.indexSinkStats(spark, path, statCols)
        bloomCols.foreach(c => SinkStats.indexSinkBloom(spark, path, c))
      }
    }
  }

  /** The range-partition key every sized epoch writer shuffles on —
    * shared by ALL epoch-minting rewrites (compaction, the alter-only
    * normalize pass, delete and upsert affected-day rewrites) so no
    * lifecycle op silently destroys the sink's clustering layout:
    *
    *  - optional zone-map clustering ([[SinkConf.clusterBy]])
    *    inserted between the partition key
    *    and the ts tie-breaker, so each sized file covers a narrow
    *    range of the clustered columns and SinkStats' per-file min/max
    *    manifest can actually skip files;
    *  - the multi-column variant ([[SinkConf.zorderBy]], ≥ 2
    *    columns): a Morton-interleaved quantile-rank key so each sized
    *    file covers a small RECTANGLE across all named columns — zone
    *    maps then prune on any of them. Costs one approximate-quantile
    *    pass over the rewrite's own input (column-pruned,
    *    driver-bounded cuts) — the same trade every OPTIMIZE ZORDER
    *    pays.
    *
    * Default empty = the (day, ts) shape; either way the shuffle keys
    * on MORE than the partition columns (WriteShapeLintSpec's
    * no-funnel invariant). Before r15 the alter-only normalize and the
    * delete/upsert rewrites keyed on (day, ts) unconditionally — a
    * rename/drop normalize on a clustered sink destroyed the layout,
    * degrading skipping until the next data-bearing compaction. */
  private def epochRangeKeys(conf: SinkConf, df: DataFrame,
      tsCol: String): Seq[Column] = {
    val clusterCols = conf.clusterBy.filter(df.columns.contains(_)).map(col)
    val zKey = conf.zorderBy.filter(df.columns.contains(_)) match {
      case zc if zc.size >= 2 => Seq(SinkStats.zOrderKey(df, zc))
      case _ => Seq.empty
    }
    val ts = if (df.columns.contains(tsCol)) Seq(col(tsCol)) else Seq.empty
    (col("day") +: zKey ++: clusterCols) ++ ts
  }

  /** Writer options every epoch write carries: with
    * [[SinkConf.bloomAutoIndex]] set, the parquet writer
    * emits its NATIVE per-chunk bloom filters for those columns
    * (adaptively sized to the chunk's actual distinct count) and
    * disables dictionary encoding on them — parquet skips the bloom
    * for a fully-dictionary-encoded chunk, and a point-lookup key is
    * high-cardinality anyway, so the dictionary was pure overhead
    * there. This is what makes the auto bloom re-index O(files):
    * [[SinkStats.indexSinkBloom]] lifts the ready-made filters out of
    * the footers instead of re-scanning the epoch's data. */
  private def epochWriteOptions(conf: SinkConf): Map[String, String] = {
    val cols = conf.bloomAutoIndex
    if (cols.isEmpty) Map.empty
    else Map(
      "parquet.bloom.filter.adaptive.enabled" -> "true",
      // adaptive candidates halve down from max.bytes (1 MiB): the
      // default 5 floors at 64 KiB, absurd for a small chunk - 9
      // reaches 4 KiB so the picked size tracks the chunk's actual
      // distinct count at every file size
      "parquet.bloom.filter.candidates.number" -> "9") ++
      cols.flatMap(c => Seq(
        s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.enable.dictionary#$c" -> "false"))
  }

  /** Move a consumed batch dir under `epochDir/`[[ChangesRefDir]] —
    * the retirement of a batch an insert epoch's change manifest holds
    * by reference. Idempotent: a re-run that finds the destination
    * already populated (the rename landed before a crash) just drops
    * the source. */
  private def moveRefInto(f: org.apache.hadoop.fs.FileSystem,
      epochDir: org.apache.hadoop.fs.Path,
      src: org.apache.hadoop.fs.Path): Unit = {
    val refRoot = new org.apache.hadoop.fs.Path(epochDir, ChangesRefDir)
    if (!f.exists(refRoot)) f.mkdirs(refRoot)
    val dest = new org.apache.hadoop.fs.Path(refRoot, src.getName)
    if (f.exists(dest)) f.delete(src, true)
    else {
      f.rename(src, dest)
      require(f.exists(dest), s"could not move $src into $refRoot")
    }
  }

  /** Retire batch dirs already folded into an epoch (id ≤ the consumed
    * watermark), finishing any by-reference moves a crash interrupted:
    * a folded dir still at the root is either the pre-move window of a
    * change-recording compaction (some retained epoch's manifest names
    * it — MOVE it home) or plain crash debris (DELETE it, as before).
    * The owner lookup reads the retained manifests' tiny ref lists and
    * is paid ONLY on the crash path — in steady state no folded dir
    * exists and this is one directory listing. */
  private def settleChangeRefs(spark: SparkSession, path: String,
      f: org.apache.hadoop.fs.FileSystem, wm: Long): Unit = {
    val folded = subdirs(spark, path, "batch_id=").filter(_._1 <= wm)
    if (folded.isEmpty) return
    val owners: Map[String, org.apache.hadoop.fs.Path] =
      subdirs(spark, path, "epoch=").filter { case (_, p) =>
        f.exists(new org.apache.hadoop.fs.Path(p, EpochCommit)) &&
          f.exists(new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(p, ChangesDir), "_SUCCESS"))
      }.flatMap { case (_, p) =>
        val cDir = new org.apache.hadoop.fs.Path(p, ChangesDir)
        if (!f.listStatus(cDir).exists(_.getPath.getName.startsWith("part-")))
          Seq.empty
        else {
          val man = spark.read.parquet(cDir.toString)
          if (!man.columns.contains(CdcRefCol)) Seq.empty
          else man.select(col(CdcRefCol)).filter(col(CdcRefCol).isNotNull)
            .distinct().collect().map(_.getString(0) -> p).toSeq
        }
      }.toMap
    folded.foreach { case (_, p) =>
      owners.get(p.getName) match {
        case Some(eDir) => moveRefInto(f, eDir, p)
        case None => f.delete(p, true)
      }
    }
  }

  private def compactLocked(spark: SparkSession, path: String,
      tsCol: String, quiesced: Boolean, m: Mutation): Long = {
    import m.{before, f, prev, wm, c => conf}
    // recovery step 1 is [[mutate]]'s settle. Step 2: committed epochs
    // past the retention depth are fully represented in the retained
    // ones (re-compaction folds
    // history forward; materialization pulls referenced days up before
    // any deletion) — retire them, and retire batch dirs already
    // folded into an epoch. "Folded" is decided by the epoch's
    // consumed-batch WATERMARK, not its id: a delete-minted epoch id
    // runs ahead of the batch counter, and comparing ids would retire
    // the next batches unconsumed.
    m.retire()
    settleChangeRefs(spark, path, f, wm)
    // pending rename/drop: normalize it PHYSICALLY in this rewrite -
    // every input (batches and previous epoch) conforms to the logical
    // schema before widening, and the all-days rewrite below is forced
    // so no moved file can keep an old-name footer
    val (alterRen, alterDrop) = readAlter(f, path)
    val alterPending = alterRen.nonEmpty || alterDrop.nonEmpty
    def alterOf(df: DataFrame): DataFrame =
      if (!alterPending) df else applyAlter(df, alterRen, alterDrop)
    // an alter with NOTHING fresh to fold still needs its normalize
    // pass: rewrite every previous day through the conform and mint
    // the epoch that clears the marker
    def normalizeOnly(): Long = {
      if (!alterPending || before < 0) return before
      val prevDays = resolvedDays(f, path, before)
      if (prevDays.isEmpty) {
        f.delete(new org.apache.hadoop.fs.Path(path, PendingAlter), false)
        return before
      }
      val src = applyAlter(
        readDays(spark, prevDays.map(_._2), prev.flatMap(_.schema)),
        alterRen, alterDrop)
      val epochDir = m.dir(before + 1)
      writeEpochDays(src, epochDir,
        prevDays.map(d => f.getContentSummary(d._2).getLength).sum,
        prevDays.size, tsCol, conf)
      // a rename/drop changes representation, not rows: an EMPTY
      // manifest keeps CDC ranges crossing this epoch on the O(churn)
      // path ("nothing changed" ≠ "churn not recorded")
      if (conf.changeFiles)
        writeEpochChanges(spark, epochDir,
          src.limit(0).withColumn(CdcKindCol, lit("insert")))
      // all-days rewrite: the written frame IS the epoch's full width
      m.mint(epochDir, "compact", Some(mintSchema(src.schema, None)),
        alter = (alterRen, alterDrop), afterCommit = () =>
          f.delete(new org.apache.hadoop.fs.Path(path, PendingAlter), false))
      before + 1
    }
    // input selection: committed batches only, max live id held back
    // unless the writer is quiesced (see scaladoc)
    val candidates = subdirs(spark, path, "batch_id=")
    val committed = candidates.filter { case (_, p) =>
      f.exists(new org.apache.hadoop.fs.Path(p, BatchCommit))
    }
    val maxLiveId = candidates.map(_._1).maxOption
    val live =
      if (quiesced) committed
      else committed.filterNot { case (id, _) => maxLiveId.contains(id) }
    if (live.isEmpty) return normalizeOnly()
    // a committed batch dir can hold zero data files (an empty
    // micro-batch); reading an all-empty set would fail schema
    // inference, and WRITING an epoch from zero rows would leave a
    // dataless epoch dir that breaks readSink the same way — so
    // rowless inputs are retired without minting an epoch
    def retireLive(): Long = {
      live.foreach { case (_, p) => f.delete(p, true) }
      normalizeOnly()
    }
    val withData = live.filter { case (_, p) =>
      f.listStatus(p).exists(_.getPath.getName.startsWith("part-"))
    }
    if (withData.isEmpty) return retireLive()
    val consumed = live.map(_._1).max
    // the epoch id must exceed BOTH the previous epoch (maxEpoch picks
    // the max committed id) and the consumed batches; after a delete
    // (which advances the epoch counter without consuming batches) the
    // batch counter may lag the epoch counter
    val epoch = math.max(consumed, before + 1)
    val epochDir = m.dir(epoch)
    // previous-epoch days by RESOLVED physical location: identical to
    // a directory listing in classic mode (no plan), and in snapshot
    // mode it sees the days the epoch holds by reference too
    val prevDays: Seq[(String, org.apache.hadoop.fs.Path)] =
      if (before < 0) Seq.empty
      else resolvedDays(f, path, before)
    // type-widening normalization (see the widen/widenedSchema block):
    // the target schema spans the batches AND the previous epoch, every
    // read conforms to it (no-op without drift), and a narrower
    // previous epoch forces the all-days rewrite below
    val batchSchemas = withData.map(d =>
      alterOf(spark.read.parquet(d._2.toString)).schema)
    val prevRecorded = prev.flatMap(_.schema)
    val prevSchema: Option[org.apache.spark.sql.types.StructType] =
      if (prevDays.isEmpty) None
      else Some(org.apache.spark.sql.types.StructType(
        alterOf(readDays(spark, prevDays.map(_._2), prevRecorded)).schema
          .filterNot(_.name == "day")))
    val target = widenedSchema(batchSchemas ++ prevSchema,
      s"compaction over $path")
    val batchesUniform = batchSchemas.forall(s =>
      s.forall(fld => target(fld.name).dataType == fld.dataType))
    val fresh0 =
      if (batchesUniform && !alterPending)
        spark.read.option("mergeSchema", "true")
          .parquet(withData.map(_._2.toString): _*)
      else withData
        .map(d => conform(alterOf(spark.read.parquet(d._2.toString)), target))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    val fresh0d = conform(fresh0, target)
      .withColumn("day", to_date(col(tsCol)))
    // CHECK gate: the declared constraints admit only passing rows
    // into the fold — refuse aborts here with per-check counts
    // (nothing mutated, batches stay consumable), quarantine diverts
    // the violators to the epoch's feed (written below, atomic with
    // the epoch)
    // PERSISTED across its consumers (r18): the fold reads the fresh
    // batches for the day-list collect, the range-partitioner's SAMPLE
    // pass, and the epoch write (plus the row-copy manifest under a
    // quarantined fold) — MEMORY_AND_DISK bounds it to the new data,
    // exactly the working set a compaction owns; unpersisted in the
    // finally below.
    val (fresh, quarRows) =
      enforceChecks(conf, path, fresh0d, readChecks(f, path), "compaction")
    fresh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val prevNarrow = prevSchema.exists(s =>
      s.exists(fld => target(fld.name).dataType != fld.dataType))
    // the day list is driver-side but bounded by the CALENDAR (days
    // touched since the last compaction), not by the data volume.
    // Null days normalize to hive's directory name, NOT "day=null" —
    // the round-11 string key missed the previous epoch's null-day dir
    // in the overlap set and lost its rows on re-compaction
    val freshDays = fresh.select("day").distinct().collect()
      .map(r => Option(r.get(0)).map(d => s"day=$d").getOrElse(NullDayDir))
      .toSet
    if (freshDays.isEmpty) return retireLive()
    // a narrower previous epoch makes EVERY previous day "overlap":
    // all are read through the widening cast and rewritten — the
    // one-time type-migration pass; untouched-day moves resume on the
    // next compaction once footers agree. A pending rename/drop forces
    // the same all-days pass for the same reason (old-name footers).
    val overlap =
      if (prevNarrow || alterPending) prevDays
      else prevDays.filter(d => freshDays.contains(d._1))
    val merged =
      if (overlap.isEmpty) fresh
      else fresh.unionByName(
        conform(alterOf(readDays(spark, overlap.map(_._2), prevRecorded)),
          target),
        allowMissingColumns = true)
    writeEpochDays(merged, epochDir, (withData.map(_._2) ++ overlap.map(_._2))
      .map(p => f.getContentSummary(p).getLength).sum,
      freshDays.size, tsCol, conf)
    // the epoch's quarantine: this fold's violators under their own
    // origin subdir, plus (at the mint) the superseded epoch's
    // un-drained feed carried forward by link — both pre-commit, atomic
    // with the epoch; a normalizing fold rewrites the carried
    // generations through the alter instead of linking
    quarRows.foreach(writeQuarantine(spark, epochDir, epoch, _))
    // churn record for ingest compactions ([[ChangesDir]]): BY
    // REFERENCE — the consumed batches ARE this epoch's inserts, and
    // they were about to be deleted anyway, so the manifest records
    // their dir NAMES and the post-commit retirement below MOVES them
    // under the epoch (O(1) renames, no ingest byte rewritten; Delta
    // CDF's add-only commits use the same trick). readEpochChanges
    // resolves each name to whichever side of its rename it is on; a
    // crash between commit and the moves is finished by the next
    // compaction's recovery (settleChangeRefs). A fold the CHECK gate
    // quarantined rows out of CANNOT record by reference — the batch
    // dirs hold rows that did NOT insert, and a reader resolving them
    // would serve phantom inserts — so that (rare, already-flagged)
    // epoch pays the row-copy manifest of exactly the admitted rows.
    if (conf.changeFiles) {
      if (quarRows.isEmpty) {
        import spark.implicits._
        writeEpochChanges(spark, epochDir,
          withData.map(d => ("insert", s"batch_id=${d._1}"))
            .toDF(CdcKindCol, CdcRefCol).repartition(1),
          refManifest = true)
      } else writeEpochChanges(spark, epochDir,
        fresh.withColumn(CdcKindCol, lit("insert")))
    }
    // the owed-day plan derives from the day dirs the write ACTUALLY
    // produced, not from the collected day strings — any naming drift
    // between the two would misclassify a written day as owed
    val writtenDays = f.listStatus(epochDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      .map(_.getPath.getName).toSet
    val toMove = prevDays.filterNot(d => writtenDays.contains(d._1))
    // fresh+merged days are durable — record the owed moves, COMMIT
    // (readers switch to this epoch, resolving owed days via the
    // plan), then perform the moves and retire the sources
    if (toMove.nonEmpty) writePlan(f, epochDir, before, toMove.map(_._1))
    // batch retirement: a batch the change manifest holds by reference
    // MOVES under the epoch (its files are the recorded insert rows);
    // everything else deletes as before (including a quarantined
    // fold's batches — their admitted rows were manifested by copy)
    val refIds: Set[Long] =
      if (conf.changeFiles && quarRows.isEmpty)
        withData.map(_._1).toSet
      else Set.empty
    // record the WIDENED TARGET's width, not merged's: conform only
    // casts, so an old-schema fold whose drift columns live entirely
    // in moved days writes a merged frame NARROWER than the epoch it
    // mints (the moved days still carry those columns). Once committed
    // the alter is physical: clear the marker (a crash before the
    // delete leaves a stale marker whose re-application is a guarded
    // no-op everywhere — applyAlter's idempotence — and which the next
    // compaction clears); after the epochs retire, the batches do
    m.mint(epochDir, "compact", Some(mintSchema(merged.schema,
        Some(org.apache.spark.sql.types.StructType(target)))),
      consumed = consumed, alter = (alterRen, alterDrop),
      afterCommit = () => if (alterPending)
        f.delete(new org.apache.hadoop.fs.Path(path, PendingAlter), false),
      afterRetire = () => live.foreach { case (id, p) =>
        if (refIds.contains(id)) moveRefInto(f, epochDir, p)
        else f.delete(p, true)
      })
    epoch
    } finally fresh.unpersist(false)
  }

  /** Fresh per-(query, input-dir, session) scratch sink for the
    * q115–q124 lifecycle queries (q90's convention): content-addressed
    * by md5(dir), session-token-suffixed, rooted at
    * `spark.graft.scratchDir` (JVM tmpdir fallback), cleared of any
    * previous run's tree so reruns are deterministic. */
  private[ops] def scratchSink(spark: SparkSession, dir: String,
      prefix: String): String = {
    val sink = SharedArtifacts.scratchPath(spark, dir, "graft_sink_scratch",
      prefix)
    fs(spark, sink).delete(new org.apache.hadoop.fs.Path(sink), true)
    sink
  }

  /** The SHARED fully-compacted events base the mutation provers start
    * from — built ONCE per session ([[SharedArtifacts]]; the r15
    * verdict's #6: q119 / q134 / the CDC source and replica each paid
    * the identical full-table ingest + quiesced compaction into
    * private scratches). Default layout, default confs. READ-ONLY
    * consumers share it in place; MUTATING provers (upsert, delete,
    * CDC lifecycles) [[SharedArtifacts.cloneTo]] a file copy first —
    * every consumer's results are identical to what a private build
    * produced because the build is deterministic and the clone is
    * byte-identical. */
  private[ops] def sharedEventsBase(spark: SparkSession,
      dir: String): String =
    SharedArtifacts.once(spark, dir, "events_base") { sink =>
      writeBatchIdempotent(Tables.events(spark, dir), sink, 0L)
      compactSink(spark, sink, quiesced = true)
    }

  /** [[sharedEventsBase]]'s two-generation sibling: the even/odd event
    * halves as TWO committed micro-batches folded by one quiesced
    * compaction — the exact preamble q116 (retention) and q117
    * (delete) each used to pay privately. */
  private[ops] def sharedEventsHalvesBase(spark: SparkSession,
      dir: String): String =
    SharedArtifacts.once(spark, dir, "events_halves") { sink =>
      val ev = Tables.events(spark, dir)
      writeBatchIdempotent(ev.filter(pmod(col("event_id"), lit(2)) === 0),
        sink, 0L)
      writeBatchIdempotent(ev.filter(pmod(col("event_id"), lit(2)) === 1),
        sink, 1L)
      compactSink(spark, sink, quiesced = true)
    }

  /** q115 — the ingestion path END TO END under the oracle hash: three
    * event slices land as micro-batch `batch_id=` directories (the
    * parquetSinkStream write shape), compaction runs MID-STREAM — in
    * its deployment (non-quiesced) form, so it folds batch 0 into a
    * date-partitioned epoch zone while holding back batch 1, the
    * replayable max live id — a third batch lands after, and the
    * result is read through the exactly-once union view and reduced to
    * per-day counts. The oracle is a plain day-count over `events` —
    * hash equality proves the ingest → compact → read path loses
    * nothing and duplicates nothing, with BOTH zones (epoch and live)
    * AND the held-back batch populated at read time. The sink lives in session
    * scratch (q90's convention: md5(dir) key + session token, rooted at
    * spark.graft.scratchDir or the JVM tmpdir) and is rebuilt from a
    * clean slate per invocation, so reruns are deterministic. */
  def q115StreamCompaction(spark: SparkSession, dir: String): DataFrame = {
    // READ-ONLY consumer: the mid-stream lifecycle state (two slices
    // landed, one NON-quiesced compaction that consumed only batch 0 —
    // the max live id is held back — then a third slice) is built once
    // per session and served in place; the query is the exactly-once
    // union read over epoch zone + live batches
    val sink = SharedArtifacts.once(spark, dir, "events_stream3") { out =>
      val ev = Tables.events(spark, dir)
      writeBatchIdempotent(ev.filter(pmod(col("event_id"), lit(3)) === 0),
        out, 0L)
      writeBatchIdempotent(ev.filter(pmod(col("event_id"), lit(3)) === 1),
        out, 1L)
      compactSink(spark, out)
      writeBatchIdempotent(ev.filter(pmod(col("event_id"), lit(3)) === 2),
        out, 2L)
    }
    readSink(spark, sink)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("day")
  }

  /** q116 — the warehouse RETENTION lifecycle END TO END under the
    * oracle hash (the q115 pattern, extended through the round-12
    * lifecycle ops): events land as two micro-batch `batch_id=`
    * directories, a QUIESCED [[compactSink]] folds them into the
    * date-partitioned epoch zone (quiesced because retention requires
    * every consumable batch compacted — [[retireDays]] refuses
    * otherwise, and this query exercises the sanctioned order), then
    * [[retireDays]] drops every `day=` directory strictly older than
    * min(day) + 7 — an O(1)-per-day directory delete, no data I/O —
    * and the survivors are read back through [[readSink]] and reduced
    * to per-day counts. The oracle is the same day-count over `events`
    * WITH the retention predicate re-stated in SQL: hash equality
    * proves retirement dropped EXACTLY the expired days — nothing
    * more (survivors intact, counts undisturbed), nothing less (no
    * expired day resurrected). The data-derived horizon (one-row
    * bounded collect of min(day)) keeps the query meaningful at every
    * SF without a hard-coded calendar date. Scratch-sink convention
    * and determinism story are q115's.
    *
    * Degenerate inputs agree with the oracle instead of throwing: an
    * empty (or all-null-ts) events table skips retirement and returns
    * the empty frame, and a span shorter than the 7-day horizon — under
    * which retirement legitimately empties the whole epoch — returns
    * the empty frame rather than tripping readSink's loud empty-sink
    * contract (the oracle's WHERE also yields zero rows there). */
  def q116Retention(spark: SparkSession, dir: String): DataFrame = {
    // retirement MUTATES: clone the shared two-generation base
    val sink = SharedArtifacts.cloneTo(spark,
      sharedEventsHalvesBase(spark, dir),
      scratchSink(spark, dir, "events_ret"))
    val ev = Tables.events(spark, dir)
    def result(rows: DataFrame): DataFrame = rows
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("day")
    def emptyFrame: DataFrame =
      result(ev.select(to_date(col("ts")).as("day")).limit(0))
    val minDayRow = ev.agg(min(to_date(col("ts")))).head()
    // an empty or all-null-ts table has no dated horizon — skip
    // retirement (null-day rows never age; the read below still
    // returns them, matching the oracle's IS NULL disjunct)
    if (!minDayRow.isNullAt(0))
      retireDays(spark, sink,
        java.sql.Date.valueOf(minDayRow.getDate(0).toLocalDate.plusDays(7)))
    // a span shorter than the horizon retires EVERY dated day; with no
    // null-day dir either, the sink is legitimately empty — agree with
    // the oracle's empty result instead of failing the read
    val cut = maxEpoch(spark, sink)
    val hasDays = cut >= 0 && fs(spark, sink)
      .listStatus(new org.apache.hadoop.fs.Path(s"$sink/epoch=$cut")).toSeq
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("day="))
    if (!hasDays) emptyFrame
    else result(readSink(spark, sink))
  }

  /** q117 — the row-level DELETE lifecycle END TO END under the oracle
    * hash (q115/q116's pattern, extended through [[deleteWhere]]):
    * events land as two micro-batch `batch_id=` directories, a
    * QUIESCED [[compactSink]] folds them into the date-partitioned
    * epoch zone (the delete's rail refuses otherwise — same sanctioned
    * order as retention), then a GDPR-style predicate delete removes
    * every row of the `user_id % 7 = 3` cohort, and the survivors are
    * read back through [[readSink]] and reduced to per-day counts plus
    * a per-day distinct-user count. The oracle is the same aggregate
    * over `events` WITH the delete's complement re-stated as a WHERE
    * predicate (`NOT COALESCE(user_id % 7 = 3, FALSE)` — null-safe,
    * because DELETE removes only rows where the predicate is TRUE):
    * hash equality proves the delete removed EXACTLY the cohort —
    * nothing more (survivors' rows and day layout undisturbed, the
    * distinct-user profile intact), nothing less (no cohort row
    * survives in any rewritten or moved day). Scratch-sink convention
    * and determinism story are q115's. */
  def q117DeleteWhere(spark: SparkSession, dir: String): DataFrame = {
    // the delete MUTATES: clone the shared two-generation base
    val sink = SharedArtifacts.cloneTo(spark,
      sharedEventsHalvesBase(spark, dir),
      scratchSink(spark, dir, "events_del"))
    deleteWhere(spark, sink, col("user_id") % 7 === 3)
    readSink(spark, sink)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("day")
  }

  /** q160 — predicate UPDATE lifecycle END TO END under the oracle
    * hash (the DML triad's completion: DELETE-where is q117, key-MERGE
    * is q119, fused CDC apply is q155 — until now an
    * `UPDATE … SET … WHERE …` required the caller to
    * read-modify-upsert): events land as two micro-batch generations,
    * a QUIESCED [[compactSink]] folds them into the epoch zone, and
    * ONE [[updateWhere]] rectifies the `user_id % 7 = 3` cohort —
    * `event_type` overwritten with 'rectified' AND `value` doubled,
    * both evaluated against the rows' pre-images — after which
    * [[readSink]] reduces the table to per-(day, type) counts,
    * distinct users, and the exact fixed-point cents sum. The oracle
    * re-states the update as CASE projections over `events` with the
    * same null-safe hit test (`COALESCE(p, FALSE)` — UPDATE touches
    * only rows where the predicate is TRUE, so a NULL `user_id` row
    * passes through on both sides). Hash equality proves the update
    * hit EXACTLY the cohort: matched rows transformed in place (same
    * days, same user profile — the n_users split between 'rectified'
    * and original types pins WHICH rows moved), every other row
    * undisturbed through the affected-day rewrite and the O(1) moves,
    * nothing duplicated, nothing dropped. Scratch-sink convention and
    * determinism story are q115's. */
  def q160UpdateWhere(spark: SparkSession, dir: String): DataFrame = {
    // the update MUTATES: clone the shared two-generation base
    val sink = SharedArtifacts.cloneTo(spark,
      sharedEventsHalvesBase(spark, dir),
      scratchSink(spark, dir, "events_upd"))
    updateWhere(spark, sink, col("user_id") % 7 === 3,
      Seq("event_type" -> lit("rectified"),
        "value" -> (col("value") * lit(2.0d))))
    readSink(spark, sink)
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy("day", "event_type")
  }

  /** q118 — incremental consumption END TO END under the oracle hash
    * (the read-side completion of the q115–q117 lifecycle): two event
    * slices land as micro-batch dirs and a QUIESCED [[compactSink]]
    * folds them into the epoch zone, a downstream consumer records
    * [[sinkWatermark]] as its cursor, a THIRD slice arrives, and
    * [[readSinkSince]] serves the delta — which must be EXACTLY that
    * third slice: nothing already-consumed leaks back in (the compacted
    * two-thirds stay behind the cursor), nothing new is missed. The
    * oracle re-states the delta as a WHERE predicate over `events`
    * (the third slice's membership test) aggregated to per-day counts
    * + distinct users; hash equality proves both directions. Scratch
    * sink convention and determinism story are q115's. */
  def q118IncrementalRead(spark: SparkSession, dir: String): DataFrame = {
    // READ-ONLY consumer: two slices compacted + the third landed as a
    // live batch, built once per session. The consumer's cursor is
    // what sinkWatermark returned right after the compaction — the
    // EPOCH watermark (the live sinkWatermark would include the later
    // batch and read an empty delta) — re-derived from the epoch's own
    // durable consumed marker, exactly as a restarted consumer would
    // recover its checkpoint
    val sink = SharedArtifacts.once(spark, dir, "events_inc3") { out =>
      val ev = Tables.events(spark, dir)
      writeBatchIdempotent(ev.filter(pmod(col("event_id"), lit(3)) === 0),
        out, 0L)
      writeBatchIdempotent(ev.filter(pmod(col("event_id"), lit(3)) === 1),
        out, 1L)
      compactSink(spark, out, quiesced = true)
      writeBatchIdempotent(ev.filter(pmod(col("event_id"), lit(3)) === 2),
        out, 2L)
    }
    val cursor = epochMarker(fs(spark, sink), sink, maxEpoch(spark, sink))
      .fold(-1L)(_.watermark)
    readSinkSince(spark, sink, cursor)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("day")
  }

  /** q119 — CDC upsert (MERGE) END TO END under the oracle hash: the
    * whole events table compacts into the epoch zone, then ONE
    * [[upsertBatch]] applies a mixed CDC batch — updates (the
    * `event_id % 5 = 0` cohort re-typed to 'upd', keeping their
    * original rows' other columns) and inserts (fresh keys offset by
    * 10⁹, typed 'ins') — and [[readSink]] reduces the merged table to
    * per-type counts, distinct users, and distinct DAYS. The oracle
    * re-states the merge relationally: the base table with the
    * update's CASE applied, UNION ALL the insert slice. Hash equality
    * proves MERGE semantics exactly — matched rows replaced (not
    * duplicated: a row both kept and re-inserted would inflate
    * n_events), unmatched rows untouched, inserts present once, and
    * the n_days profile pins that updates REPLACED rows in their
    * original days while inserts landed in theirs. Scratch-sink
    * convention and determinism story are q115's. */
  def q119UpsertBatch(spark: SparkSession, dir: String): DataFrame = {
    // the MERGE mutates: clone the shared compacted base
    val sink = SharedArtifacts.cloneTo(spark, sharedEventsBase(spark, dir),
      scratchSink(spark, dir, "events_ups"))
    val ev = Tables.events(spark, dir)
    val updates = ev.filter(pmod(col("event_id"), lit(5)) === 0)
      .withColumn("event_type", lit("upd"))
    val inserts = ev.filter(pmod(col("event_id"), lit(5)) === 1)
      .withColumn("event_id", col("event_id") + lit(1000000000L))
      .withColumn("event_type", lit("ins"))
    upsertBatch(spark, sink, updates.unionByName(inserts), Seq("event_id"))
    readSink(spark, sink)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("day")).as("n_days"))
      .orderBy("event_type")
  }

  /** q124 — SCHEMA EVOLUTION on the sink END TO END under the oracle
    * hash (promoting the additive-drift contract — until now pinned
    * only by ScalaTest — into the t2 gate): a v1 ingest generation
    * lands WITHOUT the `value_cents` column (the slice
    * `event_id % 2 = 0`, base columns only), a v2 generation lands
    * WITH it (`floor(value·100)` as BIGINT — the fixed-point
    * discipline, integerized per row BEFORE any aggregate so both
    * engines sum exact integers), a QUIESCED [[compactSink]] folds
    * both generations into ONE epoch zone (mergeSchema unions the
    * footers; v1 rows surface the new column as NULL), and
    * [[readSink]] reduces the evolved table to per-type counts, the
    * non-null count of the new column, and its exact sum. The oracle
    * re-states the generations as a CASE over `events` (odd ids carry
    * cents, even ids carry NULL); hash equality proves v1 rows
    * surfaced NULL (not zero, not dropped), v2 rows kept their exact
    * cents through the rewrite, and the evolved schema aggregates as
    * one relation. Scratch-sink convention and determinism story are
    * q115's. */
  def q124SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    // the drifted two-generation STAGING (v1 without the column, v2
    // with it) is deterministic preamble, built once per session; the
    // compaction that folds the drift — the op under proof — MUTATES,
    // so it runs on a private clone every time
    val staged = SharedArtifacts.once(spark, dir, "events_evo_staged") {
      out =>
        val ev = Tables.events(spark, dir)
        val v1 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(col("ts"), col("event_id"), col("user_id"),
            col("event_type"))
        val v2 = ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .select(col("ts"), col("event_id"), col("user_id"),
            col("event_type"),
            floor(col("value") * 100).cast("bigint").as("value_cents"))
        writeBatchIdempotent(v1, out, 0L)
        writeBatchIdempotent(v2, out, 1L)
    }
    val sink = SharedArtifacts.cloneTo(spark, staged,
      scratchSink(spark, dir, "events_evo"))
    compactSink(spark, sink, quiesced = true)
    readSink(spark, sink)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("value_cents")).as("n_cents"),
        coalesce(sum(col("value_cents")), lit(0L)).as("sum_cents"))
      .orderBy("event_type")
  }

  /** q137 — TYPE-WIDENING schema evolution END TO END under the oracle
    * hash (q124 proved the ADDITIVE case; this is the other drift
    * class a long-lived table meets — a counter outgrowing int, a
    * float column promoted to double — which parquet's mergeSchema
    * refuses outright): a v1 generation lands `value_cents` as INT, a
    * v2 generation lands it as BIGINT with values ABOVE int range (the
    * +3·10⁹ offset makes narrow storage impossible, so the hash can
    * only match if widening really happened), and a QUIESCED
    * [[compactSink]] normalizes — the widened target schema spans both
    * generations, every read conforms through an explicit cast, and
    * the epoch lands uniformly BIGINT, single-scan readable. The
    * oracle re-states the generations as a CASE over `events` (even
    * ids plain cents, odd ids offset cents); max_cents pins that the
    * over-int values survived exactly, sum_cents that no row was
    * dropped or double-cast. Fixed-point per-row BEFORE any aggregate
    * (q124's discipline); scratch-sink convention is q115's. */
  def q137TypeWidening(spark: SparkSession, dir: String): DataFrame = {
    // q124's staging discipline: the INT/BIGINT generations are
    // deterministic preamble built once; the widening compaction under
    // proof mutates a private clone
    val staged = SharedArtifacts.once(spark, dir, "events_wide_staged") {
      out =>
        val ev = Tables.events(spark, dir)
        val base = Seq("ts", "event_id", "user_id", "event_type").map(col)
        val v1 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(base :+ floor(col("value") * 100).cast("int")
            .as("value_cents"): _*)
        val v2 = ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .select(base :+ (floor(col("value") * 100).cast("bigint") +
            lit(3000000000L)).as("value_cents"): _*)
        writeBatchIdempotent(v1, out, 0L)
        writeBatchIdempotent(v2, out, 1L)
    }
    val sink = SharedArtifacts.cloneTo(spark, staged,
      scratchSink(spark, dir, "events_wide"))
    compactSink(spark, sink, quiesced = true)
    readSink(spark, sink)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("value_cents")).as("n_cents"),
        coalesce(sum(col("value_cents")), lit(0L)).as("sum_cents"),
        coalesce(max(col("value_cents")), lit(0L)).as("max_cents"))
      .orderBy("event_type")
  }

  /** q152 — RENAME + DROP schema evolution END TO END under the oracle
    * hash (the remaining drift classes after additive q124 and
    * widening q137): events ingest under the ORIGINAL schema and
    * compact; [[alterSink]] renames `value -> amount` and drops
    * `props` — metadata only, O(1); a NEW-schema batch (a producer
    * already writing `amount`, no `props`) lands beside the old-name
    * epoch; phase `logical` reads the mixed sink through the pending
    * alter — old epoch and new batch conform under ONE logical schema
    * with zero data rewritten (the query ASSERTS the served schema) —
    * and is eagerly materialized; the next compaction NORMALIZES
    * physically (all-days rewrite; the query asserts the epoch
    * footers carry `amount`, carry neither `value` nor `props`, and
    * the marker cleared) and phase `physical` re-aggregates from the
    * normalized files. The oracle states the same per-day aggregate
    * over `events` twice, tagged: hash equality proves BOTH views —
    * the zero-copy logical one and the rewritten physical one — serve
    * exactly the original rows under the new name, with the dropped
    * column's disappearance costing no row anywhere. */
  def q152RenameDrop(spark: SparkSession, dir: String): DataFrame = {
    // the original-schema compacted half is deterministic preamble
    // built once per session; the alter + new-schema batch + the
    // normalizing compaction under proof mutate a private clone
    val staged = SharedArtifacts.once(spark, dir, "events_alter_staged") {
      out =>
        writeBatchIdempotent(Tables.events(spark, dir)
          .filter(pmod(col("event_id"), lit(2)) === 0), out, 0L)
        compactSink(spark, out, quiesced = true)
    }
    val sink = SharedArtifacts.cloneTo(spark, staged,
      scratchSink(spark, dir, "events_alter"))
    val ev = Tables.events(spark, dir)
    alterSink(spark, sink,
      renames = Map("value" -> "amount"), drops = Seq("props"))
    writeBatchIdempotent(
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .withColumnRenamed("value", "amount").drop("props"), sink, 1L)
    def agg(tag: String): DataFrame = {
      val r = readSink(spark, sink)
      require(r.columns.contains("amount") &&
        !r.columns.contains("value") && !r.columns.contains("props"),
        s"q152: the $tag view must serve the ALTERED schema, got " +
          r.columns.mkString(","))
      r.groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("amount") * 100).cast("long")).as("sum_cents"))
        .withColumn("phase", lit(tag))
    }
    // LOGICAL phase: mixed-schema sink served under the pending alter,
    // zero data rewritten. Materialized eagerly - the normalizing
    // compaction below retires the directories this frame reads.
    val logical = agg("logical").localCheckpoint(true)
    compactSink(spark, sink, quiesced = true)
    val f = fs(spark, sink)
    require(!f.exists(new org.apache.hadoop.fs.Path(sink, PendingAlter)),
      "q152: the normalizing compaction must clear the alter marker")
    val eSchema = spark.read
      .parquet(s"$sink/epoch=${maxEpoch(spark, sink)}").schema.fieldNames
    require(eSchema.contains("amount") && !eSchema.contains("value") &&
      !eSchema.contains("props"),
      s"q152: normalized epoch footers must carry the altered schema, " +
        s"got ${eSchema.mkString(",")}")
    logical.unionByName(agg("physical"))
      .select("phase", "day", "n_events", "sum_cents")
      .orderBy("phase", "day")
  }

  /** q134 — SNAPSHOT GRACE + TIME TRAVEL on the sink END TO END under
    * the oracle hash (closing the r13 verdict's top gap: until now
    * every lifecycle op retired its source epoch at commit, so a
    * reader constructed on epoch N−1 raced the retirement and
    * `VERSION AS OF` was impossible): events compact into epoch E
    * under `keepEpochs = 2`, a GDPR-style
    * [[deleteWhere]] removes the `user_id % 7 = 3` cohort — minting
    * epoch E+1 while E survives as an immutable snapshot, its
    * untouched days shared BY REFERENCE through the now-durable merge
    * plan (zero data copied for the grace) — and the query reads BOTH
    * versions at once: `readSink(atEpoch = E)` (the pre-delete table)
    * and the current view (post-delete), reduced to per-day
    * before/after counts in ONE union-tagged aggregate (null-day rows
    * group once; a day the delete emptied keeps n_after = 0). The
    * oracle re-states both versions over `events` (before = every
    * row; after = the delete's null-safe complement): hash equality
    * proves the snapshot serves EXACTLY the pre-delete table —
    * nothing leaked from the rewrite, nothing lost with it — while
    * the current read serves exactly the post-delete table,
    * simultaneously, from one sink. Scratch-sink convention and
    * determinism story are q115's; keepEpochs = 2 is passed to the
    * delete and the current read only, never set on the session. */
  def q134TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    // the delete MUTATES: clone the shared compacted base. Retention
    // depth applies AT EACH OP's retire step, so keepEpochs = 2 on the
    // delete alone grants the clone's compact epoch exactly the same
    // grace a keepEpochs-2 compaction would have; the current read
    // takes it too, or its roll-forward would move the snapshot's days
    val keep2 = Some(SinkConf.of(spark).copy(keepEpochs = 2))
    val sink = SharedArtifacts.cloneTo(spark, sharedEventsBase(spark, dir),
      scratchSink(spark, dir, "events_tt"))
    val snap = maxEpoch(spark, sink)
    deleteWhere(spark, sink, col("user_id") % 7 === 3, conf = keep2)
    val before = readSink(spark, sink, atEpoch = Some(snap))
      .select(col("day")).withColumn("version", lit("before"))
    val after = readSink(spark, sink, conf = keep2)
      .select(col("day")).withColumn("version", lit("after"))
    before.unionByName(after)
      .groupBy(col("day"))
      .agg(
        count(when(col("version") === "before", lit(1))).as("n_before"),
        count(when(col("version") === "after", lit(1))).as("n_after"))
      .orderBy("day")
  }

  /** q161 — TIMESTAMP-AS-OF time travel END TO END under the oracle
    * hash (q134's VERSION-AS-OF sibling, closing the r17 verdict's #4:
    * the epoch id is an internal handle, but "the table as of
    * yesterday 23:59" is what an auditor actually asks): the same
    * keepEpochs=2 delete lifecycle mints epochs E (pre-delete) and E+1
    * (post-delete), the query reads BOTH commit markers' recorded mint
    * times — strictly increasing by construction ([[commitEpoch]]) —
    * and probes [[readSinkAsOf]] at `mint(E+1) − 1` (inside the
    * half-open window [mint(E), mint(E+1)) where E is current: the
    * BOUNDARY-EXCLUSIVE side of the resolution rule) and at
    * `mint(E+1)` exactly (the boundary-INCLUSIVE side: a snapshot is
    * current from its own mint instant). The per-day before/after
    * union aggregate must then equal q134's — the oracle IS q134's
    * (before = every row, after = the delete's null-safe complement) —
    * so hash equality proves the wall-time resolution lands on exactly
    * the epoch snapshots the recorded history says, both sides of the
    * boundary. The refusal rails (pre-horizon time, pre-record epoch)
    * are StreamingSpec's. Scratch-sink convention and determinism
    * story are q115's. */
  def q161TimestampAsOf(spark: SparkSession, dir: String): DataFrame = {
    // the delete MUTATES: clone the shared compacted base (q134's
    // keepEpochs = 2 — the grace depth applies at the delete's retire
    // step; both reads are atEpoch reads, which never roll forward)
    val sink = SharedArtifacts.cloneTo(spark, sharedEventsBase(spark, dir),
      scratchSink(spark, dir, "events_tsof"))
    val snap = maxEpoch(spark, sink)
    val cur = deleteWhere(spark, sink, col("user_id") % 7 === 3,
      conf = Some(SinkConf.of(spark).copy(keepEpochs = 2)))
    val f = fs(spark, sink)
    val Seq(tSnap, tCur) = Seq(snap, cur).map(e =>
      CommitLog.lenient(epochMarker(f, sink, e).flatMap(_.mintMs)))
    require(tSnap.isDefined && tCur.isDefined && tCur.get > tSnap.get,
      s"q161: expected strictly increasing mint records, got " +
        s"$tSnap -> $tCur")
    // mint(E+1) − 1 ≥ mint(E) by strict monotonicity: always a
    // resolvable instant, and always epoch E
    val before = readSinkAsOf(spark, sink, tCur.get - 1)
      .select(col("day")).withColumn("version", lit("before"))
    val after = readSinkAsOf(spark, sink, tCur.get)
      .select(col("day")).withColumn("version", lit("after"))
    before.unionByName(after)
      .groupBy(col("day"))
      .agg(
        count(when(col("version") === "before", lit(1))).as("n_before"),
        count(when(col("version") === "after", lit(1))).as("n_after"))
      .orderBy("day")
  }

  /** q162 — RESTORE (write-side time travel) END TO END under the
    * oracle hash (q134 reads history, q161 resolves it by wall time;
    * this UN-DOES with it — the missing rollback half of the time-
    * travel story): the same keepEpochs=2 delete lifecycle mints
    * epochs E (full table) and E+1 (post-delete), then [[restoreSink]]
    * rolls the sink BACK to E as new epoch E+2 — whose day dirs are
    * hard links to E's files, zero data copied — and E+2's own retire
    * step materializes E+1 and deletes E, so the query reads the
    * restored table STRICTLY AFTER its link source retired: the
    * current view (must be the full pre-delete table again, served
    * through inodes the retirement provably kept alive) and
    * `atEpoch = E+1` (the reverted delete, still a retained readable
    * snapshot — a restore rewrites no history). Both reduce to q134's
    * per-day union aggregate; the oracle re-states them over `events`
    * (restored = every row; deleted = the delete's null-safe
    * complement), so hash equality proves the round trip
    * delete∘restore is the identity on the TABLE while the
    * intervening epoch stays exactly what it was. Refusal rails
    * (non-retained target, live batches) and the CDC churn manifest
    * are StreamingSpec's. Scratch-sink convention and determinism
    * story are q115's. */
  def q162RestoreSink(spark: SparkSession, dir: String): DataFrame = {
    // the delete MUTATES: clone the shared compacted base (q134's
    // keepEpochs = 2 — the grace depth applies at each op's retire
    // step, and K=2 is the tightest depth that keeps the restore's
    // TARGET alive until the restore commits: {E, E+1} after the
    // delete, {E+1, E+2} after the restore itself retires E)
    val keep2 = Some(SinkConf.of(spark).copy(keepEpochs = 2))
    val sink = SharedArtifacts.cloneTo(spark, sharedEventsBase(spark, dir),
      scratchSink(spark, dir, "events_restore"))
    val snap = maxEpoch(spark, sink)
    val deleted =
      deleteWhere(spark, sink, col("user_id") % 7 === 3, conf = keep2)
    val cur = restoreSink(spark, sink, snap, conf = keep2)
    // an empty cohort (possible on a custom SF slice) makes both ops
    // documented no-ops — the query still answers, like q134, with
    // restored == deleted == the full table, exactly the oracle's
    // complement when no row matches
    require(
      if (deleted == snap) cur == snap else cur == deleted + 1,
      s"q162: delete minted $deleted from $snap but the restore " +
        s"returned $cur")
    val restored = readSink(spark, sink, conf = keep2)
      .select(col("day")).withColumn("version", lit("restored"))
    val reverted = readSink(spark, sink, atEpoch = Some(deleted))
      .select(col("day")).withColumn("version", lit("deleted"))
    restored.unionByName(reverted)
      .groupBy(col("day"))
      .agg(
        count(when(col("version") === "restored", lit(1))).as("n_restored"),
        count(when(col("version") === "deleted", lit(1))).as("n_deleted"))
      .orderBy("day")
  }

  /** q163 — CHECK constraints + quarantine END TO END under the oracle
    * hash (the data-quality gate a training-data ingest runs every
    * feed through — Delta CHECK constraints / DLT expectations as
    * sink-lifecycle dataflow): events land as a micro-batch, the
    * check `event_type <> 'purchase'` is DECLARED before the fold
    * (parse-only at that point — no epoch exists yet), and the ingest
    * compaction runs in quarantine mode, so the fold splits the feed
    * row-exactly: passing rows (predicate TRUE — or NULL: SQL CHECK's
    * rule, a NULL predicate passes) into the epoch zone, violating
    * rows into the epoch's quarantine feed. The query reads BOTH
    * sides — [[readSink]] (clean) and [[readSinkQuarantine]] (the
    * diverted rows) — into one per-day clean/quarantined aggregate.
    * The oracle re-states the split over `events` as a tagged UNION
    * ALL on the null-safe predicate (`NOT COALESCE(event_type =
    * 'purchase', FALSE)` clean / the COALESCE itself quarantined):
    * hash equality proves the gate is EXACT (no passing row diverted,
    * no violating row admitted) and LOSSLESS (clean + quarantined =
    * every ingested row — the split drops nothing). Refuse mode, the
    * add-time validation pass, multi-check tagging, carry-forward and
    * the drain are StreamingSpec's. Scratch-sink convention and
    * determinism story are q115's. */
  def q163SinkChecks(spark: SparkSession, dir: String): DataFrame = {
    // READ-ONLY consumer: the checked ingest (declare -> fold ->
    // split) is built once per session and both sides are served in
    // place — the query itself mutates nothing
    val sink = SharedArtifacts.once(spark, dir, "events_checked") { out =>
      writeBatchIdempotent(Tables.events(spark, dir), out, 0L)
      addSinkCheck(spark, out, "no_purchase_events",
        "event_type <> 'purchase'")
      compactSink(spark, out, quiesced = true,
        conf = Some(SinkConf.of(spark).copy(checkMode = "quarantine")))
    }
    val clean = readSink(spark, sink)
      .select(col("day")).withColumn("side", lit("clean"))
    val quar = readSinkQuarantine(spark, sink)
      .select(col("day")).withColumn("side", lit("quarantined"))
    clean.unionByName(quar)
      .groupBy(col("day"))
      .agg(
        count(when(col("side") === "clean", lit(1))).as("n_clean"),
        count(when(col("side") === "quarantined", lit(1)))
          .as("n_quarantined"))
      .orderBy("day")
  }

  /** Exactly-once union view over the sink: the single max committed
    * epoch zone (older epochs are subsumed by re-compaction and only
    * await retirement — reading them would double-count) plus the
    * COMMITTED live batch dirs newer than it (a dir without its
    * [[BatchCommit]] marker is a write in flight; its rows arrive via
    * the stream's replay). The plan has a BOUNDED number of leaves —
    * 1 + (batches since the last compaction) — regardless of how long
    * the sink has lived. Columns are the union of the ingested schemas
    * (additive drift: rows predating a column carry NULL) PLUS `day`:
    * on the epoch zone it is the real hive partition column, so a
    * `day` predicate prunes the scan to that day's directory — the
    * read-path payoff of the date-partitioned layout; on live batches
    * it is computed so the same predicate stays cheap and the view is
    * uniform. The epoch, its watermark, the live batches and the
    * pending alter come from one [[Cut]] ([[cutOf]]), read once.
    *
    * A committed epoch still carrying its merge plan is ROLLED FORWARD
    * at construction: the reader completes the owed renames itself
    * (finishMoves is idempotent, and each rename is atomic, so this
    * cannot race a recovering compactor into loss) and then reads ONE
    * complete epoch directory. That makes the constructed frame stable
    * across a concurrent `finishMoves`: the moves are already done, so
    * the compactor's pass is a no-op — without this, a frame pinned to
    * the pre-move file paths would hit FileNotFoundException when the
    * rename landed mid-read. If the roll-forward cannot run (read-only
    * filesystem), the reader falls back to resolving each pending day
    * on whichever side of its rename it sits — correct, but only for
    * reads that complete before the move does.
    *
    * The frame is otherwise a SNAPSHOT of the directories present at
    * construction: a compaction that retires them mid-read fails the
    * scan (see [[compactSink]]'s reader-overlap note) — unless the
    * sink runs with [[SinkConf.keepEpochs]] > 1, whose grace depth keeps the
    * pinned epoch's files alive for K−1 further lifecycle ops.
    *
    * TIME TRAVEL: `atEpoch = Some(n)` serves retained committed epoch
    * `n` exactly as-of its commit — the compacted zone only, no live
    * batches (a snapshot is the table the moment that epoch became
    * current; batches arriving later belong to later snapshots). An
    * epoch that is not committed-and-retained refuses loudly, listing
    * what IS retained; retain more history by raising
    * `spark.graft.sink.keepEpochs`. */
  def readSink(spark: SparkSession, path: String,
      tsCol: String = "ts", atEpoch: Option[Long] = None,
      conf: Option[SinkConf] = None): DataFrame = atEpoch match {
    case Some(id) =>
      val f = fs(spark, path)
      require(f.exists(new org.apache.hadoop.fs.Path(
        s"$path/epoch=$id", EpochCommit)), {
        val retained = committedEpochs(spark, path).map(_._1)
        s"epoch $id is not a committed retained epoch of $path " +
          s"(retained: ${retained.mkString("[", ", ", "]")}) - history " +
          "past the grace depth is vacuumed; " +
          "raise spark.graft.sink.keepEpochs to retain more"
      })
      val frame = readEpochFrame(spark, f, path, id)
      require(frame.nonEmpty, s"epoch $id of $path holds no data")
      // a pending rename/drop conforms history to the current logical
      // schema too (column-mapping semantics)
      val (ren, drop) = readAlter(f, path)
      applyAlter(frame.get, ren, drop)
    case None => readCut(spark, cutOf(spark, path), tsCol, conf)
  }

  /** [[readSink]]'s current view over one [[Cut]]: the cut's epoch,
    * rolled forward first in classic mode, plus its live batches, each
    * part conformed to the pending alter (per part, so old-name epochs
    * and new-name batches meet under one name). */
  private def readCut(spark: SparkSession, cut: Cut, tsCol: String,
      conf: Option[SinkConf]): DataFrame = {
    val path = cut.path
    if (cut.epoch >= 0) {
      val f = fs(spark, path)
      val eDir = new org.apache.hadoop.fs.Path(s"$path/epoch=${cut.epoch}")
      val plan = new org.apache.hadoop.fs.Path(eDir, MergePlan)
      if (f.exists(plan) && conf.getOrElse(SinkConf.of(spark)).keepEpochs == 1)
        try finishMoves(f, path, eDir) // reader roll-forward
        catch { case e: Exception =>
          // fall back to plan-resolution in readEpochFrame — but LOUDLY:
          // a persistent roll-forward failure (permissions, FS quirk)
          // silently degrading every read to the weaker pre-move
          // resolution mode would otherwise leave zero trace
          log.warn(s"reader roll-forward of $plan failed; falling " +
            "back to resolving pending days from the source epoch " +
            s"(reads completing after the move lands will fail): $e")
        }
    }
    // an epoch retention emptied of every day dir contributes nothing
    // (live batches may still carry rows); live = newer than the
    // epoch's consumed-batch WATERMARK, read from the same marker
    val parts = cut.parts(spark, tsCol)
    require(parts.nonEmpty, s"empty sink at $path")
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** `TIMESTAMP AS OF` time travel: the sink exactly as of wall time
    * `tsMillis` — resolved to the newest retained committed epoch
    * whose recorded mint time ([[commitEpoch]]'s `mint_ms=` line) is
    * ≤ `tsMillis`, then served through [[readSink]]'s `atEpoch` path
    * (the lakehouse convention: a snapshot is current from its commit
    * until the next one's; mint times are strictly increasing by
    * construction, so the resolution is unambiguous). Compacted zone
    * only, like `atEpoch` — batches arriving later belong to later
    * snapshots.
    *
    * Refusals are LOUD, never approximate — but only where the
    * resolution is GENUINELY ambiguous: retained epochs WITHOUT the
    * mint record (pre-record history — necessarily the OLDEST of the
    * chain, since every epoch minted after the record existed carries
    * it) only make times BELOW the oldest recorded mint unresolvable;
    * a time at or past it resolves exactly among the recorded epochs,
    * so a sink upgraded mid-history serves every post-upgrade instant
    * immediately instead of waiting for the legacy epochs to age out.
    * A time before the oldest retained mint asks for vacuumed history
    * (raise `spark.graft.sink.keepEpochs` to retain more); an empty
    * sink has no snapshots at all; pre-record times resolve only with
    * `atEpoch`, whose ids are exact. Unlocked reader: concurrent
    * maintenance retiring the resolved epoch mid-call fails the read
    * loudly (the documented reader-overlap contract), never serves a
    * neighbor snapshot. */
  def readSinkAsOf(spark: SparkSession, path: String, tsMillis: Long,
      tsCol: String = "ts"): DataFrame = {
    val f = fs(spark, path)
    val committed = committedEpochs(spark, path).map(_._1)
    require(committed.nonEmpty,
      s"TIMESTAMP AS OF over $path: no committed epoch - nothing to " +
        "travel to")
    val mints = committed.map(e =>
      e -> CommitLog.lenient(epochMarker(f, path, e).flatMap(_.mintMs)))
    val unrecorded = mints.collect { case (e, None) => e }
    val recorded = mints.collect { case (e, Some(m)) => (e, m) }
    require(recorded.nonEmpty,
      s"TIMESTAMP AS OF over $path: every retained epoch predates the " +
        "mint_ms record - wall-time resolution is impossible; read " +
        "them with atEpoch instead")
    // pre-record epochs are a sound refusal basis ONLY for times below
    // the oldest recorded mint; the guard also refuses the (corrupt)
    // shape of an unrecorded epoch NEWER than a recorded one, where a
    // recorded-only resolution could silently skip the true snapshot
    require(unrecorded.forall(_ < recorded.head._1),
      s"TIMESTAMP AS OF over $path: epoch(s) " +
        s"${unrecorded.filterNot(_ < recorded.head._1).mkString(", ")} " +
        "lack a mint record but are newer than recorded history - " +
        "resolution would skip them; read with atEpoch instead")
    val resolved = recorded.collect { case (e, m) if m <= tsMillis => e }
    require(resolved.nonEmpty, {
      val (oldest, oldestMint) = recorded.head
      if (unrecorded.nonEmpty)
        s"TIMESTAMP AS OF $tsMillis over $path falls in pre-record " +
          s"history (epoch(s) ${unrecorded.mkString(", ")} carry no " +
          s"mint record; the oldest recorded epoch $oldest minted at " +
          s"$oldestMint) - resolution there is ambiguous; read those " +
          "epochs with atEpoch instead"
      else
        s"TIMESTAMP AS OF $tsMillis over $path precedes the retention " +
          s"horizon (oldest retained epoch $oldest minted at " +
          s"$oldestMint) - history before it is vacuumed; " +
          "raise spark.graft.sink.keepEpochs to retain more"
    })
    readSink(spark, path, tsCol, atEpoch = Some(resolved.max))
  }

  /** The sink's consumption cursor: the highest batch id durably
    * visible through [[readSink]] — the max over the committed live
    * batch ids and the committed epoch's consumed-batch watermark
    * (NOT the epoch id, which runs ahead after a [[deleteWhere]]).
    * −1 on a sink holding neither. A downstream incremental consumer
    * records this, does its work, and later asks [[readSinkSince]]
    * for everything that arrived after it. The [[Cut.cursor]] of one
    * [[cutOf]] read. */
  def sinkWatermark(spark: SparkSession, path: String): Long =
    cutOf(spark, path).cursor

  /** Incremental consumption: the rows of exactly the COMMITTED batch
    * directories with id > `cursor` (a value previously returned by
    * [[sinkWatermark]]) — what a downstream pipeline reads to process
    * only the data that arrived since its last run, instead of
    * re-scanning the table. At 100 TB the difference is the whole
    * point of a cursor: a day's delta is a handful of batch dirs, the
    * table is the other 99.9 %. Uncommitted dirs are invisible (same
    * rule as [[readSink]]), so a crashed writer can never feed a
    * half-batch downstream; re-reading the same cursor is idempotent.
    *
    * The serveable history is bounded by the COMPACTION HORIZON:
    * [[compactSink]] folds live batches into the epoch and retires
    * their directories, advancing the epoch watermark past them — the
    * per-batch delta boundaries are gone (and a later [[deleteWhere]]
    * may legitimately have removed rows). A cursor strictly below the
    * epoch watermark therefore REFUSES loudly instead of silently
    * returning a partial delta; the consumer must fall back to a full
    * [[readSink]] re-read (or compact less often than it consumes —
    * the retention contract every log-compacted feed has). An
    * up-to-date cursor returns an EMPTY frame with the sink's full
    * schema, so a poll loop needs no special casing once the sink
    * holds ANY committed data; a poll against a never-written sink
    * (no committed epoch, no committed batch — nothing to derive a
    * schema from) refuses with an actionable message instead. The
    * horizon and the delta come from one [[Cut]] ([[cutOf]]). */
  def readSinkSince(spark: SparkSession, path: String, cursor: Long,
      tsCol: String = "ts"): DataFrame = {
    val cut = cutOf(spark, path)
    val wm = cut.watermark
    require(cursor >= wm,
      s"incremental history before batch $wm is gone from $path: " +
        s"cursor $cursor predates the compaction horizon (those batches " +
        "were folded into the epoch and their boundaries retired) — " +
        "re-read the full sink via readSink and restart the cursor")
    // cursor >= watermark, so the delta is a suffix of the cut's live
    // batches
    val delta = cut.live.filter(_._1 > cursor)
    // empty delta: serve readSink's schema with zero rows, so a poll
    // loop needs no special casing ONCE THE SINK HOLDS ANY COMMITTED
    // DATA. A never-written sink has no schema to serve — surface the
    // poll-before-first-commit case as a distinct, actionable error
    // instead of readSink's generic empty-sink failure.
    if (delta.isEmpty) {
      require(wm >= 0 || cut.live.nonEmpty,
        s"readSinkSince($cursor) on $path: the sink holds no committed " +
        "data yet, so there is no schema to serve an empty delta with - " +
        "poll again after the producer's first commit")
      readCut(spark, cut, tsCol, None).limit(0)
    }
    // the delta conforms to the same logical schema as readSink
    else cut.frames(spark, delta, tsCol)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Warehouse retention: drop the committed epoch's `day=` directories
    * STRICTLY OLDER than `olderThan` (cost + GDPR-style deletes — the
    * lifecycle op any real 100 TB feed needs within weeks: the sink
    * could previously ingest and compact forever but never forget).
    * O(1) per retired day (a directory delete), no data I/O, `day=`
    * pruning untouched for the survivors. Returns the retired dir
    * names, oldest first.
    *
    * Safety rails, both LOUD:
    *  - retention is point-in-time over the COMPACTED zone, so
    *    consumable live batch dirs are refused — their rows would
    *    resurrect retired days at the next compaction. Run a quiesced
    *    [[compactSink]] first.
    *  - a merge plan still owing a day in the retirement range is
    *    refused: the owed day may already sit in the epoch (moves are
    *    idempotent), and deleting it would let a later finishMoves
    *    resurrect it from the not-yet-retired source epoch. Settle the
    *    plan (any compaction or read rolls it forward) and retry.
    *
    * Null-day rows ([[NullDayDir]]) carry no date to age on and are
    * never retired by this op. Holds [[CompactLock]]. */
  def retireDays(spark: SparkSession, path: String,
      olderThan: java.sql.Date, conf: Option[SinkConf] = None): Seq[String] =
    // classic mode's rail refuses a plan owing an expired day rather
    // than rolling it forward, so its settle only discards attempts
    mutate(spark, path, conf, rollPlans = false) { m =>
      import m.{c, f, fence, before => cut}
      if (cut < 0) Seq.empty
      else {
        val eDir = m.dir(cut)
        def expired(name: String): Boolean =
          name != NullDayDir &&
            java.sql.Date.valueOf(name.stripPrefix("day=")).before(olderThan)
        m.requireQuiesced(n => s"retention over $path requires a " +
          s"quiesced compaction first: $n consumable live batch dir(s) " +
          "would resurrect retired days at the next compaction")
        if (c.keepEpochs > 1) {
          // snapshot mode: retention MINTS an epoch whose plan lists
          // exactly the surviving days BY REFERENCE — O(1) metadata,
          // no directory touched, so every retained snapshot
          // (including the pre-retention one) stays intact and
          // time-travelable until it ages past the grace depth; the
          // expired days' bytes are reclaimed when the last epoch
          // referencing them retires ([[retireEpochsLocked]]
          // materializes only the days the survivors still need).
          val resolved = resolvedDays(f, path, cut)
          val victims = resolved.map(_._1).filter(expired).sorted
          if (victims.isEmpty) Seq.empty
          else {
            val survivors = resolved.map(_._1).filterNot(expired)
            val epochDir = m.dir(cut + 1)
            f.mkdirs(epochDir)
            if (survivors.nonEmpty)
              writePlan(f, epochDir, cut, survivors)
            // no churn record ([[ChangesDir]]): the expired days' rows
            // are this epoch's deletes, but reading them back would turn
            // an O(1)-metadata retention into an O(expired data) op, so
            // CDC ranges crossing a retention take the snapshot join.
            // By-reference mint: content is the survivors of the
            // superseded epoch — its recorded schema carries forward
            m.mint(epochDir, "retire", m.prev.flatMap(_.schema))
            victims
          }
        } else {
          val plan = new org.apache.hadoop.fs.Path(eDir, MergePlan)
          if (f.exists(plan)) {
            val (_, owed) = readPlan(f, plan)
            val blocked = owed.filter(expired)
            require(blocked.isEmpty,
              s"merge plan under $eDir still owes ${blocked.mkString(", ")} " +
                "- settle the plan (compact or read the sink) before retiring")
          }
          val victims = f.listStatus(eDir).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
            .map(_.getPath.getName).filter(expired).sorted
          fence() // about to drop day dirs: last exit
          victims.foreach { d =>
            require(f.delete(new org.apache.hadoop.fs.Path(eDir, d), true),
              s"could not delete $eDir/$d")
          }
          if (victims.nonEmpty) autoIndexStats(spark, path, c)
          victims
        }
      }
    }

  /** Row-level predicate delete over the sink (the GDPR-style "delete
    * user X" op day-granular [[retireDays]] cannot express): removes
    * every compacted row where `predicate` is TRUE — rows where it is
    * FALSE or NULL survive, matching SQL `DELETE WHERE` — by minting a
    * NEW epoch in which only the AFFECTED `day=` directories are
    * rewritten (read → keep the non-matching rows → write through the
    * same size-aware sized-writer shape as compaction) and every
    * untouched day is MOVED in by an O(1) rename. Cost is
    * O(scan + affected days' data), not O(table): the match scan reads
    * the epoch once (column-pruned to the predicate's columns + day),
    * and rewrite I/O is proportional to the days that actually hold
    * matching rows — at 100 TB, deleting one user's rows rewrites the
    * handful of day partitions they appear in, not the warehouse.
    *
    * Crash safety is compaction's, by construction: the same
    * [[mutate]] scaffold (lock, fence, settle) and [[Mutation.mint]]
    * tail, the same reader roll-forward. A delete that dies
    * uncommitted is discarded wholesale (source epoch untouched);
    * committed mid-move it is complete by reference. The minted epoch
    * consumes NO batches, so its commit marker carries the PREVIOUS
    * watermark forward (see [[EpochCommit]]) and the epoch counter
    * advances past the batch counter — readers and recovery compare
    * batch ids against the watermark, never the epoch id.
    *
    * Rails (both LOUD, mirroring [[retireDays]]): consumable live
    * batch dirs are refused — they may hold rows matching the
    * predicate that the delete cannot see; run a quiesced
    * [[compactSink]] first so the delete's point-in-time cut is the
    * whole table. (An in-flight uncommitted batch is fine: its rows
    * land AFTER the delete's cut, which is what a concurrent insert
    * means.) A predicate referencing columns absent from the sink
    * fails analysis loudly. Days whose rows are ALL deleted vanish
    * from the layout entirely; deleting every row of every day leaves
    * an empty epoch, readable only through the empty-sink contract.
    *
    * Holds [[CompactLock]] — a delete is maintenance, mutually
    * exclusive with compaction/retention/vacuum. Returns the new max
    * epoch (unchanged when nothing matched — a no-op delete mints no
    * epoch). */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column,
      tsCol: String = "ts", conf: Option[SinkConf] = None): Long =
    rewrite(spark, path,
      df => df.filter(predicate),
      df => df.filter(!(predicate <=> lit(true))),
      df => df.filter(predicate).withColumn(CdcKindCol, lit("delete")),
      "delete", tsCol, conf)

  /** Row-level delete by KEY SET — the form a CDC feed's `delete`
    * records arrive in (and [[SnapshotDiff.applyChanges]]'s delete
    * half): every compacted row whose `keyCols` tuple appears in
    * `keys` is removed. Same protocol, cost shape, rails and crash
    * story as [[deleteWhere]] — one column-pruned match scan (here a
    * semi-join) finds the affected days, only those rewrite (an
    * anti-join keeps the survivors), untouched days move by O(1)
    * rename. Key-matching is JOIN equality (the MERGE convention
    * [[upsertBatch]] documents): NULL keys never match, so a null-key
    * sink row always survives — state the key as non-null columns.
    * The keys side is a CDC batch — small by contract — and AQE
    * broadcasts it; an empty key set is a no-op. */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
      keyCols: Seq[String], tsCol: String = "ts",
      conf: Option[SinkConf] = None): Long = {
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    val missing = keyCols.filterNot(keys.columns.contains)
    require(missing.isEmpty,
      s"delete key set lacks key column(s): ${missing.mkString(", ")}")
    val distinctKeys = keys.select(keyCols.map(col): _*).distinct()
    rewrite(spark, path,
      df => df.join(distinctKeys, keyCols, "left_semi"),
      withoutKeys(_, distinctKeys, keyCols),
      df => df.join(distinctKeys, keyCols, "left_semi")
        .withColumn(CdcKindCol, lit("delete")),
      "delete", tsCol, conf)
  }

  /** `df` minus its rows whose `keyCols` tuple appears in `keys`, in
    * `df`'s own column order: a `USING` join puts the key columns
    * first, and an epoch written from that order would record and
    * serve it. */
  private def withoutKeys(df: DataFrame, keys: DataFrame,
      keyCols: Seq[String]): DataFrame =
    df.join(keys, keyCols, "left_anti").select(df.columns.toSeq.map(col): _*)

  /** Predicate UPDATE — the DML triad's third op beside DELETE-where
    * ([[deleteWhere]]) and key-MERGE ([[upsertBatch]]), closing the
    * read-modify-upsert gap a GDPR rectification or a backfill
    * repricing previously had to pay: every compacted row satisfying
    * `predicate` (IS TRUE — NULL and FALSE rows are untouched, exactly
    * SQL UPDATE's semantics) has each `sets` column replaced by its
    * expression, and every SET expression reads the row's PRE-image
    * (simultaneous assignment, SQL UPDATE's rule: `SET a = b, b = a`
    * swaps — see [[applySets]]).
    *
    * Cost shape, rails and crash story are [[deleteWhere]]'s: ONE
    * column-pruned match scan over the epoch finds the day partitions
    * holding matching rows, ONLY those days rewrite (matched rows
    * transformed, the rest copied through), untouched days move by
    * O(1) rename through [[mutate]] and [[Mutation.mint]]; consumable live
    * batch dirs and pending alters refuse loudly; holds
    * [[CompactLock]]; a no-match update mints no epoch.
    *
    * Rails of its own: a SET column must EXIST in the sink (a
    * misspelled name silently no-opping would be worse than an error —
    * checked against the epoch schema even when NO ROW matches the
    * predicate, though necessarily only when a compacted epoch exists
    * to check against: a never-compacted or retention-emptied sink
    * no-ops like [[deleteWhere]] does, returning −1/the epoch id,
    * because there is no schema to validate a SET list on), must KEEP
    * its column's type (type drift arrives via ingest + compactSink,
    * [[upsertBatch]]'s rule; cast the expression), and must not be
    * `day` or `tsCol` — re-dating a row moves it across day
    * partitions, which is a delete+insert ([[applyBatch]]), not an
    * in-place rewrite. CDC manifests record the op as
    * update_pre/update_post image pairs ([[upsertBatch]]'s kinds), so
    * a downstream consumer replays it exactly. Returns the new max
    * epoch (unchanged when nothing matched). */
  def updateWhere(spark: SparkSession, path: String, predicate: Column,
      sets: Seq[(String, Column)], tsCol: String = "ts",
      conf: Option[SinkConf] = None): Long = {
    require(sets.nonEmpty, "updateWhere needs at least one SET column")
    val dup = sets.groupBy(_._1).collect { case (c, vs) if vs.size > 1 => c }
    require(dup.isEmpty,
      s"updateWhere SET lists column(s) more than once: ${dup.mkString(", ")}")
    sets.foreach { case (c, _) =>
      require(c != "day" && c != tsCol,
        s"updateWhere cannot SET '$c': re-dating rows moves them across " +
          "day partitions - that is a delete+insert (applyBatch), not an " +
          "in-place update")
    }
    // existence + type rails, applied to whatever epoch frame the
    // rewrite sees; limit(0) in the match scan makes them fire at
    // ANALYSIS time, before any job - even a no-match update refuses
    // a misspelled or type-changing SET instead of silently no-opping
    def checkedSets(df: DataFrame): DataFrame = {
      val missing = sets.map(_._1).filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"updateWhere over $path: SET targets column(s) absent from " +
          s"the sink: ${missing.mkString(", ")}")
      val out = applySets(df, predicate, sets)
      sets.foreach { case (c, _) =>
        require(out.schema(c).dataType == df.schema(c).dataType,
          s"updateWhere over $path: SET '$c' would change the column " +
            s"type from ${df.schema(c).dataType.simpleString} to " +
            s"${out.schema(c).dataType.simpleString} - type changes " +
            "arrive via ingest + compactSink; cast the expression")
      }
      out
    }
    rewrite(spark, path,
      df => { checkedSets(df.limit(0)); df.filter(predicate) },
      df => {
        val out = checkedSets(df)
        // CHECK gate on the update's POST-images, refuse-only: SQL
        // UPDATE fails on a violating result row ("quarantining" an
        // update would silently delete it). One bounded aggregation
        // over the matched rows, only when checks are declared.
        val checks = readChecks(fs(spark, path), path)
        if (checks.nonEmpty) {
          val (_, bad, perCheck) = checkCounts(
            applySets(df.filter(predicate), predicate, sets), checks)
          require(bad == 0L,
            s"updateWhere over $path refused: $bad SET post-image(s) " +
              "violate CHECK constraint(s) [" +
              perCheck.filter(_._2 > 0)
                .map { case (n, c) => s"$n: $c" }.mkString("; ") +
              "] - fix the SET expressions or drop the check")
        }
        out
      },
      df => {
        val matched = df.filter(predicate)
        matched.withColumn(CdcKindCol, lit("update_pre"))
          .unionByName(applySets(matched, predicate, sets)
            .withColumn(CdcKindCol, lit("update_post")))
      },
      "update", tsCol, conf)
  }

  /** SQL UPDATE's SET projection: ONE select in which every SET
    * expression reads the row's PRE-image (a chained withColumn would
    * let a later SET see an earlier one's result — simultaneous
    * assignment is the standard's rule) and applies only where the
    * predicate IS TRUE (null-safe: a NULL predicate leaves the row
    * untouched, like its FALSE). */
  private def applySets(df: DataFrame, predicate: Column,
      sets: Seq[(String, Column)]): DataFrame = {
    val sm = sets.toMap
    val hit = predicate <=> lit(true)
    df.select(df.columns.toSeq.map(c =>
      sm.get(c).map(e => when(hit, e).otherwise(col(c)).as(c))
        .getOrElse(col(c))): _*)
  }

  /** The shared body of the predicate-driven row-level rewrites
    * ([[deleteWhere]] / [[deleteKeys]] / [[updateWhere]]): `matchOf`
    * restricts a frame to the rows the op ACTS on (the match scan —
    * predicate filter for the WHERE forms, semi-join for the key
    * form), `rewriteOf` maps an affected day's rows to what the new
    * epoch holds for them (the survivors — predicate complement /
    * anti-join — for a delete; the SET projection over ALL rows for an
    * update), and `cdcOf` maps the same frame to the epoch's
    * kind-tagged change rows. Days without a match are never read
    * again — they move by O(1) rename (or stay referenced in snapshot
    * mode) through [[rewriteDays]]; `op` tags the commit marker. */
  private def rewrite(spark: SparkSession, path: String,
      matchOf: DataFrame => DataFrame, rewriteOf: DataFrame => DataFrame,
      cdcOf: DataFrame => DataFrame, op: String, tsCol: String,
      conf: Option[SinkConf]): Long =
    mutate(spark, path, conf) { m =>
      m.requireNoAlter(s"row-level $op over $path: a schema alter is " +
        s"pending - run compactSink to normalize it first (the $op's " +
        "per-day rewrite must see one physical schema)")
      m.requireQuiesced(n => s"row-level $op over $path requires a " +
        s"quiesced compaction first: $n consumable live batch dir(s) may " +
        s"hold rows matching that the $op would miss")
      // previous-epoch days by RESOLVED physical location (snapshot mode
      // may hold days by reference; classic mode this is the listing)
      val prevDays =
        if (m.before < 0) Seq.empty else resolvedDays(m.f, path, m.before)
      // nothing compacted (-1) or a retention-emptied epoch: no rewrite
      if (prevDays.isEmpty) m.before
      else {
        // match scan: ONE column-pruned pass over the epoch
        val epochFrame = readEpochFrame(spark, m.f, path, m.before).get
        rewriteDays(spark, path, m, prevDays,
          matchOf(epochFrame).select("day"), op) {
          (affected, frame, epochDir, bytes) =>
            // rewrite = what the affected days become: the survivors
            // (predicate-not-TRUE — null-safe, a NULL predicate keeps
            // the row, exactly SQL DELETE's complement — or the
            // anti-join) for a delete; every row with the SET projection
            // applied for an update. Sizing by the affected dirs' bytes
            // is right for both: a delete's output is a strict subset
            // of its input, an update's is the same rows transformed
            val kept = rewriteOf(frame.get)
            writeEpochDays(kept, epochDir, bytes, affected.size, tsCol, m.c)
            // the matched rows ARE the op's change set (delete
            // pre-images, or update pre/post pairs), bounded by the
            // affected days the rewrite already pays for
            if (m.c.changeFiles)
              writeEpochChanges(spark, epochDir, cdcOf(frame.get))
            // widened to the FULL epoch frame: an affected-days subset
            // can be narrower than the moved days' drift columns
            mintSchema(kept.schema, Some(epochFrame.schema))
        }
      }
    }

  /** The affected-days skeleton [[rewrite]] and [[merge]] share, from
    * the cut `m` holding `prevDays`: ONE collect of `days` (a frame of
    * `day` values — the match scan, unioned with a merge's insert days
    * in the same action) names the affected days; none mints nothing
    * and returns `before`, unless `force` (a merge whose batch has
    * rows: it inserts even where nothing matched). The affected days
    * are read ONCE, declared at the previous epoch's recorded schema
    * (no footer inference, and drift columns living only in unaffected
    * days stay in-width) and PERSISTED across their consumers — the
    * range-partitioner's SAMPLE pass, the epoch write and the change
    * manifest all read it; MEMORY_AND_DISK bounds it to the affected
    * days, the working set every MERGE implementation materializes.
    * `write` gets the affected day names, that frame (None when no
    * previous day is affected — a merge inserting into new days only),
    * the epoch dir and the affected dirs' bytes; it writes the epoch's
    * rows and returns the schema the epoch records. The untouched days
    * are then owed by plan — by the AFFECTED set, not the written one:
    * an affected day a delete emptied was legitimately not written and
    * must NOT be resurrected from the source epoch — and the epoch mints
    * as `op` through [[Mutation.mint]]. Returns the new epoch. */
  private def rewriteDays(spark: SparkSession, path: String, m: Mutation,
      prevDays: Seq[(String, org.apache.hadoop.fs.Path)], days: DataFrame,
      op: String, force: Boolean = false)(write: (Set[String],
        Option[DataFrame], org.apache.hadoop.fs.Path, Long) =>
        org.apache.spark.sql.types.StructType): Long = {
    val affected = days.distinct().collect()
      .map(r => Option(r.get(0)).map(d => s"day=$d").getOrElse(NullDayDir))
      .toSet
    if (affected.isEmpty && !force) return m.before
    val affectedDirs = prevDays.filter(d => affected.contains(d._1))
    val epochDir = m.dir(m.before + 1)
    val frame =
      if (affectedDirs.isEmpty) None
      else Some(readDays(spark, affectedDirs.map(_._2),
          m.prev.flatMap(_.schema))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val schema = write(affected, frame, epochDir,
        affectedDirs.map(d => m.f.getContentSummary(d._2).getLength).sum)
      val toMove = prevDays.filterNot(d => affected.contains(d._1))
      if (toMove.nonEmpty) writePlan(m.f, epochDir, m.before, toMove.map(_._1))
      m.mint(epochDir, op, Some(schema))
      m.before + 1
    } finally frame.foreach(_.unpersist(false))
  }

  /** RESTORE — write-side time travel, the rollback every lakehouse
    * pairs with VERSION/TIMESTAMP AS OF reads (q134/q161 serve the
    * history; this un-does with it): mint a NEW epoch whose content is
    * exactly retained snapshot `toEpoch`'s, so "undo the bad backfill"
    * is one forward-rolling op — history is never rewritten, the
    * intervening epochs stay readable through the grace depth until
    * retention retires them, and an auditor can still see what the
    * restore reverted.
    *
    * Scale posture: the restored epoch REUSES the snapshot's bytes.
    * Its day directories are rebuilt as fully PHYSICAL directories of
    * HARD LINKS to the snapshot's resolved data files (safe for the
    * same reason [[SharedArtifacts.cloneTo]]'s clones are: no epoch
    * write ever patches a data file in place, and retirement deletes
    * only directory entries — a shared inode lives until its last
    * referring epoch retires), so a 100 TB restore costs O(files)
    * metadata ops and zero data I/O on a link-capable filesystem;
    * non-local filesystems fall back to a byte copy. Physical-from-
    * birth is deliberate, not a shortcut: a restore that instead
    * recorded a by-reference [[MergePlan]] naming `toEpoch` would
    * break the retention protocol's consecutive-chain invariant —
    * [[retireEpochsLocked]] materializes only the OLDEST retained
    * epoch, so a plan reaching past it would dangle when its target
    * retires, and two epochs resolving one shared day would race the
    * single-consumer rename.
    *
    * CDC: when change manifests are enabled the restore records its
    * own churn — a row-level diff of the superseded epoch against the
    * snapshot, day-pruned to where the two epochs resolve DIFFERENT
    * physical directories (same directory = same bytes; a shared day
    * is never read) — so the manifest is O(changed days)
    * ([[restoreChurn]]): rows the restore removes emit kind `delete`
    * with their pre-image, rows it reinstates emit `insert`, and a
    * key the interval modified emits both — exactly the pre/post pair
    * [[SnapshotDiff]]'s change-file fold reads as an update, so a
    * diff spanning a mutation and its restore nets to silence
    * (spec-pinned). Schema drift across the interval aligns through
    * [[widenedSchema]]; an un-widenable conflict refuses loudly.
    *
    * Rails: `toEpoch` must be a committed epoch WITHIN THE GRACE
    * DEPTH — the newest `keepEpochs` committed epochs, a strictly
    * tighter rail than [[readSink]]'s marker-exists check, because a
    * lingering epoch OUTSIDE the depth can be silently incomplete: in
    * classic mode (keepEpochs=1) this op's own settle pass rolls the
    * newest epoch's merge plan forward, renaming owed days OUT of the
    * superseded epoch, and in snapshot mode a crashed retirement's
    * [[materializeEpoch]] does the same to an expired one — a restore
    * keyed on such a directory would link a truncated snapshot and
    * the retire step would then delete the only remaining copies of
    * the moved days. Restoring to the current epoch is a no-op
    * (nothing minted); consumable live batch dirs refuse like every
    * row-level rewrite (their rows sit in no epoch — a restore
    * silently discarding them would lose data; run a quiesced
    * [[compactSink]] first). A PENDING alter is
    * fine: it is logical-only, [[readSink]] applies it to every
    * epoch's view uniformly, and the restore moves physical bytes
    * only (its manifest, like any pre-normalize epoch's, is stored in
    * physical schema and altered at read by [[readEpochChanges]]).
    * The restored epoch's marker carries the previous watermark
    * forward (consumed batches stay consumed — like every rollback,
    * rows ingested after the snapshot are dropped unless re-fed),
    * records `op=restore`, inherits the snapshot's `bloom_cols=`
    * receipt verbatim (the restored files ARE the snapshot's files),
    * and mints strictly after the epoch it supersedes — through the
    * [[mutate]] scaffold and the [[Mutation.mint]] tail, like every
    * epoch-minting op (so holds [[CompactLock]]). Returns the new max
    * epoch (or the unchanged current one for the no-op). */
  def restoreSink(spark: SparkSession, path: String, toEpoch: Long,
      conf: Option[SinkConf] = None): Long =
    mutate(spark, path, conf) { m =>
      import m.{before, c, f}
      // DEPTH-bounded, not marker-exists: a committed directory
      // lingering past the grace depth (crashed retirement, a lowered
      // keepEpochs, classic mode's own roll-forward above) may already
      // have had days renamed out of it — restoring from it would mint
      // a silently truncated snapshot and then DELETE the moved days'
      // last copies at the retire step
      val committed = committedEpochs(spark, path).map(_._1)
      val depthRetained = committed.takeRight(c.keepEpochs)
      require(depthRetained.contains(toEpoch),
        s"restoreSink over $path: epoch $toEpoch is not a committed " +
          s"retained epoch within the grace depth (restorable: " +
          s"${depthRetained.mkString("[", ", ", "]")}) - an epoch past " +
          "the depth may be mid-retirement with days already moved out " +
          "of it; raise spark.graft.sink.keepEpochs BEFORE the mutation " +
          "you may want to undo")
      if (toEpoch == before) before // restoring to the present: no-op
      else {
        m.requireQuiesced(n => s"restoreSink over $path requires a " +
          s"quiesced compaction first: $n consumable live batch dir(s) " +
          "hold rows no epoch represents - a restore would silently " +
          "discard them")
        val targetDays = resolvedDays(f, path, toEpoch)
        val prevDays = resolvedDays(f, path, before)
        // CHECK gate on the rows the restore RE-ADMITS (refuse-only,
        // like an update — "quarantining" part of a restore would make
        // it not a restore): days the snapshot and the current epoch
        // resolve to the SAME physical directory are current content
        // that already validated at declaration, so only the CHANGED
        // target days can hold unvalidated rows — O(changed days),
        // the restore's existing cost shape. Without this, restoring
        // past the mutation that made a check addable would silently
        // break addSinkCheck's all-rows-satisfy invariant.
        val checks = readChecks(f, path)
        if (checks.nonEmpty) {
          val pm = prevDays.toMap
          val readmitted = targetDays.filter { case (d, p) =>
            !pm.get(d).contains(p)
          }
          if (readmitted.nonEmpty) {
            // checks are declared against the LOGICAL schema: a
            // pending alter applies to the validation frame exactly
            // as readSink serves the restored rows
            val (aRen, aDrop) = readAlter(f, path)
            val frame0 = readDays(spark, readmitted.map(_._2))
            val frame =
              if (aRen.isEmpty && aDrop.isEmpty) frame0
              else applyAlter(frame0, aRen, aDrop)
            val (_, bad, perCheck) = checkCounts(frame, checks)
            require(bad == 0L,
              s"restoreSink over $path refused: $bad row(s) of the " +
                s"snapshot violate CHECK constraint(s) [" +
                perCheck.filter(_._2 > 0)
                  .map { case (n, c) => s"$n: $c" }.mkString("; ") +
                "] declared after it - drop the check or restore to a " +
                "compliant snapshot")
          }
        }
        val epochDir = m.dir(before + 1)
        f.mkdirs(epochDir)
        val hadoopConf = spark.sparkContext.hadoopConfiguration
        targetDays.foreach { case (d, p) =>
          SharedArtifacts.linkOrCopyTree(hadoopConf, p,
            new org.apache.hadoop.fs.Path(epochDir, d))
        }
        if (c.changeFiles)
          writeEpochChanges(spark, epochDir,
            restoreChurn(spark, prevDays, targetDays))
        // the quarantine feed is operational state, not table state: a
        // restore reverts the TABLE but carries the un-drained feed
        // forward from the epoch it supersedes, like every other mint.
        // The restored files ARE the snapshot's: its bloom and schema
        // records carry (lenient: both are perf-only)
        val target = CommitLog.lenient(epochMarker(f, path, toEpoch))
        m.mint(epochDir, "restore", target.flatMap(_.schema),
          bloomCols = target.flatMap(_.bloomCols))
        before + 1
      }
    }

  /** [[restoreSink]]'s change set: the row-level anti-diff of the
    * superseded epoch's days against the snapshot's, restricted to
    * days the two epochs resolve to DIFFERENT physical directories
    * (path identity is content identity — a day directory is
    * immutable once written, so a shared resolution means shared
    * bytes and contributes no churn without being read). Removed rows
    * tag `delete`, reinstated rows `insert`; rows a changed day kept
    * verbatim cancel in the exceptAll. Both sides align to the
    * widened union schema first (additive columns null-fill, widened
    * types cast) so drift across the restored interval diffs by
    * VALUE, not by physical footer type. */
  private def restoreChurn(spark: SparkSession,
      prevDays: Seq[(String, org.apache.hadoop.fs.Path)],
      targetDays: Seq[(String, org.apache.hadoop.fs.Path)]): DataFrame = {
    val pm = prevDays.toMap
    val tm = targetDays.toMap
    val removedSide = prevDays.filter { case (d, p) => !tm.get(d).contains(p) }
    val addedSide = targetDays.filter { case (d, p) => !pm.get(d).contains(p) }
    def side(days: Seq[(String, org.apache.hadoop.fs.Path)])
        : Option[DataFrame] =
      if (days.isEmpty) None else Some(readDays(spark, days.map(_._2)))
    val beforeF = side(removedSide)
    val afterF = side(addedSide)
    if (beforeF.isEmpty && afterF.isEmpty)
      // content-identical restore: the zero-churn manifest convention
      kindOnlyEmptyManifest(spark)
    else {
      val target = widenedSchema(
        (beforeF.toSeq ++ afterF.toSeq).map(_.schema), "restoreSink diff")
      def aligned(o: Option[DataFrame]): DataFrame = o.map { df =>
        df.select(target.map { fd =>
          if (df.columns.contains(fd.name))
            col(fd.name).cast(fd.dataType).as(fd.name)
          else lit(null).cast(fd.dataType).as(fd.name)
        }.toSeq: _*)
      }.getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target))
      val b = aligned(beforeF)
      val a = aligned(afterF)
      b.exceptAll(a).withColumn(CdcKindCol, lit("delete"))
        .unionByName(a.exceptAll(b).withColumn(CdcKindCol, lit("insert")))
    }
  }

  /** CDC upsert (MERGE) into the sink by key: every compacted row
    * whose `keyCols` tuple appears in `batch` is REPLACED by the
    * batch's row(s); keys the sink has never seen are INSERTED —
    * together, SQL MERGE's `WHEN MATCHED THEN UPDATE / WHEN NOT
    * MATCHED THEN INSERT` ([[graft.ops.RelationalQueries]]'s q90
    * proves those semantics on a static table; this is the
    * sink-lifecycle equivalent a CDC feed applies hourly at 100 TB).
    *
    * The merge is ATOMIC: the matched days' rewrites AND the batch's
    * rows land in ONE minted epoch whose single commit marker flips
    * both — there is no window where the delete half is visible
    * without the insert half (writing the batch as a separate live
    * batch dir would open exactly that window between the two
    * commits). Cost is O(scan + affected days): affected = days
    * holding a matching key (one column-pruned semi-join scan finds
    * them) PLUS days receiving a batch row; every other day moves by
    * O(1) rename through the same [[mutate]] scaffold and
    * [[Mutation.mint]] tail as compaction — an hourly CDC batch whose
    * rows cluster on recent days rewrites those days, not the table.
    * Like a delete epoch, the minted epoch consumes NO batches: its
    * marker carries the previous watermark forward and the epoch
    * counter advances past the batch counter.
    *
    * Key-matching is JOIN equality, so NULL keys never match: a
    * null-key batch row always INSERTS and a null-key sink row always
    * SURVIVES — state the merge key as non-null columns (as SQL MERGE
    * ON does). Duplicate keys WITHIN the batch are appended as-is
    * (dedup to last-write-wins upstream if the feed carries multiple
    * versions). The keys side always broadcasts (a CDC batch is small
    * by contract). An empty batch is a no-op; an empty sink makes the upsert a pure
    * insert minting epoch 0.
    *
    * Rails mirror [[deleteWhere]]: consumable live batch dirs are
    * refused (they may hold matching keys the merge cannot see — run
    * a quiesced [[compactSink]] first); an in-flight uncommitted
    * batch is fine (its rows land after the merge's cut). Holds
    * [[CompactLock]]. Returns the new max epoch. */
  def upsertBatch(spark: SparkSession, path: String, batch: DataFrame,
      keyCols: Seq[String], tsCol: String = "ts",
      conf: Option[SinkConf] = None): Long =
    merge(spark, path, batch, None, keyCols, tsCol, conf)

  /** MERGE with deletes in ONE minted epoch — the CDC consumer's apply
    * (SQL MERGE's `WHEN MATCHED AND … THEN DELETE` arm alongside
    * UPDATE/INSERT): rows whose `keyCols` tuple appears in `deletes`
    * are removed, rows keyed by `batch` are replaced-or-inserted, and
    * ONE commit marker flips both — where a deleteKeys-then-upsertBatch
    * pair scans the epoch twice, rewrites the (largely overlapping)
    * affected days twice, and exposes a window where the deletes are
    * visible without the upserts, this pays ONE match scan, ONE
    * affected-day rewrite, and is atomic. That halves the write
    * amplification of a replication cycle whose delete and upsert
    * cohorts touch the same days — the common case for a CDC feed
    * ([[graft.ops.SnapshotDiff.applyChanges]] is the caller this
    * exists for).
    *
    * A key in BOTH `deletes` and `batch` nets to the batch's row (the
    * merge's post-state wins; its change-manifest row classifies as
    * update/insert, not delete — the delete of a key re-keyed in the
    * same cycle is not churn). All other rails, sizing, crash story,
    * and NULL-key semantics are [[upsertBatch]]'s; the minted epoch's
    * marker reads `op=apply`. An empty `deletes` IS upsertBatch; an
    * empty `batch` with matching deletes is a key-set delete in apply
    * clothing; both empty is a no-op. Returns the new max epoch. */
  def applyBatch(spark: SparkSession, path: String, deletes: DataFrame,
      batch: DataFrame, keyCols: Seq[String], tsCol: String = "ts",
      conf: Option[SinkConf] = None): Long =
    merge(spark, path, batch, Some(deletes), keyCols, tsCol, conf)

  private def merge(spark: SparkSession, path: String,
      batch: DataFrame, delSet: Option[DataFrame], keyCols: Seq[String],
      tsCol: String, conf: Option[SinkConf]): Long = {
    // diagnostics name the PUBLIC entry point actually called — an
    // operator debugging a failed CDC apply must not be pointed at
    // upsertBatch (r17 advice)
    val opName = if (delSet.isDefined) "applyBatch" else "upsertBatch"
    require(keyCols.nonEmpty, s"$opName needs at least one key column")
    val missing = keyCols.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"$opName batch lacks key column(s): ${missing.mkString(", ")}")
    delSet.foreach { d =>
      val dm = keyCols.filterNot(d.columns.contains)
      require(dm.isEmpty,
        s"apply delete set lacks key column(s): ${dm.mkString(", ")}")
    }
    mutate(spark, path, conf) { m =>
      m.requireNoAlter(s"$opName over $path: a schema alter is pending - " +
        "run compactSink to normalize it first (the merge must see one " +
        "physical schema)")
      m.requireQuiesced(n => s"$opName over $path requires a quiesced " +
        s"compaction first: $n consumable live batch dir(s) may hold " +
        "rows whose keys the merge would miss")
      val batchEmpty = batch.isEmpty
      // an absent delete set leaves the merge exactly an upsert (the
      // pre-r17 body); a present one — even an empty frame, which the
      // joins below no-op through without a driver-side emptiness action
      // (a hot replication loop must not pay an extra job per cycle) —
      // adds the delete arm to the anti-join, the manifest, and the op tag
      val delKeys: Option[DataFrame] =
        delSet.map(d => d.select(keyCols.map(col): _*).distinct())
      if (batchEmpty && delKeys.isEmpty) m.before
      else {
        // the day column is DERIVED here, never trusted from the caller: a
        // batch that round-tripped through readSink may carry one
        val dropped =
          if (batch.columns.contains("day")) batch.drop("day") else batch
        val incoming0 =
          if (dropped.columns.contains(tsCol))
            dropped.withColumn("day", to_date(col(tsCol)))
          else dropped.withColumn("day", lit(null).cast("date"))
        // CHECK gate on the batch (the merge's new rows): refuse aborts
        // with counts before any mutation; quarantine diverts the
        // violators (written under the minted epoch below). The merge
        // keys MUST derive from the CLEAN rows only — a quarantined row's
        // key deleting its old sink row would turn a refused replacement
        // into a silent delete.
        val (incoming, quarRows) =
          enforceChecks(m.c, path, incoming0, readChecks(m.f, path), opName)
        // the match scan and the kept-row anti-join see the UNION of both
        // key sets (a deleted row and a replaced row leave the epoch the
        // same way); the manifest classification below keeps the two sets
        // apart. ONE distinct key projection feeds both roles — the union
        // arm builds on the already-distinct upsert keys rather than
        // re-projecting (and re-broadcasting) the batch (r17 advice).
        val upsKeys = incoming.select(keyCols.map(col): _*).distinct()
        val upsKeysB = broadcast(upsKeys)
        val keys = delKeys.fold(upsKeysB)(dk =>
          broadcast(upsKeys.unionByName(dk).distinct()))
        // previous-epoch days by RESOLVED physical location (snapshot mode
        // may hold days by reference; classic mode this is the listing)
        val prevDays: Seq[(String, org.apache.hadoop.fs.Path)] =
          if (m.before < 0) Seq.empty
          else resolvedDays(m.f, path, m.before)
        val prevFrame: Option[DataFrame] =
          if (prevDays.isEmpty) None
          else Some(readEpochFrame(spark, m.f, path, m.before).get)
        // type drift arrives via ingest + compactSink, whose widening
        // rewrite normalizes EVERY previous day; a CDC batch widening a
        // column HERE would land wide footers beside narrow moved days and
        // poison every later single-scan epoch read — refuse loudly.
        // (Additive columns remain fine: mergeSchema handles missing.)
        prevFrame.foreach { pf =>
          val es = pf.schema
          incoming.schema.foreach { fld =>
            es.find(_.name == fld.name).foreach { p =>
              require(p.dataType == fld.dataType,
                s"$opName over $path: column '${fld.name}' is " +
                  s"${p.dataType.simpleString} in the sink but " +
                  s"${fld.dataType.simpleString} in the batch - type " +
                  "widening must arrive via ingest + compactSink (whose " +
                  "rewrite normalizes every day); align the batch's type")
            }
          }
        }
        // match scan: ONE column-pruned semi-join pass over the epoch finds
        // the day partitions holding a matching key — UNIONED with the
        // batch's own days in the SAME action (r18: the two collects ran as
        // two sequential driver jobs; only their union is ever used). A
        // pure-delete apply whose keys match nothing (and an apply into an
        // uncompacted sink) has nothing to rewrite and nothing to insert:
        // minting an empty epoch would only churn retention
        val insertDaysFrame = incoming.select("day")
        val days = prevFrame.fold(insertDaysFrame)(_
          .select((keyCols :+ "day").map(col): _*)
          .join(keys, keyCols, "left_semi")
          .select("day").unionByName(insertDaysFrame))
        rewriteDays(spark, path, m, prevDays, days,
            if (delKeys.isDefined) "apply" else "upsert",
            force = !batchEmpty) { (affected, affectedFrame, epochDir, bytes) =>
          // survivors of the matched days (anti-join = NOT matched) plus the
          // batch itself — ONE write, ONE commit, atomic by construction
          val kept = affectedFrame.map(withoutKeys(_, keys, keyCols))
          val epochRows =
            kept.fold(incoming)(
              _.unionByName(incoming, allowMissingColumns = true))
          // size BOTH inputs: the affected epoch dirs AND the incoming batch
          // itself — a backfill-sized upsert into an empty/small sink would
          // otherwise derive k from ~0 epoch bytes and funnel multi-GB days
          // through one writer each (files later compactions only MOVE,
          // never re-split). The batch's bytes come from its optimized
          // plan's statistics: exact for parquet-backed sources (the
          // backfill case this sizing exists for). A plan with NO real
          // statistics — a streaming micro-batch source — reports
          // spark.sql.defaultSizeInBytes = Long.MaxValue as its "unknown"
          // sentinel; treating that as real bytes would clamp k to its max
          // (32768 tiny files) on an empty sink and OVERFLOW the sum on a
          // non-empty one, so unknown contributes zero and the day-count
          // floor governs (micro-batches are small by construction).
          // ([[rewrite]] sizes epoch dirs only — correct there: a delete's
          // output is a strict subset of its input.)
          val batchStat = batch.queryExecution.optimizedPlan.stats.sizeInBytes
          val batchBytes =
            if (batchStat >= BigInt(Long.MaxValue) / 2) 0L else batchStat.toLong
          writeEpochDays(epochRows, epochDir, bytes + batchBytes,
            affected.size, tsCol, m.c)
          // record the epoch's churn for O(churn) CDC reads ([[ChangesDir]]):
          // the replaced rows (pre-images) come from one more pass over the
          // matched days the merge already reads, the batch itself carries
          // the post-images, and matched-vs-new classifies update vs insert
          if (m.c.changeFiles) {
            val allCols = epochRows.columns.toSeq
            def conformEv(df: DataFrame): DataFrame =
              df.select(allCols.map(c =>
                if (df.columns.contains(c)) col(c)
                else lit(null).cast(epochRows.schema(c).dataType).as(c)): _*)
            // matched-vs-new classifies against the UPSERT keys only; the
            // delete set's matches are their own kind below
            val olds = affectedFrame.map(_.join(upsKeysB, keyCols, "left_semi"))
            val posts = olds match {
              case Some(o) =>
                val mk = o.select(keyCols.map(col): _*).distinct()
                  .withColumn("__cdc_m", lit(1))
                conformEv(incoming).join(broadcast(mk), keyCols, "left_outer")
                  .withColumn(CdcKindCol, when(col("__cdc_m").isNotNull,
                    lit("update_post")).otherwise(lit("insert")))
                  .select((allCols :+ CdcKindCol).map(col): _*)
              case None =>
                conformEv(incoming).withColumn(CdcKindCol, lit("insert"))
            }
            // the apply's delete arm: pre-images of rows removed WITHOUT a
            // replacement — a key in both sets nets to the batch's row and
            // classifies above (its removal is not churn), so the delete
            // kind is del-matched ANTI upsert-keyed
            val delPre = delKeys.flatMap { dk =>
              affectedFrame.map(_
                .join(broadcast(dk), keyCols, "left_semi")
                .join(upsKeysB, keyCols, "left_anti"))
            }.map(d => conformEv(d).withColumn(CdcKindCol, lit("delete")))
            val upserts = olds match {
              case Some(o) => conformEv(o)
                .withColumn(CdcKindCol, lit("update_pre")).unionByName(posts)
              case None => posts
            }
            val events = delPre.fold(upserts)(_.unionByName(upserts))
            writeEpochChanges(spark, epochDir, events)
          }
          quarRows.foreach(writeQuarantine(spark, epochDir, m.before + 1, _))
          // widened to the FULL previous-epoch frame: the affected-days
          // subset can be narrower than the moved days' drift columns
          mintSchema(epochRows.schema, prevFrame.map(_.schema))
        }
      }
    }
  }

  /** Operational snapshot of the sink in ONE metadata row — what a
    * monitoring job polls to decide when to compact / retire / vacuum
    * a 100 TB feed. Pure directory listings and content summaries: no
    * data I/O, no lock taken (a snapshot may be read while maintenance
    * runs; the numbers are point-in-time, like any monitoring probe).
    *
    * Columns: `epoch` (max committed id, −1 none), `watermark`
    * (consumed-batch high mark), `live_batches` / `live_bytes`
    * (committed, consumable — the compaction backlog),
    * `inflight_batches` (uncommitted dirs: writes in flight or crash
    * leftovers for vacuum), `days` / `epoch_bytes` (current epoch
    * zone extent, physical days), `has_null_day`, `pending_move_days`
    * (merge-plan days not physical in the current epoch: a crashed
    * move phase in classic mode, the by-reference day count in
    * snapshot mode), `compactor_locked`, `writer_id` (current lease
    * holder, null when unleased), `epochs_kept` / `oldest_epoch` (the
    * time-travel depth actually on disk), `last_op` (the lifecycle op
    * that minted the current epoch: compact / delete / update / upsert /
    * apply / retire / restore; null for pre-tag epochs), `last_mint_ms` (when
    * the current epoch committed — the TIMESTAMP-AS-OF anchor; null
    * for pre-record markers), `pending_alter` (the recorded
    * rename/drop awaiting its normalizing compaction; null when
    * none). */
  def describeSink(spark: SparkSession, path: String): DataFrame = {
    // lock-free by design, so the snapshot can RACE concurrent
    // maintenance: an epoch/batch dir listed at the top may be retired
    // (FileNotFoundException from listStatus/getContentSummary, or a
    // marker read refusing) before its stat call lands. The
    // post-maintenance state is itself consistent — retry the whole
    // snapshot once; a second failure is a real fault and propagates.
    racedOnce(describeSinkOnce(spark, path))
  }

  private def describeSinkOnce(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    val snap = cutOf(spark, path)
    val (cut, cutMarker, wm, live) =
      (snap.epoch, snap.marker, snap.watermark, snap.live)
    val inflight = subdirs(spark, path, "batch_id=").filterNot { case (_, p) =>
      f.exists(new org.apache.hadoop.fs.Path(p, BatchCommit))
    }
    val eDir = new org.apache.hadoop.fs.Path(s"$path/epoch=$cut")
    val dayDirs =
      if (cut < 0) Seq.empty
      else f.listStatus(eDir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
        .map(_.getPath.getName)
    val pendingMoves =
      if (cut < 0) 0L
      else {
        val plan = new org.apache.hadoop.fs.Path(eDir, MergePlan)
        if (!f.exists(plan)) 0L
        else readPlan(f, plan)._2
          .count(d => !f.exists(new org.apache.hadoop.fs.Path(eDir, d))).toLong
      }
    // DATA bytes only — sum the epoch's physical day= dirs. A whole-dir
    // content summary would also count the _changes manifests and the
    // moved-in _changes_ref batch dirs, roughly DOUBLING the reported
    // size after every change-recording ingest compaction and skewing
    // any sizing decision (e.g. a targetFileBytes derived from it).
    val epochBytes =
      if (cut < 0) 0L
      else f.listStatus(eDir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
        .map(s => f.getContentSummary(s.getPath).getLength).sum
    val liveBytes =
      live.map(b => f.getContentSummary(b._2).getLength).sum
    val root = new org.apache.hadoop.fs.Path(path)
    val compactorLocked =
      f.exists(new org.apache.hadoop.fs.Path(root, CompactLock))
    val writerId = readWriterLock(f,
      new org.apache.hadoop.fs.Path(root, WriterLock)).map(_._1).orNull
    // snapshot-retention visibility: how deep the time-travel history
    // actually is right now, and which lifecycle op minted the current
    // epoch — the counters an operator reads instead of listing dirs
    val epochIds = snap.retained
    val oldestEpoch = epochIds.headOption.getOrElse(-1L)
    val lastOp = cutMarker.flatMap(_.op).orNull
    // a pending rename/drop is operator-visible state: readers serve
    // the logical schema, mutations refuse, the next compaction pays
    // an all-days rewrite - the monitor should see it without knowing
    // about marker files
    val alter = snap.alter
    val pendingAlter = (alter._1.toSeq.sorted.map { case (o, n) =>
      s"rename $o->$n"
    } ++ alter._2.sorted.map(c => s"drop $c")) match {
      case Nil => null
      case acts => acts.mkString(", ")
    }
    // when the current epoch committed (the TIMESTAMP-AS-OF anchor an
    // operator correlates with feed timelines); null for pre-record
    // markers, like last_op for pre-tag ones
    val lastMint: java.lang.Long = CommitLog.lenient(cutMarker.flatMap(_.mintMs))
      .map(java.lang.Long.valueOf).orNull
    Seq((cut, wm, live.size.toLong, liveBytes, inflight.size.toLong,
      dayDirs.size.toLong, epochBytes, dayDirs.contains(NullDayDir),
      pendingMoves, compactorLocked, writerId,
      epochIds.size.toLong, oldestEpoch, lastOp, lastMint,
      pendingAlter))
      .toDF("epoch", "watermark", "live_batches", "live_bytes",
        "inflight_batches", "days", "epoch_bytes", "has_null_day",
        "pending_move_days", "compactor_locked", "writer_id",
        "epochs_kept", "oldest_epoch", "last_op", "last_mint_ms",
        "pending_alter")
  }

  /** Policy-driven maintenance in one call — the cron entry point
    * that keeps a sink healthy without an operator scripting the
    * individual ops. Applies, in the lifecycle's sanctioned order:
    *
    *  1. COMPACT when the consumable live backlog reaches
    *     `compactAfterBatches` dirs or `compactAfterBytes` bytes
    *     (whichever trips first; backlog read from [[describeSink]]'s
    *     inputs);
    *  2. RETIRE (only with `retainDays = Some(n)`, and only after a
    *     compaction left the sink quiesced) every day strictly older
    *     than the sink's max day minus n — DATA-RELATIVE retention,
    *     deterministic under replay and test, immune to a stalled
    *     feed suddenly mass-expiring on wall-clock time;
    *  3. VACUUM crash leftovers (only with `quiesced = true`, which
    *     also asserts no live writer — same contract as
    *     [[vacuumSink]]);
    *  4. VACUUM EPOCHS past the snapshot-retention depth (the
    *     keepEpochs-was-lowered case; see [[vacuumEpochs]] — gated on
    *     a lock-free listing, so the steady-state cron pays nothing);
    *  5. RE-INDEX ZONE MAPS (only with
    *     [[SinkConf.maintainStatsColumns]] set): every lifecycle op
    *     mints a new epoch and stales the previous `_file_stats`
    *     manifest, so "current epoch has no manifest" is exactly the
    *     re-index signal — [[SinkStats.indexSinkStats]] runs then, and
    *     a steady-state cron pays one existence check;
    *  6. RE-INDEX THE BLOOM (only with
    *     [[SinkConf.maintainBloomColumn]] set): the same staleness
    *     signal for the `_file_bloom` point-lookup manifest —
    *     [[SinkStats.indexSinkBloom]]'s one data pass, the price every
    *     bloom index pays at write time.
    *
    * Every step runs with the one `conf` this call read (the session's
    * when None). Each step takes the maintenance lock itself; between steps
    * another actor may interleave (every op is standalone-safe, so
    * interleaving only re-orders work). Returns the actions taken,
    * e.g. `compacted=3`, `retired=day=2024-01-01`, `vacuumed=2` —
    * empty when the sink needed nothing. */
  def maintainSink(spark: SparkSession, path: String,
      compactAfterBatches: Int = 8,
      compactAfterBytes: Long = 1L << 30,
      retainDays: Option[Int] = None,
      quiesced: Boolean = false,
      tsCol: String = "ts",
      conf: Option[SinkConf] = None): Seq[String] = {
    val c = conf.getOrElse(SinkConf.of(spark))
    val f = fs(spark, path)
    val live = cutOf(spark, path).live
    // unlocked policy input, racing a concurrent compactor's batch
    // retirement: a dir that vanishes between list and stat simply
    // contributes 0 to the backlog (the other actor is already doing
    // the work this threshold would trigger)
    val liveBytes = live.map { b =>
      try f.getContentSummary(b._2).getLength
      catch { case _: java.io.FileNotFoundException => 0L }
    }.sum
    val compacted =
      if (live.size >= compactAfterBatches || liveBytes >= compactAfterBytes) {
        compactSink(spark, path, tsCol, quiesced, Some(c))
        Seq(s"compacted=${live.size}")
      } else Seq.empty
    val retired = retainDays match {
      case Some(n) =>
        require(n > 0, s"retainDays must be positive, got $n")
        val now = cutOf(spark, path) // unlocked policy read
        val (cut, backlog) = (now.epoch, now.live.nonEmpty)
        val days =
          if (cut < 0) Seq.empty
          else try f
            .listStatus(new org.apache.hadoop.fs.Path(s"$path/epoch=$cut"))
            .toSeq.map(_.getPath.getName)
            .filter(d => d.startsWith("day=") && d != NullDayDir)
            .map(d => java.sql.Date.valueOf(d.stripPrefix("day=")))
          catch { // epoch retired by a concurrent compactor mid-policy:
            // skip this cycle's retention, the next cron re-resolves
            case _: java.io.FileNotFoundException => Seq.empty
          }
        if (backlog)
          // retireDays would refuse (live rows could resurrect retired
          // days); a cron must not die on a transient backlog — defer
          // to the next run, whose compaction step will clear it
          Seq("retire_deferred=live_backlog")
        else if (days.isEmpty) Seq.empty
        else {
          val horizon = java.sql.Date.valueOf(
            days.map(_.toLocalDate).max.minusDays(n - 1L))
          retireDays(spark, path, horizon, Some(c)).map(d => s"retired=$d")
        }
      case None => Seq.empty
    }
    val vacuumed =
      if (!quiesced) Seq.empty
      else {
        val swept = vacuumSink(spark, path, quiesced = true, Some(c))
        if (swept.isEmpty) Seq.empty else Seq(s"vacuumed=${swept.size}")
      }
    // 4. EPOCH VACUUM: enforce the snapshot-retention depth. Lifecycle
    // ops already enforce it as they commit, so this only fires after
    // an operator LOWERED keepEpochs — gated on a lock-free listing
    // so the steady-state cron takes no extra lock.
    val epochsVacuumed = {
      val excess = committedEpochs(spark, path).size > c.keepEpochs
      if (!excess) Seq.empty
      else {
        val gone = vacuumEpochs(spark, path, Some(c))
        if (gone.isEmpty) Seq.empty
        else Seq(s"epochs_vacuumed=${gone.size}")
      }
    }
    // 5. ZONE-MAP REFRESH: with maintainStatsColumns set, re-derive
    // the `_file_stats` manifest
    // whenever the CURRENT epoch lacks one — every lifecycle op mints
    // a new epoch and stales the old manifest (SinkStats refuses stale
    // reads), so "manifest missing on the current epoch" is exactly
    // the re-index signal, and a steady-state cron with nothing to do
    // pays one existence check
    val statsIndexed =
      if (c.maintainStatsColumns.isEmpty) Seq.empty
      else {
        val cut = maxEpoch(spark, path)
        val fresh = cut >= 0 && f.exists(new org.apache.hadoop.fs.Path(
          s"$path/epoch=$cut/_file_stats"))
        if (cut < 0 || fresh) Seq.empty
        else {
          val n = SinkStats.indexSinkStats(spark, path, c.maintainStatsColumns)
          Seq(s"stats_indexed=$n")
        }
      }
    // 6. BLOOM REFRESH: the equality-skipping twin of step 5 —
    // maintainBloomColumn names the point-lookup key,
    // and "no _file_bloom on the current epoch" is the re-index signal
    // (O(files) footer reads when the epoch carries native parquet
    // blooms — see epochWriteOptions — one column-pruned data pass
    // for files without them)
    val bloomIndexed = c.maintainBloomColumn match {
      case None => Seq.empty
      case Some(bloomCol) =>
        val cut = maxEpoch(spark, path)
        val fresh = cut >= 0 && f.exists(new org.apache.hadoop.fs.Path(
          s"$path/epoch=$cut/_file_bloom/col=$bloomCol"))
        if (cut < 0 || fresh) Seq.empty
        else {
          val n = SinkStats.indexSinkBloom(spark, path, bloomCol)
          Seq(s"bloom_indexed=$n")
        }
    }
    compacted ++ retired ++ vacuumed ++ epochsVacuumed ++ statsIndexed ++
      bloomIndexed
  }

  /** Enforce the snapshot-retention depth on demand: keep the
    * [[SinkConf.keepEpochs]] newest committed epochs, materialize the
    * oldest retained one, delete the rest — the vacuum an operator runs
    * (or [[maintainSink]] runs for them) after LOWERING
    * `keepEpochs`; every lifecycle op already
    * enforces the depth as it commits, so in steady state this is a
    * no-op. Returns the retired epoch ids, oldest first. Holds
    * [[CompactLock]] and settles first, like every op on [[mutate]]. */
  def vacuumEpochs(spark: SparkSession, path: String,
      conf: Option[SinkConf] = None): Seq[Long] =
    mutate(spark, path, conf)(_.retire())

  /** The time-travel catalog: one row per RETAINED committed epoch —
    * `epoch`, `op` (the lifecycle op that minted it; null pre-tag),
    * `watermark`, `physical_days` / `referenced_days` (how much of the
    * snapshot lives in its own directory vs shared by reference
    * down-chain), `bytes` (its own directory), `is_current`. What an
    * operator consults before a `readSink(atEpoch = …)` — the
    * `VERSION AS OF` listing. Lock-free metadata listings only, with
    * [[describeSink]]'s one-retry race posture. */
  def listSinkEpochs(spark: SparkSession, path: String): DataFrame =
    racedOnce {
      import spark.implicits._
      val f = fs(spark, path)
      val committed = committedEpochs(spark, path)
      val cut = committed.lastOption.fold(-1L)(_._1)
      committed.map { case (id, p) =>
        val phys = f.listStatus(p).toSeq.count(s =>
          s.isDirectory && s.getPath.getName.startsWith("day="))
        val refd = {
          val plan = new org.apache.hadoop.fs.Path(p, MergePlan)
          if (!f.exists(plan)) 0L
          else readPlan(f, plan)._2
            .count(d => !f.exists(new org.apache.hadoop.fs.Path(p, d))).toLong
        }
        val marker = epochMarker(f, path, id).get
        (id, marker.op.orNull, marker.watermark, phys.toLong, refd,
          f.getContentSummary(p).getLength, id == cut)
      }.toDF("epoch", "op", "watermark", "physical_days",
        "referenced_days", "bytes", "is_current")
    }

  /** Orphan sweep: remove the sink's uncommitted leftovers — epoch
    * attempts without [[EpochCommit]] (a compactor died mid-write;
    * also swept by the next compaction, but a vacuum should not need
    * one), `.tmp` files at the root and under the committed epoch
    * (torn plan installs), and — ONLY with `quiesced = true` —
    * `batch_id=` dirs without [[BatchCommit]]: an uncommitted batch is
    * invisible to readers and will be rewritten by the stream's replay,
    * but deleting it under a LIVE writer would race the in-flight
    * write, so the flag asserts the stream is stopped (a quiesced
    * vacuum also clears a leftover [[WriterLock]] lease — a crashed
    * writer's lease would otherwise block new writers until the
    * staleness horizon). Committed data is never touched. Returns the
    * removed names. Holds [[CompactLock]]. */
  def vacuumSink(spark: SparkSession, path: String,
      quiesced: Boolean = false, conf: Option[SinkConf] = None): Seq[String] =
    withFencedCompactorLock(spark, path, conf) { (_, fence) =>
      val f = fs(spark, path)
      val cut = maxEpoch(spark, path)
      val uncommittedEpochs = subdirs(spark, path, "epoch=").collect {
        case (_, p) if !f.exists(new org.apache.hadoop.fs.Path(p, EpochCommit)) => p
      }
      val staleBatches =
        if (!quiesced) Seq.empty
        else subdirs(spark, path, "batch_id=").collect {
          case (_, p) if !f.exists(new org.apache.hadoop.fs.Path(p, BatchCommit)) => p
        }
      val writerLease = {
        val lease = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(path), WriterLock)
        if (quiesced && f.exists(lease)) Seq(lease) else Seq.empty
      }
      def tmpsUnder(dir: org.apache.hadoop.fs.Path) =
        if (!f.exists(dir)) Seq.empty
        else f.listStatus(dir).toSeq
          .filter(s => s.getPath.getName.endsWith(".tmp"))
          .map(_.getPath)
      val tmps = tmpsUnder(new org.apache.hadoop.fs.Path(path)) ++
        (if (cut < 0) Seq.empty
         else tmpsUnder(new org.apache.hadoop.fs.Path(s"$path/epoch=$cut")))
      val victims = uncommittedEpochs ++ staleBatches ++ writerLease ++ tmps
      fence() // about to sweep: last exit
      victims.foreach(p => f.delete(p, true))
      victims.map(_.getName)
    }
}
