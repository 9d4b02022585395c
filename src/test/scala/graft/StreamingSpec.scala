package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.{CommitLog, Replay, SnapshotDiff, Streaming}

/** Structured Streaming specs via MemoryStream: windowed counts with
  * watermarks and the keyed-state replay machine (V11/V16).
  * AdaptiveSparkPlanHelper: executed scans hide inside AQE query-stage
  * leaves, so metric assertions must traverse with its collect. */
class StreamingSpec extends SparkSpecBase
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  test("windowed event counts aggregate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val counts = Streaming.windowedEventCounts(
      input.toDF().toDF("ts", "event_type"))
    val q = counts.writeStream.format("memory")
      .queryName("win_counts").outputMode("complete").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "click"),
        (Timestamp.valueOf("2024-01-01 11:00:00"), "click"),
        (Timestamp.valueOf("2024-01-02 10:00:00"), "view"))
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00.0", "click", 2L),
        ("2024-01-02 00:00:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("sliding windows land each event in every overlapping window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val counts = Streaming.slidingEventCounts(
      input.toDF().toDF("ts", "event_type"))
    val q = counts.writeStream.format("memory")
      .queryName("slide_counts").outputMode("complete").start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), "click"))
      q.processAllAvailable()
      val rows = spark.table("slide_counts").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2)))
      // 1-day window sliding every 6h → the event appears in 4 windows
      assert(rows.length == 4, s"got ${rows.mkString(",")}")
      assert(rows.forall(_._2 == 1L))
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch from the dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[(Timestamp, Long)]
    val enriched = Streaming.enrichedStream(
      input.toDF().toDF("ts", "user_id"), dim, "user_id")
    val q = enriched.writeStream.format("memory")
      .queryName("enriched_out").outputMode("append").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 10:00:01"), 3L)) // no dim row
      q.processAllAvailable()
      // USING-join output order: (user_id, ts, tier)
      val rows = spark.table("enriched_out").collect()
        .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      assert(rows == Set((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = Streaming.dedupStream(
      input.toDF().toDF("ts", "user_id", "event_type"),
      Seq("user_id", "event_type"))
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click"),
        (Timestamp.valueOf("2024-01-01 10:00:01"), 1L, "click"),  // dup
        (Timestamp.valueOf("2024-01-01 10:00:02"), 1L, "view"))
      q.processAllAvailable()
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "click"),  // dup, later batch
        (Timestamp.valueOf("2024-01-01 10:05:01"), 2L, "click"))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
        .map(r => (r.getLong(1), r.getString(2)))
      assert(rows.length == 3, s"got ${rows.mkString(",")}")
      assert(rows.toSet == Set((1L, "click"), (1L, "view"), (2L, "click")))
    } finally q.stop()
  }

  test("stream-stream attribution join matches clicks within the window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val joined = Streaming.attributionJoinStream(
      imps.toDF().toDF("imp_ts", "imp_user", "imp_id"),
      clicks.toDF().toDF("click_ts", "click_user", "click_id"))
    val q = joined.writeStream.format("memory")
      .queryName("attr_out").outputMode("append").start()
    try {
      imps.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 100L))
      clicks.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1L, 500L), // in window
        (Timestamp.valueOf("2024-01-01 10:20:00"), 1L, 501L), // > 10 min late
        (Timestamp.valueOf("2024-01-01 10:05:00"), 2L, 502L)) // other user
      q.processAllAvailable()
      val rows = spark.table("attr_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, 100L, 500L)), s"got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("attribution join drops a click arriving after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val joined = Streaming.attributionJoinStream(
      imps.toDF().toDF("imp_ts", "imp_user", "imp_id"),
      clicks.toDF().toDF("click_ts", "click_user", "click_id"))
    val q = joined.writeStream.format("memory")
      .queryName("attr_late").outputMode("append").start()
    try {
      imps.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 100L))
      q.processAllAvailable()
      // BOTH watermarks advance 3 h past the impression (30 min horizon)
      imps.addData((Timestamp.valueOf("2024-01-01 13:00:00"), 9L, 999L))
      clicks.addData((Timestamp.valueOf("2024-01-01 13:00:00"), 9L, 998L))
      q.processAllAvailable()
      // this click WOULD match impression 100, but it arrives beyond
      // the watermark: the engine may already have evicted that state,
      // and append-mode semantics permit dropping it — the test pins
      // the bounded-state behavior the 100 TB deployment relies on
      clicks.addData((Timestamp.valueOf("2024-01-01 10:05:00"), 1L, 500L))
      q.processAllAvailable()
      val rows = spark.table("attr_late").collect()
      assert(!rows.exists(_.getLong(2) == 500L),
        s"late click joined: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("dedup state is evicted once the watermark passes the horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = Streaming.dedupStream(
      input.toDF().toDF("ts", "user_id", "event_type"),
      Seq("user_id", "event_type"))
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_evict").outputMode("append").start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click"))
      q.processAllAvailable()
      // event time jumps 3 h → watermark (1 h horizon) passes 10:00,
      // so user 1's dedup key is EVICTED from state
      input.addData((Timestamp.valueOf("2024-01-01 13:00:00"), 2L, "view"))
      q.processAllAvailable()
      // same key again, inside the NEW watermark window: state for it
      // is gone, so the row is emitted — bounded state, by design
      input.addData((Timestamp.valueOf("2024-01-01 13:00:01"), 1L, "click"))
      q.processAllAvailable()
      val n = spark.table("dedup_evict").count()
      assert(n == 3, s"expected the re-sent key to pass after eviction, got $n")
    } finally q.stop()
  }

  test("replay state survives a checkpoint stop/restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = new java.io.File(
      "target/stream_ckpt/replay_restart").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val input = MemoryStream[Replay.MoveEvent]
    val results =
      scala.collection.mutable.ArrayBuffer.empty[Replay.ReplaySummary]
    // the memory sink cannot recover from a checkpoint; foreachBatch
    // can, and is also the production sink shape for update-mode state
    def start() = Streaming.replayStream(input.toDS())
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[Replay.ReplaySummary],
         _: Long) =>
          val rows = batch.collect()
          results.synchronized { results ++= rows }; ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    // batch 1: white queen placed at (0,0)
    val q1 = start()
    try {
      input.addData(Replay.MoveEvent(1, 1, "White", "place", "Queen", 0, 0, 0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the SAME checkpoint: the game's keyed state must be
    // recovered, so the second move continues turn alternation instead
    // of starting a fresh game
    val q2 = start()
    try {
      input.addData(Replay.MoveEvent(1, 2, "Black", "place", "Queen", 100, 1, 0))
      q2.processAllAvailable()
      val last = results.synchronized { results.maxBy(_.n_applied) }
      assert(last.n_applied == 2L, s"state lost across restart: $last")
      assert(last.queen_black_placed)
    } finally q2.stop()
  }

  test("q96 batch twin equals the streaming attribution join on real data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the same sf rows, fed through MemoryStream: collected stream output
    // must equal the declared (oracle-checked) batch result row-for-row
    val ev = Tables.events(spark, sf)
      .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      .collect()
    def side(t: String) = ev.filter(_.getString(3) == t)
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    val imps = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val joined = Streaming.attributionJoinStream(
      imps.toDF().toDF("imp_ts", "imp_user", "imp_id"),
      clicks.toDF().toDF("click_ts", "click_user", "click_id"))
    val q = joined.writeStream.format("memory")
      .queryName("attr_batch_eq").outputMode("append").start()
    try {
      // one addData per side: nothing is late relative to the initial
      // watermark, so the inner join emits every true match
      imps.addData(side("view").toIndexedSeq)
      clicks.addData(side("click").toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("attr_batch_eq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getTimestamp(3), r.getTimestamp(4))).sortBy(t => (t._1, t._2, t._3))
      val batch = SparkEntry.queries("q96_stream_attribution")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getTimestamp(3), r.getTimestamp(4)))
      assert(batch.nonEmpty, "no attribution matches at this SF")
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("q101 batch twin equals the streamed sliding-window counts on real data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the q96 triangle for sliding windows: q101 (oracle-checked batch)
    // runs slidingEventCounts' exact code; this feeds the SAME rows
    // through it as a stream and equates the collected windows
    val ev = Tables.events(spark, sf).select(col("ts"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    val input = MemoryStream[(Timestamp, String)]
    val counts = Streaming.slidingEventCounts(
      input.toDF().toDF("ts", "event_type"))
    val q = counts.writeStream.format("memory")
      .queryName("slide_batch_eq").outputMode("complete").start()
    try {
      input.addData(ev.toIndexedSeq)
      q.processAllAvailable()
      // both sides sorted with the SAME driver-side key (engine ORDER BY
      // vs JVM string order differ for supplementary-plane strings)
      val streamed = spark.table("slide_batch_eq").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSeq.sortBy(t => (t._1.getTime, t._2))
      val batch = SparkEntry.queries("q101_sliding_windows")(spark, sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSeq.sortBy(t => (t._1.getTime, t._2))
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("q107 batch twin equals the streamed tumbling-window counts on real data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = Tables.events(spark, sf).select(col("ts"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    val input = MemoryStream[(Timestamp, String)]
    val counts = Streaming.windowedEventCounts(
      input.toDF().toDF("ts", "event_type"))
    val q = counts.writeStream.format("memory")
      .queryName("tumble_batch_eq").outputMode("complete").start()
    try {
      input.addData(ev.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("tumble_batch_eq").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSeq.sortBy(t => (t._1.getTime, t._2))
      val batch = SparkEntry.queries("q107_tumbling_windows")(spark, sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSeq.sortBy(t => (t._1.getTime, t._2))
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("q102 batch twin equals the streamed watermarked dedup on real data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select(col("ts"), col("user_id"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2)))
    val input = MemoryStream[(Timestamp, Long, String)]
    val dedup = Streaming.dedupStream(
      input.toDF().toDF("ts", "user_id", "event_type"),
      Seq("user_id", "event_type"))
    val q = dedup.writeStream.format("memory")
      .queryName("dedup_batch_eq").outputMode("append").start()
    try {
      input.addData(ev.toIndexedSeq)
      q.processAllAvailable()
      // sort BOTH sides driver-side with the same ordering: the engine's
      // ORDER BY is UTF8_BINARY, which disagrees with JVM .sorted for
      // supplementary-plane strings (the Utf8Order lesson)
      val streamed = spark.table("dedup_batch_eq").collect()
        .map(r => (r.getLong(1), r.getString(2))).toSeq.sorted
      val batch = SparkEntry.queries("q102_stream_dedup")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("session windows: streamed sf events equal the oracle-checked batch q46") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the sessionization triangle, like q96's: q46 (batch session_window)
    // is under the DuckDB oracle; this feeds the SAME rows through the
    // streaming sessionCounts and equates per-session event counts
    val ev = Tables.events(spark, sf).select(col("ts"), col("user_id"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = Streaming.sessionCounts(
      input.toDF().toDF("ts", "user_id"))
    val q = sessions.writeStream.format("memory")
      .queryName("sess_batch_eq").outputMode("complete").start()
    try {
      input.addData(ev.toIndexedSeq)
      q.processAllAvailable()
      def micros(t: Timestamp): Long =
        t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000
      val streamed = spark.table("sess_batch_eq").collect()
        .map(r => (r.getLong(1), micros(r.getTimestamp(0)),
          r.getLong(2))).sortBy(t => (t._1, t._2))
      val batch = SparkEntry.queries("q46_session_windows")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(batch.nonEmpty)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("session windows split on the 30-minute gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)]
    val sessions = Streaming.sessionCounts(
      input.toDF().toDF("ts", "user_id"))
    val q = sessions.writeStream.format("memory")
      .queryName("sess_counts").outputMode("complete").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 10:10:00"), 1L),   // same session
        (Timestamp.valueOf("2024-01-01 11:30:00"), 1L))   // gap > 30 min
      q.processAllAvailable()
      val rows = spark.table("sess_counts").collect()
        .map(r => (r.getLong(1), r.getLong(2)))
      assert(rows.sortBy(_._2).toSeq == Seq((1L, 1L), (1L, 2L)))
    } finally q.stop()
  }

  test("streamed EMA equals batch q25 with the corpus split across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // same ticks, event_id order preserved across a 2-batch split: the
    // keyed state must fold to exactly q25's per-user values
    val ticks = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    val (first, second) = ticks.splitAt(ticks.length / 2)
    val input = MemoryStream[(Long, Long, Double)]
    val out = Streaming.emaStream(input.toDS())
    val q = out.writeStream.format("memory")
      .queryName("ema_state").outputMode("update").start()
    try {
      input.addData(first.toIndexedSeq)
      q.processAllAvailable()
      input.addData(second.toIndexedSeq)
      q.processAllAvailable()
      // update mode re-emits per batch: keep each user's LAST emission
      // (max n_ticks)
      val streamed = spark.table("ema_state").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).values.toSeq.sorted
      val batch = SparkEntry.queries("q25_ema_smoothing")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(batch.nonEmpty)
      assert(streamed == batch.sorted)
    } finally q.stop()
  }

  test("streamed EMA drops cross-batch out-of-order ticks at the frontier") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // batch 1 folds ids 1..3; batch 2 replays id 2 (late straggler)
    // and delivers id 4 — the fold must equal the in-order ids 1,2,3,4
    // with the straggler REJECTED, not folded in arrival order.
    val rate = 0.2
    val inOrder = Seq((7L, 1L, 10.0), (7L, 2L, 20.0), (7L, 3L, 30.0),
      (7L, 4L, 40.0))
    val expectedEma = inOrder.foldLeft(0.0)((a, t) => a + (t._3 - a) * rate)
    val input = MemoryStream[(Long, Long, Double)]
    val q = Streaming.emaStream(input.toDS()).writeStream.format("memory")
      .queryName("ema_ooo").outputMode("update").start()
    try {
      input.addData(inOrder.take(3))
      q.processAllAvailable()
      input.addData(Seq((7L, 2L, 999.0), (7L, 4L, 40.0)))
      q.processAllAvailable()
      val last = spark.table("ema_ooo").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .maxBy(_._2)
      assert(last == ((7L, 4L, math.floor(expectedEma * 10000).toLong)))
    } finally q.stop()
  }

  test("q101 sliding-window state survives a checkpoint stop/restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = new java.io.File(
      "target/stream_ckpt/sliding_restart").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val input = MemoryStream[(Timestamp, String)]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Timestamp, String, Long)]
    // append mode through foreachBatch: a window row is emitted exactly
    // once, when the recovered watermark finalizes it — so a dropped or
    // double-counted pre-restart event is visible in the final count
    def start() = Streaming.slidingEventCounts(
        input.toDF().toDF("ts", "event_type"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        results.synchronized { results ++= rows }; ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // batch 1: two clicks in the same 6h slot, then STOP mid-window
    val q1 = start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 01:00:00"), "click"),
        (Timestamp.valueOf("2024-01-01 02:00:00"), "click"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the SAME checkpoint: one more click in the slot,
    // then advance event time 3 days so the 1h watermark passes every
    // window containing Jan 1 and append finalizes them
    val q2 = start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 03:00:00"), "click"))
      q2.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-04 00:00:00"), "view"))
      q2.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-04 12:00:00"), "view"))
      q2.processAllAvailable()
      val clicks = results.synchronized {
        results.filter(_._2 == "click").toList }
      // each of the 3 clicks lands in the 4 sliding day-windows
      // covering (00:00, 03:00]; all three must be in EVERY window —
      // batch-1 state recovered (no loss), emitted once (no dupes)
      assert(clicks.nonEmpty, "no finalized click windows emitted")
      assert(clicks.map(_._1).distinct.size == clicks.size,
        s"window emitted twice after restart: $clicks")
      assert(clicks.forall(_._3 == 3L),
        s"pre-restart events lost from recovered window state: $clicks")
      assert(clicks.size == 4, s"expected 4 overlapping windows: $clicks")
    } finally q2.stop()
  }

  test("q102 dedup state survives a checkpoint stop/restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = new java.io.File(
      "target/stream_ckpt/dedup_restart").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val input = MemoryStream[(Timestamp, Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def start() = Streaming.dedupStream(
        input.toDF().toDF("ts", "user_id", "event_type"),
        Seq("user_id", "event_type"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect().map(r => (r.getLong(1), r.getString(2)))
        results.synchronized { results ++= rows }; ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // batch 1: one key passes, then STOP
    val q1 = start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: the SAME key inside the watermark horizon must still be
    // suppressed (state recovered — no dupe), a new key must pass (no
    // loss of the stream itself)
    val q2 = start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:01"), 1L, "click"),
        (Timestamp.valueOf("2024-01-01 10:00:02"), 2L, "view"))
      q2.processAllAvailable()
      val r = results.synchronized { results.toList }
      assert(r.count(_ == ((1L, "click"))) == 1,
        s"recovered dedup state failed to suppress the replayed key: $r")
      assert(r.contains((2L, "view")), s"new key lost after restart: $r")
      assert(r.size == 2, s"unexpected rows: $r")
    } finally q2.stop()
  }

  test("parquet sink: a replayed batch overwrites its own partition (exactly-once), and the stream resumes across restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_eo").toString
    val out = s"$root/events"
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[(Long, String)]
    def start() = Streaming.parquetSinkStream(
      input.toDF().toDF("event_id", "event_type"), out, ckpt)
    val q1 = start()
    try {
      input.addData((1L, "click"), (2L, "view"))
      q1.processAllAvailable()
    } finally q1.stop()
    val afterB1 = spark.read.parquet(out).count()
    assert(afterB1 == 2, s"batch 1 rows: $afterB1")
    // the at-least-once window: the SAME batch id delivered again
    // (restart between write and checkpoint commit) must rewrite its
    // partition, not append - total row count unchanged
    Streaming.writeBatchIdempotent(
      Seq((1L, "click"), (2L, "view")).toDF("event_id", "event_type"), out, 0L)
    assert(spark.read.parquet(out).count() == 2,
      "replayed batch appended duplicates instead of overwriting")
    // restart from the checkpoint: new data lands in a NEW batch dir
    val q2 = start()
    try {
      input.addData((3L, "purchase"))
      q2.processAllAvailable()
      val rows = spark.read.parquet(out)
      assert(rows.count() == 3)
      // batch_id is a real hive partition column: readers prune on it
      assert(rows.select("batch_id").distinct().count() == 2)
      assert(rows.select("event_id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L, 3L))
    } finally q2.stop()
  }

  test("sink compaction: ingest -> compact -> read roundtrip, idempotent against mid-crash leftovers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_compact").toString
    val out = s"$root/events"
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[(Timestamp, Long, String)]
    def start() = Streaming.parquetSinkStream(
      input.toDF().toDF("ts", "event_id", "event_type"), out, ckpt)
    def batchDirs = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).toSeq
    def sinkIds = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    val q1 = start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click"))
      q1.processAllAvailable()
      input.addData(
        (Timestamp.valueOf("2024-01-01 11:00:00"), 2L, "view"),
        (Timestamp.valueOf("2024-01-02 09:00:00"), 3L, "click"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(batchDirs.size == 2, s"expected 2 micro-batch dirs: $batchDirs")
    // compact: the stream is stopped, so quiesced=true may consume the
    // max live batch too — both dirs fold into one date-partitioned epoch
    val e1 = Streaming.compactSink(spark, out, quiesced = true)
    assert(batchDirs.isEmpty, "consumed batch dirs were not retired")
    val days = Option(new java.io.File(s"$out/epoch=$e1").listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("day=")).sorted
    assert(days.toSeq == Seq("day=2024-01-01", "day=2024-01-02"),
      s"epoch is not date-partitioned: ${days.toSeq}")
    assert(sinkIds == Seq(1L, 2L, 3L))
    // crash-window idempotency: a consumed batch dir resurfacing after
    // the epoch committed (died between write and delete) must be
    // retired by the next run, never double-counted by readers
    Streaming.writeBatchIdempotent(
      Seq((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(sinkIds == Seq(1L, 2L, 3L),
      "readSink double-counted a batch already folded into an epoch")
    assert(Streaming.compactSink(spark, out) == e1,
      "no-new-data compaction minted a new epoch")
    assert(batchDirs.isEmpty, "leftover consumed batch dir not cleaned")
    // the stream resumes; a second compaction composes disjointly
    val q2 = start()
    try {
      input.addData((Timestamp.valueOf("2024-01-03 08:00:00"), 4L, "purchase"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(sinkIds == Seq(1L, 2L, 3L, 4L)) // pre-compaction union view
    // died-mid-write case: an UNCOMMITTED epoch attempt (no commit
    // marker, no merge plan) must be invisible to readers and swept by
    // the next compaction
    val partial = new java.io.File(s"$out/epoch=99")
    java.nio.file.Files.createDirectories(partial.toPath)
    java.nio.file.Files.writeString(
      new java.io.File(partial, "part-junk.parquet").toPath, "not parquet")
    assert(sinkIds == Seq(1L, 2L, 3L, 4L),
      "readSink consumed an uncommitted epoch attempt")
    val e2 = Streaming.compactSink(spark, out, quiesced = true)
    assert(!partial.exists(), "uncommitted epoch attempt not swept")
    assert(e2 > e1 && batchDirs.isEmpty)
    assert(sinkIds == Seq(1L, 2L, 3L, 4L))
    // re-compaction: the previous epoch folded into the new one, so
    // exactly ONE epoch zone remains — the steady state is bounded
    val epochs = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("epoch=")).toSeq
    assert(epochs == Seq(s"epoch=$e2"),
      s"older epoch zones not retired by re-compaction: $epochs")
  }

  private def tsv(s: String) = Timestamp.valueOf(s)

  private def listNames(dir: String, prefix: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith(prefix)).sorted.toSeq

  test("re-compaction keeps ONE epoch zone and MOVES untouched days instead of rewriting them") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_recompact").toString
    val out = s"$root/events"
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    val day1Files = listNames(s"$out/epoch=0/day=2024-01-01", "part-")
    assert(day1Files.nonEmpty)
    // second compaction touches only day 2: day 1 must be MOVED (the
    // rename keeps its exact part-file names — a rewrite would mint
    // fresh UUID names), the O(1)-per-day path that keeps compaction
    // cost O(new data), not O(table), at 100 TB
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    assert(listNames(out, "epoch=") == Seq("epoch=1"))
    assert(listNames(s"$out/epoch=1/day=2024-01-01", "part-") == day1Files,
      "untouched day was rewritten, not moved")
    // third compaction overlaps day 2 and adds day 3: day 1 still
    // rides its original files, day 2 is merged, readers lose nothing
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 11:00:00"), 3L, "view"),
        (tsv("2024-01-03 09:00:00"), 4L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 2L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 2L)
    assert(listNames(out, "epoch=") == Seq("epoch=2"))
    assert(listNames(s"$out/epoch=2/day=2024-01-01", "part-") == day1Files,
      "twice-moved day lost its original files")
    assert(listNames(s"$out/epoch=2", "day=") ==
      Seq("day=2024-01-01", "day=2024-01-02", "day=2024-01-03"))
    assert(ids == Seq(1L, 2L, 3L, 4L))
  }

  test("readSink's day column prunes the epoch scan to one directory's files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val root = java.nio.file.Files.createTempDirectory("sink_dayprune").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"),
        (tsv("2024-01-02 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-03 09:00:00"), 3L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    // day is the REAL hive partition column of the epoch zone, so the
    // predicate reaches the scan as a partition filter: the read
    // touches exactly the one day directory (one sized file), not the
    // whole table — the read-path payoff of the date-partitioned layout
    val filtered = Streaming.readSink(spark, out)
      .filter(col("day") === lit(java.sql.Date.valueOf("2024-01-02")))
      .select("event_id")
    // metrics live on the EXECUTED plan of the exact frame collected
    // (even .as[Long] would mint a fresh QueryExecution and leave the
    // inspected plan's metrics at zero)
    val rows = filtered.collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(2L))
    val scanned = collect(filtered.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }.sum
    // the pin is EXACT pruning (scanned == the day dir's file count),
    // not one-file-per-day: the round-12 size-aware writer may give a
    // hot day several sized files, and pruning must still read exactly
    // that directory's set — no more, no fewer
    val dirFiles = Option(
      new java.io.File(s"$out/epoch=1/day=2024-01-02").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(dirFiles >= 1, s"expected sized file(s) in the day dir, got $dirFiles")
    assert(scanned == dirFiles,
      s"day filter scanned $scanned files - partition pruning lost " +
        "(predicate not reaching the epoch scan as a partition filter)")
  }

  test("compaction never consumes an in-flight or replayable batch dir") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_inflight").toString
    val out = s"$root/events"
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 11:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    // batch 2 died mid-write: a data file landed but no _BATCH_COMMIT —
    // folding it into an epoch would make the restart's full replay of
    // batch 2 invisible (id <= maxEpoch): silent permanent data loss
    val b2 = new java.io.File(s"$out/batch_id=2")
    java.nio.file.Files.createDirectories(b2.toPath)
    java.nio.file.Files.writeString(
      new java.io.File(b2, "part-partial.parquet").toPath, "torn write")
    assert(Streaming.compactSink(spark, out) == 1L)
    assert(b2.exists(),
      "in-flight batch dir consumed - it belongs to the stream's replay")
    assert(ids == Seq(1L, 2L), "reader consumed an uncommitted batch dir")
    // the restarted stream replays batch 2 in full (mode=overwrite)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 09:00:00"), 3L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 2L)
    assert(ids == Seq(1L, 2L, 3L))
    // even fully committed, the MAX live id is replayable (checkpoint
    // commit may be pending) - a non-quiesced pass must hold it back
    assert(Streaming.compactSink(spark, out) == 1L,
      "non-quiesced compaction consumed the replayable max live batch")
    assert(b2.exists())
    assert(Streaming.compactSink(spark, out, quiesced = true) == 2L)
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("died mid-move: a committed epoch with an outstanding merge plan reads complete and is recovered") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    val root = java.nio.file.Files.createTempDirectory("sink_midmove").toString
    val out = s"$root/events"
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    // hand-build the exact crash state of the NEXT compaction: batch 2
    // landed, its fresh day is durably written under epoch=2, the merge
    // plan and commit marker are down, ONE of the two owed days has
    // been renamed in - and then the compactor died
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-03 09:00:00"), 3L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 2L)
    spark.read.parquet(s"$out/batch_id=2")
      .withColumn("day", to_date(col("ts")))
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(s"$out/epoch=2")
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/epoch=2/_MERGE_PLAN").toPath,
      "from=1\nday=2024-01-01\nday=2024-01-02")
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/epoch=2/_EPOCH_COMMIT").toPath, "")
    assert(new java.io.File(s"$out/epoch=1/day=2024-01-01")
      .renameTo(new java.io.File(s"$out/epoch=2/day=2024-01-01")))
    // a reader BETWEEN the crash and recovery ROLLS the move phase
    // forward itself (finishMoves is idempotent), so it reads one
    // complete epoch: every row visible exactly once
    assert(ids == Seq(1L, 2L, 3L),
      "mid-move reader lost or duplicated a planned day")
    // recovery completes the moves, drops the plan, retires the sources
    assert(Streaming.compactSink(spark, out) == 2L)
    assert(listNames(out, "epoch=") == Seq("epoch=2"))
    assert(!new java.io.File(s"$out/epoch=2/_MERGE_PLAN").exists(),
      "completed merge plan not dropped")
    assert(listNames(s"$out/epoch=2", "day=") ==
      Seq("day=2024-01-01", "day=2024-01-02", "day=2024-01-03"))
    assert(listNames(out, "batch_id=").isEmpty)
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("a planned day missing from BOTH epochs fails loudly instead of committing the loss") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    val root = java.nio.file.Files.createTempDirectory("sink_corrupt").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    // a committed epoch whose plan lists a day that was hand-deleted
    // (or lost to an external actor) from both locations: completing
    // the merge would silently commit the loss - recovery must refuse,
    // leaving the plan in place for inspection
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    spark.read.parquet(s"$out/batch_id=1")
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(s"$out/epoch=1")
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/epoch=1/_MERGE_PLAN").toPath,
      "from=0\nday=2024-01-09") // listed in neither epoch
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/epoch=1/_EPOCH_COMMIT").toPath, "")
    // the rename either throws (local FS: FileNotFoundException) or
    // returns false and trips the require (HDFS semantics) - both are
    // LOUD; the disqualifying outcome would be a clean return
    val e = intercept[Exception](Streaming.compactSink(spark, out))
    assert(e.isInstanceOf[java.io.FileNotFoundException] ||
      e.getMessage.contains("owed day day=2024-01-09"),
      s"wrong failure: ${e.getClass.getName}: ${e.getMessage}")
    assert(new java.io.File(s"$out/epoch=1/_MERGE_PLAN").exists(),
      "plan dropped despite the unresolvable owed day")
  }

  test("schema drift: a column added mid-stream survives compaction and the union view") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_drift").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L))
        .toDF("ts", "event_id"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    // the drifted batch adds a `source` column
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L, "mobile"))
        .toDF("ts", "event_id", "source"), out, 1L)
    def bySource = Streaming.readSink(spark, out)
      .select("event_id", "source").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    // live zone: the union view already carries the new column, NULL
    // for rows that predate it
    assert(bySource == Seq((1L, None), (2L, Some("mobile"))))
    // the column must SURVIVE the compaction boundary (round-10 shape
    // read without mergeSchema and would silently drop it here)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    assert(bySource == Seq((1L, None), (2L, Some("mobile"))),
      "added column dropped at the compaction boundary")
    // a later batch still on the OLD schema also unions fine
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-03 10:00:00"), 3L))
        .toDF("ts", "event_id"), out, 2L)
    assert(bySource ==
      Seq((1L, None), (2L, Some("mobile")), (3L, None)))
    assert(Streaming.compactSink(spark, out, quiesced = true) == 2L)
    assert(bySource ==
      Seq((1L, None), (2L, Some("mobile")), (3L, None)))
  }

  test("auto-compaction inside the sink stream interleaves safely with checkpoint restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_autocompact").toString
    val out = s"$root/events"
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[(Timestamp, Long, String)]
    def start() = Streaming.parquetSinkStream(
      input.toDF().toDF("ts", "event_id", "event_type"), out, ckpt,
      compactEvery = 2)
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    val q1 = start()
    try {
      input.addData((tsv("2024-01-01 10:00:00"), 1L, "click"))
      q1.processAllAvailable()
      input.addData((tsv("2024-01-01 11:00:00"), 2L, "view"))
      q1.processAllAvailable() // batch 1 triggers compaction (holds back itself)
    } finally q1.stop()
    assert(listNames(out, "epoch=") == Seq("epoch=0"),
      "auto-compaction did not run after the K-th batch")
    assert(listNames(out, "batch_id=") == Seq("batch_id=1"),
      "auto-compaction consumed the just-written (replayable) batch")
    assert(ids == Seq(1L, 2L))
    // restart from the checkpoint: batch ids continue, the next K-th
    // batch compacts again, nothing is lost or double-counted
    val q2 = start()
    try {
      input.addData((tsv("2024-01-02 09:00:00"), 3L, "click"))
      q2.processAllAvailable()
      input.addData((tsv("2024-01-02 10:00:00"), 4L, "view"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(listNames(out, "epoch=") == Seq("epoch=2"),
      "restarted stream's auto-compaction did not fold forward")
    assert(ids == Seq(1L, 2L, 3L, 4L))
  }

  test("a hot day compacts through multiple sized writers and day pruning stays exact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_hotday").toString
    val out = s"$root/events"
    // shrink the per-file target so this test's ~hundreds-of-KB hot day
    // demands several writers (production default is 128 MiB)
    spark.conf.set("spark.graft.compact.targetFileBytes", "8192")
    try {
      val day0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val hot = (1 to 4000).map(i => (new Timestamp(day0 + i * 1000L),
        i.toLong, f"evt_${i}_${i * 2654435761L}%016x"))
      val cold = Seq((tsv("2024-01-02 10:00:00"), 9999L, "quiet"))
      Streaming.writeBatchIdempotent(
        (hot ++ cold).toDF("ts", "event_id", "event_type"), out, 0L)
      assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
      // the round-11 shape hashed on `day` alone: every hot-day row
      // through ONE writer task -> one file. Size-aware range
      // partitioning must spread the hot day over several sized files
      val hotFiles = listNames(s"$out/epoch=0/day=2024-01-01", "part-")
      assert(hotFiles.size > 1,
        s"hot day funneled through a single writer: ${hotFiles.size} file(s)")
      // the SIZED half of the contract, asserted by size and not just
      // count: a k-derivation bug writing 2 unbalanced files would
      // pass the >1 check while still funneling the day's bytes into
      // one giant file. Band: target + parquet's fixed per-file
      // footer/metadata floor (~4 KiB here dominates the tiny 8 KiB
      // test target; at the 128 MiB production default the floor is
      // noise and the band is effectively ~2x target).
      val maxBytes = new java.io.File(s"$out/epoch=0/day=2024-01-01")
        .listFiles().filter(_.getName.startsWith("part-"))
        .map(_.length).max
      assert(maxBytes <= 2 * 8192 + 4096,
        s"sized-writer contract broken: a hot-day file holds $maxBytes " +
          "bytes against a 8192-byte target")
      // and the quiet day writes through exactly ONE writer: its rows
      // fall in one (day, ts) range, so extra files there would mean
      // the range partitioner is splitting days it has no size reason
      // to split (small-file bloat at warehouse scale)
      val coldFiles = listNames(s"$out/epoch=0/day=2024-01-02", "part-")
      assert(coldFiles.size == 1,
        s"quiet day should write exactly one file: $coldFiles")
      // day= pruning stays EXACT: the filtered read scans precisely the
      // hot day dir's files - no more (pruning lost), no fewer
      val filtered = Streaming.readSink(spark, out)
        .filter(col("day") === lit(java.sql.Date.valueOf("2024-01-01")))
        .select("event_id")
      val rows = filtered.collect()
      assert(rows.length == 4000)
      val scanned = collect(filtered.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
      assert(scanned == hotFiles.size,
        s"day filter scanned $scanned files, hot day dir holds ${hotFiles.size}")
      assert(Streaming.readSink(spark, out).count() == 4001)
    } finally spark.conf.unset("spark.graft.compact.targetFileBytes")
  }

  test("a second compactor is refused while the lock is fresh, steals it once stale, and always releases") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_lock").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    // a live holder's lock: the second compactor must fail LOUDLY -
    // its recovery step would delete the holder's in-progress
    // (uncommitted) epoch attempt mid-write
    val lock = new java.io.File(out, "_COMPACT_LOCK")
    java.nio.file.Files.writeString(lock.toPath, "held-by-a-live-compactor")
    val e = intercept[IllegalStateException](
      Streaming.compactSink(spark, out, quiesced = true))
    assert(e.getMessage.contains("another compactor"), e.getMessage)
    assert(lock.exists(),
      "a refused compactor released a lock it does not hold")
    // a CRASHED holder's lock (older than the staleness threshold) is
    // stolen and compaction proceeds - crash recovery is not blocked
    assert(lock.setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    assert(!lock.exists(), "lock not released after completion")
    // the identity-checked steal retires its tombstone: no
    // .steal litter survives a successful steal (vacuum would sweep a
    // crash's leftover, but the happy path must clean up itself)
    assert(new java.io.File(out).listFiles()
      .filter(_.getName.contains(".steal.")).isEmpty,
      "stale-lock steal left its tombstone behind")
    // a maintenance op that THROWS releases too (it stopped mutating)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    intercept[IllegalArgumentException](
      Streaming.retireDays(spark, out, java.sql.Date.valueOf("2099-01-01")))
    assert(!lock.exists(), "lock leaked by a refused maintenance op")
  }

  test("the lock shields an in-progress epoch attempt from a second compactor's recovery") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_lockshield").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    // the motivating loss scenario: compactor A is mid-write — its
    // epoch attempt exists WITHOUT a commit marker, and its lock is
    // fresh. Compactor B's recovery step 1 would classify the attempt
    // as a dead crash leftover and delete it under A's feet; the lock
    // must stop B BEFORE recovery runs
    val attempt = new java.io.File(s"$out/epoch=5")
    java.nio.file.Files.createDirectories(attempt.toPath)
    java.nio.file.Files.writeString(
      new java.io.File(attempt, "part-inprogress.parquet").toPath, "writing")
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/_COMPACT_LOCK").toPath, "compactor-A")
    intercept[IllegalStateException](Streaming.compactSink(spark, out))
    assert(attempt.exists() &&
      new java.io.File(attempt, "part-inprogress.parquet").exists(),
      "a refused compactor still ran recovery and deleted the live " +
        "holder's in-progress epoch attempt")
    // vacuum is equally bound by the lock: same refusal, same shield
    intercept[IllegalStateException](Streaming.vacuumSink(spark, out))
    assert(attempt.exists(), "a refused vacuum deleted the attempt")
  }

  test("retention: retireDays drops exactly the expired day dirs and refuses unsafe states") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_retire").toString
    val out = s"$root/events"
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    Seq(("2024-01-01", 1L), ("2024-01-02", 2L), ("2024-01-03", 3L))
      .zipWithIndex.foreach { case ((d, id), i) =>
        Streaming.writeBatchIdempotent(
          Seq((tsv(s"$d 10:00:00"), id, "click"))
            .toDF("ts", "event_id", "event_type"), out, i.toLong)
      }
    val epoch = Streaming.compactSink(spark, out, quiesced = true)
    assert(epoch == 2L)
    // retention over a sink with consumable live batches is refused:
    // their rows would resurrect retired days at the next compaction
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 11:00:00"), 9L, "late"))
        .toDF("ts", "event_id", "event_type"), out, 3L)
    val eLive = intercept[IllegalArgumentException](
      Streaming.retireDays(spark, out, java.sql.Date.valueOf("2024-01-02")))
    assert(eLive.getMessage.contains("quiesced compaction"), eLive.getMessage)
    // (the refused late batch is withdrawn for the rest of the test)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$out/batch_id=3"))
    // drop days strictly older than the cutoff: exactly day 1
    val retired = Streaming.retireDays(
      spark, out, java.sql.Date.valueOf("2024-01-02"))
    assert(retired == Seq("day=2024-01-01"))
    assert(listNames(s"$out/epoch=$epoch", "day=") ==
      Seq("day=2024-01-02", "day=2024-01-03"))
    assert(ids == Seq(2L, 3L), "retention touched a surviving day")
    // the survivors' per-day counts match a fresh aggregation (the
    // q115-style oracle shape over what remains)
    val counts = Streaming.readSink(spark, out)
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).sorted.toSeq
    assert(counts == Seq(("2024-01-02", 1L), ("2024-01-03", 1L)))
    // idempotent: nothing left in range
    assert(Streaming.retireDays(
      spark, out, java.sql.Date.valueOf("2024-01-02")).isEmpty)
    // a merge plan still owing a day in the retirement range refuses
    // loudly: the owed day could be resurrected from the source epoch
    // by a later finishMoves after its dir was deleted
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/epoch=$epoch/_MERGE_PLAN").toPath,
      "from=0\nday=2024-01-02")
    val ePlan = intercept[IllegalArgumentException](
      Streaming.retireDays(spark, out, java.sql.Date.valueOf("2024-01-03")))
    assert(ePlan.getMessage.contains("day=2024-01-02"), ePlan.getMessage)
    assert(new java.io.File(s"$out/epoch=$epoch/_MERGE_PLAN").exists(),
      "refused retirement must leave the plan in place")
    assert(listNames(s"$out/epoch=$epoch", "day=") ==
      Seq("day=2024-01-02", "day=2024-01-03"),
      "refused retirement deleted a day dir")
  }

  test("retiring every day leaves the sink readable and compactable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_retireall").toString
    val out = s"$root/events"
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    // retention may legitimately empty the whole epoch (a long-idle
    // sink): the dataless epoch dir must not break readers with failed
    // schema inference once new data arrives
    assert(Streaming.retireDays(spark, out,
      java.sql.Date.valueOf("2099-01-01")) == Seq("day=2024-01-01"))
    val e = intercept[IllegalArgumentException](ids)
    assert(e.getMessage.contains("empty sink"),
      s"fully-retired, batchless sink should read as empty: $e")
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-02-01 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    assert(ids == Seq(2L),
      "emptied epoch dir broke the union view for new live batches")
    // and compaction over the emptied epoch proceeds normally
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    assert(ids == Seq(2L))
    assert(listNames(out, "epoch=") == Seq("epoch=1"))
  }

  test("vacuum sweeps uncommitted leftovers and never touches committed data") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_vacuum").toString
    val out = s"$root/events"
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    val epoch = Streaming.compactSink(spark, out, quiesced = true)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    // orphans: an uncommitted epoch attempt, tmp files at the root and
    // under the committed epoch, and an uncommitted batch dir
    java.nio.file.Files.createDirectories(
      new java.io.File(s"$out/epoch=7").toPath)
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/junk.tmp").toPath, "leftover")
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/epoch=$epoch/._MERGE_PLAN.tmp").toPath, "torn")
    java.nio.file.Files.createDirectories(
      new java.io.File(s"$out/batch_id=9").toPath)
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/batch_id=9/part-torn.parquet").toPath, "torn")
    // non-quiesced: batch dirs belong to the (possibly live) writer
    val removed = Streaming.vacuumSink(spark, out)
    assert(removed.toSet == Set("epoch=7", "junk.tmp", "._MERGE_PLAN.tmp"),
      s"got $removed")
    assert(new java.io.File(s"$out/batch_id=9").exists(),
      "non-quiesced vacuum deleted a batch dir under the live writer")
    // quiesced: the uncommitted batch is invisible to readers and will
    // never be committed by a stopped stream - swept
    val removed2 = Streaming.vacuumSink(spark, out, quiesced = true)
    assert(removed2 == Seq("batch_id=9"), s"got $removed2")
    assert(ids == Seq(1L, 2L), "vacuum touched committed data")
    assert(listNames(out, "batch_id=") == Seq("batch_id=1"),
      "vacuum swept a committed batch dir")
  }

  test("a reader constructed before the move phase completes survives a concurrent finishMoves") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    val root = java.nio.file.Files.createTempDirectory("sink_toctou").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    // the next compaction's crash state: fresh day durably under
    // epoch=1, plan + commit down, the owed day NOT yet moved in
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    spark.read.parquet(s"$out/batch_id=1")
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(s"$out/epoch=1")
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/epoch=1/_MERGE_PLAN").toPath,
      "from=0\nday=2024-01-01")
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/epoch=1/_EPOCH_COMMIT").toPath, "")
    // the reader is CONSTRUCTED while the move is outstanding; the
    // compactor's recovery (finishMoves + source retirement) then runs
    // BEFORE the reader collects. Round-11's reader pinned the owed
    // day's pre-move file paths here and lost them to the rename;
    // construction-time roll-forward reads one complete epoch instead
    val df = Streaming.readSink(spark, out).select("event_id")
    assert(Streaming.compactSink(spark, out) == 1L)
    assert(df.as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "reader constructed before finishMoves lost rows to the rename")
  }

  test("null-timestamp rows survive re-compaction into hive's null partition") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_nullday").toString
    val out = s"$root/events"
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    Streaming.writeBatchIdempotent(
      Seq((null.asInstanceOf[Timestamp], 1L, "x"),
        (tsv("2024-01-01 10:00:00"), 2L, "y"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    assert(listNames(s"$out/epoch=0", "day=").contains(
      "day=__HIVE_DEFAULT_PARTITION__"))
    assert(ids == Seq(1L, 2L))
    // the round-11 freshDays key was the string "day=null": the
    // previous epoch's null-day dir missed the overlap set, was
    // classified as an untouched day to MOVE, found its destination
    // already written by the fresh null rows, and its rows vanished
    // with the retired source epoch - this re-compaction pins the fix
    Streaming.writeBatchIdempotent(
      Seq((null.asInstanceOf[Timestamp], 3L, "z"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    assert(ids == Seq(1L, 2L, 3L),
      "null-day rows lost across the epoch merge")
    val nullDayIds = Streaming.readSink(spark, out)
      .filter(col("day").isNull)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(nullDayIds == Seq(1L, 3L))
  }

  test("batch visibility survives mapreduce.fileoutputcommitter.marksuccessfuljobs=false") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_nosuccess").toString
    val out = s"$root/events"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    try {
      Streaming.writeBatchIdempotent(
        Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
          .toDF("ts", "event_id", "event_type"), out, 0L)
      // the premise: the object-store-committer config writes no
      // _SUCCESS - gating on it would make this batch invisible
      // forever (never read, never compacted: silent loss)
      assert(!new java.io.File(s"$out/batch_id=0/_SUCCESS").exists(),
        "premise broken: committer wrote _SUCCESS anyway")
      assert(new java.io.File(s"$out/batch_id=0/_BATCH_COMMIT").exists(),
        "writeBatchIdempotent did not write its own commit marker")
      assert(Streaming.readSink(spark, out)
        .select("event_id").as[Long].collect().toSeq == Seq(1L))
      assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
      assert(Streaming.readSink(spark, out)
        .select("event_id").as[Long].collect().toSeq == Seq(1L))
    } finally
      hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
  }

  test("compacting only empty batches retires them without minting an unreadable epoch") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_emptyb").toString
    val out = s"$root/events"
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    // an empty micro-batch (a quiet trigger) commits a rowless dir; an
    // epoch minted from it would hold no data files and break every
    // subsequent readSink with failed schema inference
    Streaming.writeBatchIdempotent(
      Seq.empty[(Timestamp, Long, String)]
        .toDF("ts", "event_id", "event_type"), out, 1L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L,
      "rowless compaction minted an epoch")
    assert(listNames(out, "batch_id=").isEmpty,
      "consumed empty batch dir not retired")
    assert(listNames(out, "epoch=") == Seq("epoch=0"))
    assert(ids == Seq(1L), "sink unreadable after an empty-only compaction")
  }

  test("a second writer on a live sink is refused; the same stream restarts cleanly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_writerlock").toString
    val out = s"$root/events"
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[(Timestamp, Long, String)]
    def start() = Streaming.parquetSinkStream(
      input.toDF().toDF("ts", "event_id", "event_type"), out, ckpt)
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    val q1 = start()
    try {
      input.addData((tsv("2024-01-01 10:00:00"), 1L, "click"))
      q1.processAllAvailable()
      assert(new java.io.File(out, "_WRITER_LOCK").exists(),
        "stream writer did not take the lease")
      // a concurrent ONE-SHOT backfill on the live sink: refused loudly
      // (the silent hazard was interleaved batch_id= overwrites)
      val eOneShot = intercept[IllegalStateException](
        Streaming.writeBatchIdempotent(
          Seq((tsv("2024-01-01 12:00:00"), 99L, "backfill"))
            .toDF("ts", "event_id", "event_type"), out, 7L))
      assert(eOneShot.getMessage.contains("holds the lease"),
        eOneShot.getMessage)
      assert(!new java.io.File(s"$out/batch_id=7").exists(),
        "refused backfill still wrote its batch dir")
      // a SECOND STREAM (different checkpoint) on the same sink:
      // refused at start, before any batch could land
      val input2 = MemoryStream[(Timestamp, Long, String)]
      val eStream = intercept[IllegalStateException](
        Streaming.parquetSinkStream(
          input2.toDF().toDF("ts", "event_id", "event_type"),
          out, s"$root/ckpt2"))
      assert(eStream.getMessage.contains("holds the lease"),
        eStream.getMessage)
    } finally q1.stop()
    // restart from the SAME checkpoint = the same logical writer:
    // takeover is allowed whether or not the predecessor's async
    // release has landed, and the stream keeps writing cleanly
    val q2 = start()
    try {
      input.addData((tsv("2024-01-01 11:00:00"), 2L, "view"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(ids == Seq(1L, 2L),
      "restart from the same checkpoint lost or duplicated rows")
    // once no writer is live, a one-shot backfill proceeds (either the
    // terminated stream released its lease, or — had it crashed — the
    // lease would age out at the staleness horizon)
    org.scalatest.concurrent.Eventually.eventually(
      org.scalatest.concurrent.Eventually.timeout(
        org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
      Streaming.writeBatchIdempotent(
        Seq((tsv("2024-01-02 10:00:00"), 3L, "late"))
          .toDF("ts", "event_id", "event_type"), out, 2L)
    }
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("the writer fence cuts off a zombie predecessor and a stale foreign lease is stolen") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_fence").toString
    val out = s"$root/events"
    val df = Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
      .toDF("ts", "event_id", "event_type")
    // instance 1 of writer "w" acquires, then "crashes" (no release);
    // instance 2 (the restart) takes over at a HIGHER fence
    val fence1 = Streaming.acquireWriter(spark, out, "w")
    val fence2 = Streaming.acquireWriter(spark, out, "w")
    assert(fence2 > fence1)
    // the zombie's write fails the fence check LOUDLY - it can no
    // longer interleave with its successor
    val eZombie = intercept[IllegalArgumentException](
      Streaming.writeBatchIdempotent(df, out, 0L, "w", fence1))
    assert(eZombie.getMessage.contains("displaced"), eZombie.getMessage)
    assert(!new java.io.File(s"$out/batch_id=0").exists())
    // the live successor writes fine and its heartbeat keeps the lease
    Streaming.writeBatchIdempotent(df, out, 0L, "w", fence2)
    assert(new java.io.File(s"$out/batch_id=0/_BATCH_COMMIT").exists())
    // a DIFFERENT writer is refused while the lease is fresh...
    val eFresh = intercept[IllegalStateException](
      Streaming.acquireWriter(spark, out, "other"))
    assert(eFresh.getMessage.contains("holds the lease"), eFresh.getMessage)
    // ...but steals it once stale (crashed foreign writer)
    val lease = new java.io.File(out, "_WRITER_LOCK")
    assert(lease.setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    Streaming.writeBatchIdempotent(df, out, 1L, "other",
      Streaming.acquireWriter(spark, out, "other"))
    assert(new java.io.File(s"$out/batch_id=1/_BATCH_COMMIT").exists())
    Streaming.releaseWriter(spark, out, "other", 4L)
    // a release with the WRONG fence is a no-op (never un-lease a
    // successor); with the right fence the lease is gone
    val fenceNow = Streaming.acquireWriter(spark, out, "other")
    Streaming.releaseWriter(spark, out, "other", fenceNow - 1)
    assert(lease.exists(), "mismatched-fence release deleted the lease")
    Streaming.releaseWriter(spark, out, "other", fenceNow)
    assert(!lease.exists())
    // a quiesced vacuum clears a leftover lease so a dead writer does
    // not block the sink until the staleness horizon
    Streaming.acquireWriter(spark, out, "dead")
    assert(Streaming.vacuumSink(spark, out, quiesced = true)
      .contains("_WRITER_LOCK"))
    assert(!lease.exists())
  }

  test("a failing reader roll-forward falls back to pre-move plan resolution, losing nothing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    val root = java.nio.file.Files.createTempDirectory("sink_rofallback").toString
    val out = s"$root/events"
    // the died-mid-move crash state: epoch=1 committed with a plan
    // still owing epoch=0's day, the move NOT yet performed
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    spark.read.parquet(s"$out/batch_id=1")
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(s"$out/epoch=1")
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/epoch=1/_MERGE_PLAN").toPath,
      "from=0\nday=2024-01-01")
    java.nio.file.Files.writeString(
      new java.io.File(s"$out/epoch=1/_EPOCH_COMMIT").toPath, "")
    // read through a filesystem whose rename always fails (the
    // read-only-FS / permissions case): the construction-time
    // roll-forward must DEGRADE to resolving each owed day on
    // whichever side of its rename it sits — complete result, plan
    // left in place, a warning logged instead of silence
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftro.impl", classOf[RenameRefusingLocalFs].getName)
    val roIds = Streaming.readSink(spark, s"graftro:$out")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(roIds == Seq(1L, 2L),
      "fallback plan resolution lost or duplicated a planned day")
    assert(new java.io.File(s"$out/epoch=1/_MERGE_PLAN").exists() &&
      new java.io.File(s"$out/epoch=0/day=2024-01-01").exists() &&
      !new java.io.File(s"$out/epoch=1/day=2024-01-01").exists(),
      "a rename-refusing filesystem still mutated the sink")
    // the same sink through the writable path rolls forward for real
    val ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L))
    assert(!new java.io.File(s"$out/epoch=1/_MERGE_PLAN").exists(),
      "writable reader did not roll the move phase forward")
  }

  test("q116 lifecycle agrees with its oracle on degenerate event spans") {
    import spark.implicits._
    // a span SHORTER than the 7-day horizon: retirement legitimately
    // empties the whole epoch; the query must return the oracle's
    // empty result, not trip readSink's empty-sink contract
    val shortRoot = java.nio.file.Files
      .createTempDirectory("sf_shortspan").toString
    Seq((tsv("2024-01-01 10:00:00"), 1L), (tsv("2024-01-02 10:00:00"), 2L),
      (tsv("2024-01-03 10:00:00"), 3L))
      .toDF("ts", "event_id").write.parquet(s"$shortRoot/events.parquet")
    val short = Streaming.q116Retention(spark, shortRoot)
    assert(short.columns.toSeq == Seq("day", "n_events"))
    assert(short.count() == 0,
      "sub-horizon span should retire every day and return empty")
    // an all-null-ts table: rows carry no date to age on — retirement
    // skips, and the read returns the null-day group the oracle's
    // IS NULL disjunct also keeps
    val nullRoot = java.nio.file.Files
      .createTempDirectory("sf_nullspan").toString
    Seq((null.asInstanceOf[Timestamp], 1L), (null.asInstanceOf[Timestamp], 2L))
      .toDF("ts", "event_id").write.parquet(s"$nullRoot/events.parquet")
    val nulls = Streaming.q116Retention(spark, nullRoot).collect()
    assert(nulls.length == 1 && nulls.head.isNullAt(0) &&
      nulls.head.getLong(1) == 2L,
      s"all-null-ts table should keep its null-day group: ${nulls.toSeq}")
  }

  test("deleteWhere removes exactly the matching rows, rewrites only affected days and MOVES the rest") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_delete").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 7L),
        (tsv("2024-01-01 11:00:00"), 2L, 8L),
        (tsv("2024-01-02 10:00:00"), 3L, 9L),
        (tsv("2024-01-03 09:00:00"), 4L, 7L))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    val day2Files = listNames(s"$out/epoch=0/day=2024-01-02", "part-")
    // delete user 7 (days 1 and 3); day 2 holds no match
    assert(Streaming.deleteWhere(spark, out, col("user_id") === 7L) == 1L)
    assert(listNames(out, "epoch=") == Seq("epoch=1"),
      "delete did not retire the source epoch")
    val got = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(2L, 3L), s"wrong survivors: $got")
    // the unaffected day MOVED (same part-file names — a rewrite would
    // mint fresh UUIDs): delete cost is O(affected days), not O(table)
    assert(listNames(s"$out/epoch=1/day=2024-01-02", "part-") == day2Files,
      "day without matching rows was rewritten, not moved")
    // day 3 lost its only row — the directory must vanish, not linger
    // as an empty dir or resurrect via the move plan
    assert(listNames(s"$out/epoch=1", "day=") ==
      Seq("day=2024-01-01", "day=2024-01-02"),
      "fully-deleted day did not vanish from the layout")
  }

  test("deleteWhere is null-safe (NULL predicate keeps the row) and a no-op delete mints no epoch") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_delnull").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, java.lang.Long.valueOf(7L)),
        (tsv("2024-01-01 11:00:00"), 2L, null.asInstanceOf[java.lang.Long]))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    // user_id IS NULL → predicate NULL → row SURVIVES (SQL DELETE
    // removes only rows where the predicate is TRUE)
    assert(Streaming.deleteWhere(spark, out, col("user_id") === 7L) == 1L)
    val got = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(2L), s"null-predicate row did not survive: $got")
    // nothing matches now: no new epoch directory may be minted
    assert(Streaming.deleteWhere(spark, out, col("user_id") === 7L) == 1L)
    assert(listNames(out, "epoch=") == Seq("epoch=1"),
      "a no-op delete minted an epoch")
  }

  test("deleteWhere refuses consumable live batches and batch ids continue safely after a delete") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_delwm").toString
    val out = s"$root/events"
    def write(id: Long, rows: (Timestamp, Long, Long)*): Unit =
      Streaming.writeBatchIdempotent(
        rows.toSeq.toDF("ts", "event_id", "user_id"), out, id)
    write(0L, (tsv("2024-01-01 10:00:00"), 1L, 7L))
    write(1L, (tsv("2024-01-02 10:00:00"), 2L, 8L))
    // rail: a consumable live batch may hold matching rows the delete
    // cannot see — refused until a quiesced compaction folds it in
    val e = intercept[IllegalArgumentException](
      Streaming.deleteWhere(spark, out, col("user_id") === 7L))
    assert(e.getMessage.contains("quiesced compaction"), e.getMessage)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    assert(Streaming.deleteWhere(spark, out, col("user_id") === 7L) == 2L)
    // the epoch counter (2) now runs AHEAD of the batch counter (next
    // id is 2): the stream's continuation must stay visible and must
    // survive the next compaction — under id-based bookkeeping batch 2
    // would be invisible to readSink and retired unconsumed
    write(2L, (tsv("2024-01-03 09:00:00"), 3L, 9L))
    val live = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(live == Seq(2L, 3L),
      s"post-delete batch invisible through the watermark: $live")
    assert(Streaming.compactSink(spark, out, quiesced = true) == 3L,
      "post-delete compaction did not advance past the delete epoch")
    val after = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(after == Seq(2L, 3L),
      s"post-delete batch lost by watermark bookkeeping: $after")
    assert(listNames(out, "batch_id=").isEmpty,
      "consumed batches not retired under the watermark")
  }

  test("a delete that died uncommitted is discarded wholesale; legacy empty commit markers still read") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_delcrash").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 7L),
        (tsv("2024-01-02 10:00:00"), 2L, 8L))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    // synthesize a delete attempt that died before its commit marker:
    // a half-written epoch=1 holding a partial rewrite (day 1 already
    // emptied of user 7's row) but NO _EPOCH_COMMIT
    val attempt = new java.io.File(s"$out/epoch=1/day=2024-01-02")
    attempt.mkdirs()
    Seq((tsv("2024-01-02 10:00:00"), 2L, 8L))
      .toDF("ts", "event_id", "user_id")
      .write.mode("overwrite").parquet(attempt.toString)
    // readers never see the attempt; the next maintenance op discards
    // it and the source epoch is fully intact — the delete simply
    // never happened (the caller re-runs it)
    val got = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L), s"uncommitted delete attempt leaked: $got")
    assert(Streaming.deleteWhere(spark, out, col("user_id") === 99L) == 0L,
      "no-op delete after discarding the attempt should keep epoch 0")
    assert(listNames(out, "epoch=") == Seq("epoch=0"),
      "uncommitted delete attempt not discarded by maintenance recovery")
    // legacy marker compatibility: an epoch committed by a pre-watermark
    // build carries an EMPTY marker — its watermark must read as the
    // epoch id (exact for every epoch minted before deletes existed),
    // so its consumed batches stay retired and newer batches stay live
    val marker = new java.io.File(s"$out/epoch=0/_EPOCH_COMMIT")
    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-03 09:00:00"), 3L, 9L))
        .toDF("ts", "event_id", "user_id"), out, 1L)
    val legacy = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(legacy == Seq(1L, 2L, 3L),
      s"legacy empty marker mis-read the watermark: $legacy")
  }

  test("the full lifecycle chains: ingest, compact, delete, retire, vacuum, read") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_lifecycle").toString
    val out = s"$root/events"
    // 10 days of events, one per day, users cycling 0/1/2
    val day0 = java.time.LocalDate.parse("2024-01-01")
    Streaming.writeBatchIdempotent(
      (0 until 10).map(i => (Timestamp.valueOf(day0.plusDays(i).atTime(12, 0)),
        i.toLong, (i % 3).toLong)).toDF("ts", "event_id", "user_id"),
      out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    // GDPR pass: forget user 1 (days 1,4,7 rewritten; rest move)
    assert(Streaming.deleteWhere(spark, out, col("user_id") === 1L) == 1L)
    // age pass: forget the first 5 calendar days
    val retired = Streaming.retireDays(spark, out,
      java.sql.Date.valueOf(day0.plusDays(5).toString))
    assert(retired == Seq("day=2024-01-01", "day=2024-01-03",
      "day=2024-01-04"), s"wrong retirement set: $retired")
    // (Jan 2 and Jan 5 already vanished with user 1's deletes)
    assert(Streaming.vacuumSink(spark, out, quiesced = true).isEmpty,
      "a clean lifecycle left orphans for vacuum")
    val got = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(5L, 6L, 8L, 9L),
      s"lifecycle survivors wrong: $got")
  }

  test("readSinkSince serves exactly the committed delta and chained cursors partition the feed") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_incr").toString
    val out = s"$root/events"
    def write(id: Long, rows: (Timestamp, Long, Long)*): Unit =
      Streaming.writeBatchIdempotent(
        rows.toSeq.toDF("ts", "event_id", "user_id"), out, id)
    write(0L, (tsv("2024-01-01 10:00:00"), 1L, 7L))
    write(1L, (tsv("2024-01-02 10:00:00"), 2L, 8L))
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    val c0 = Streaming.sinkWatermark(spark, out)
    assert(c0 == 1L, s"watermark should sit at the folded max batch: $c0")
    // up-to-date cursor: EMPTY delta with the sink's full schema — a
    // poll loop needs no special casing
    val empty = Streaming.readSinkSince(spark, out, c0)
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("ts", "event_id", "user_id", "day"))
    write(2L, (tsv("2024-01-03 09:00:00"), 3L, 9L))
    write(3L, (tsv("2024-01-04 09:00:00"), 4L, 9L))
    // the delta is exactly the post-cursor batches: nothing consumed
    // leaks back (1,2 stay behind), nothing new is missed
    val d1 = Streaming.readSinkSince(spark, out, c0)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(d1 == Seq(3L, 4L), s"wrong delta: $d1")
    // re-reading the same cursor is idempotent
    val again = Streaming.readSinkSince(spark, out, c0)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(again == d1, "cursor re-read not idempotent")
    // chained cursors partition the feed: (c0,c1] then (c1,c2]
    val c1 = Streaming.sinkWatermark(spark, out)
    assert(c1 == 3L)
    write(4L, (tsv("2024-01-05 09:00:00"), 5L, 9L))
    val d2 = Streaming.readSinkSince(spark, out, c1)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(d2 == Seq(5L), s"second delta overlaps or skips: $d2")
  }

  test("incremental consumption works on a sink that has never compacted") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_incr0").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 7L))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    // no epoch exists: the watermark is the max committed batch id and
    // the virgin cursor -1 serves the whole feed
    assert(Streaming.sinkWatermark(spark, out) == 0L)
    val all = Streaming.readSinkSince(spark, out, -1L)
      .select("event_id").as[Long].collect().toSeq
    assert(all == Seq(1L), s"virgin cursor missed the feed: $all")
    assert(Streaming.readSinkSince(spark, out, 0L).count() == 0)
  }

  test("readSinkSince hides uncommitted batches and refuses a cursor behind the compaction horizon") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_incr2").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 7L))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    val c0 = Streaming.sinkWatermark(spark, out)
    // a write in flight (no _BATCH_COMMIT) must be invisible: a crashed
    // writer can never feed a half-batch downstream
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L, 8L))
        .toDF("ts", "event_id", "user_id"), out, 1L)
    val commit = new java.io.File(s"$out/batch_id=1/_BATCH_COMMIT")
    assert(commit.delete(), "test setup: could not hide the commit marker")
    assert(Streaming.readSinkSince(spark, out, c0).count() == 0,
      "uncommitted batch leaked into the incremental delta")
    // restore the marker: the batch becomes consumable
    assert(commit.createNewFile())
    assert(Streaming.readSinkSince(spark, out, c0).count() == 1)
    // compaction folds it and retires its dir: the cursor now predates
    // the horizon and must REFUSE, not silently return a partial delta
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    val e = intercept[IllegalArgumentException](
      Streaming.readSinkSince(spark, out, c0))
    assert(e.getMessage.contains("compaction horizon"), e.getMessage)
    // the new watermark serves again, and survives a delete epoch
    // advancing the epoch counter without consuming batches
    val c1 = Streaming.sinkWatermark(spark, out)
    assert(Streaming.deleteWhere(spark, out, col("user_id") === 7L) == 2L)
    assert(Streaming.sinkWatermark(spark, out) == c1,
      "a delete (which consumes no batches) moved the watermark")
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-03 10:00:00"), 3L, 9L))
        .toDF("ts", "event_id", "user_id"), out, 2L)
    val d = Streaming.readSinkSince(spark, out, c1)
      .select("event_id").as[Long].collect().toSeq
    assert(d == Seq(3L), s"post-delete delta wrong: $d")
  }

  test("upsertBatch replaces matched keys, inserts new ones atomically, and MOVES untouched days") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_upsert").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "a"),
        (tsv("2024-01-01 11:00:00"), 2L, "b"),
        (tsv("2024-01-02 10:00:00"), 3L, "c"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    val day2Files = listNames(s"$out/epoch=0/day=2024-01-02", "part-")
    // key 1 updates in place (same day), key 9 is new (new day)
    val batch = Seq((tsv("2024-01-01 10:00:00"), 1L, "a2"),
      (tsv("2024-01-03 09:00:00"), 9L, "new"))
      .toDF("ts", "event_id", "event_type")
    assert(Streaming.upsertBatch(spark, out, batch, Seq("event_id")) == 1L)
    // ATOMIC: one epoch carries both halves; the source epoch is gone
    assert(listNames(out, "epoch=") == Seq("epoch=1"),
      "upsert did not retire the source epoch")
    assert(listNames(out, "batch_id=").isEmpty,
      "upsert leaked a live batch dir — the merge would not be atomic")
    val got = Streaming.readSink(spark, out)
      .select("event_id", "event_type").as[(Long, String)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, "a2"), (2L, "b"), (3L, "c"), (9L, "new")),
      s"merge result wrong: $got")
    // the day with neither a match nor an insert MOVED (same part-file
    // names): upsert cost is O(affected days), not O(table)
    assert(listNames(s"$out/epoch=1/day=2024-01-02", "part-") == day2Files,
      "day without matching keys or inserts was rewritten, not moved")
    assert(listNames(s"$out/epoch=1", "day=") ==
      Seq("day=2024-01-01", "day=2024-01-02", "day=2024-01-03"))
  }

  test("upsertBatch key matching is join-null-blind; empty batch is a no-op; empty sink pure-inserts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_upsnull").toString
    val out = s"$root/events"
    // empty sink: the upsert is a pure insert minting epoch 0
    val seed = Seq((tsv("2024-01-01 10:00:00"), java.lang.Long.valueOf(1L), "a"),
      (tsv("2024-01-01 11:00:00"), null.asInstanceOf[java.lang.Long], "nk"))
      .toDF("ts", "event_id", "event_type")
    assert(Streaming.upsertBatch(spark, out, seed, Seq("event_id")) == 0L)
    assert(listNames(out, "epoch=") == Seq("epoch=0"))
    // a null-key batch row INSERTS (join equality never matches NULL)
    // and the sink's null-key row SURVIVES
    val batch = Seq(
      (tsv("2024-01-01 12:00:00"), null.asInstanceOf[java.lang.Long], "nk2"))
      .toDF("ts", "event_id", "event_type")
    assert(Streaming.upsertBatch(spark, out, batch, Seq("event_id")) == 1L)
    val types = Streaming.readSink(spark, out)
      .select("event_type").as[String].collect().sorted.toSeq
    assert(types == Seq("a", "nk", "nk2"),
      s"null-key merge semantics wrong: $types")
    // empty batch: no epoch minted, nothing rewritten
    assert(Streaming.upsertBatch(spark, out,
      seed.limit(0), Seq("event_id")) == 1L)
    assert(listNames(out, "epoch=") == Seq("epoch=1"),
      "an empty upsert minted an epoch")
  }

  test("upsertBatch refuses consumable live batches and carries the watermark like a delete") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_upswm").toString
    val out = s"$root/events"
    def write(id: Long, rows: (Timestamp, Long, String)*): Unit =
      Streaming.writeBatchIdempotent(
        rows.toSeq.toDF("ts", "event_id", "event_type"), out, id)
    write(0L, (tsv("2024-01-01 10:00:00"), 1L, "a"))
    write(1L, (tsv("2024-01-02 10:00:00"), 2L, "b"))
    val batch = Seq((tsv("2024-01-01 10:00:00"), 1L, "a2"))
      .toDF("ts", "event_id", "event_type")
    // rail: a consumable live batch may hold a matching key the merge
    // cannot see — refused until a quiesced compaction folds it in
    val e = intercept[IllegalArgumentException](
      Streaming.upsertBatch(spark, out, batch, Seq("event_id")))
    assert(e.getMessage.contains("quiesced compaction"), e.getMessage)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    assert(Streaming.upsertBatch(spark, out, batch, Seq("event_id")) == 2L)
    // the upsert epoch consumed no batches: the watermark held at 1,
    // so the stream's continuation (batch 2) stays visible and the
    // next compaction consumes it instead of retiring it unseen
    write(2L, (tsv("2024-01-03 09:00:00"), 3L, "c"))
    val live = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(live == Seq(1L, 2L, 3L),
      s"post-upsert batch invisible through the watermark: $live")
    assert(Streaming.compactSink(spark, out, quiesced = true) == 3L)
    assert(Streaming.readSink(spark, out)
      .filter(col("event_id") === 1L)
      .select("event_type").as[String].collect().toSeq == Seq("a2"),
      "the update was lost across the next compaction")
  }

  test("an upsert that died uncommitted is discarded wholesale") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_upscrash").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "a"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    assert(Streaming.upsertBatch(spark, out,
      Seq((tsv("2024-01-01 10:00:00"), 1L, "a2"))
        .toDF("ts", "event_id", "event_type"), Seq("event_id")) == 1L)
    // simulate the crash: strip the commit marker — the attempt must
    // read as if it never happened... except epoch 0 is already gone.
    // So instead crash an attempt ON TOP of epoch 1: mint epoch 2 by
    // hand-copying the shape (uncommitted = no _EPOCH_COMMIT)
    val e2 = new java.io.File(s"$out/epoch=2/day=2024-01-01")
    assert(e2.mkdirs())
    java.nio.file.Files.write(e2.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    // neither the reader nor the next maintenance op may see epoch 2
    assert(Streaming.readSink(spark, out)
      .select("event_type").as[String].collect().toSeq == Seq("a2"))
    assert(Streaming.upsertBatch(spark, out,
      Seq((tsv("2024-01-02 10:00:00"), 5L, "e"))
        .toDF("ts", "event_id", "event_type"), Seq("event_id")) == 2L,
      "recovery did not discard the uncommitted attempt before minting")
    assert(Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 5L))
  }

  test("cdcSinkStream maintains a keyed table across micro-batches and re-applying a batch is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_cdc").toString
    val out = s"$root/state"
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = Streaming.cdcSinkStream(
      input.toDF().toDF("ts", "event_id", "event_type"),
      out, s"$root/ckpt", Seq("event_id"))
    try {
      input.addData(
        (tsv("2024-01-01 10:00:00"), 1L, "a"),
        (tsv("2024-01-01 11:00:00"), 2L, "b"))
      q.processAllAvailable()
      input.addData(
        (tsv("2024-01-01 12:00:00"), 1L, "a2"), // update key 1
        (tsv("2024-01-02 09:00:00"), 3L, "c"))  // insert key 3
      q.processAllAvailable()
      val state = Streaming.readSink(spark, out)
        .select("event_id", "event_type").as[(Long, String)]
        .collect().sorted.toSeq
      assert(state == Seq((1L, "a2"), (2L, "b"), (3L, "c")),
        s"CDC end state wrong: $state")
      // the table is mutable state, not a log: no live batch dirs ever
      assert(listNames(out, "batch_id=").isEmpty,
        "CDC apply leaked batch dirs - the sink would stop accepting merges")
    } finally q.stop()
    // the property checkpoint-replay correctness rides on: re-applying
    // the SAME change batch converges (its updates replace identically,
    // its inserts match-and-replace themselves)
    val replay = Seq((tsv("2024-01-01 12:00:00"), 1L, "a2"),
      (tsv("2024-01-02 09:00:00"), 3L, "c"))
      .toDF("ts", "event_id", "event_type")
    val e1 = Streaming.upsertBatch(spark, out, replay, Seq("event_id"))
    val after = Streaming.readSink(spark, out)
      .select("event_id", "event_type").as[(Long, String)]
      .collect().sorted.toSeq
    assert(after == Seq((1L, "a2"), (2L, "b"), (3L, "c")),
      s"replayed CDC batch changed the end state: $after")
    assert(Streaming.upsertBatch(spark, out, replay, Seq("event_id")) == e1 + 1,
      "idempotent re-apply should still mint its epoch (atomicity per apply)")
  }

  test("a second CDC stream on a live sink is refused by the writer lease") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_cdc2").toString
    val out = s"$root/state"
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = Streaming.cdcSinkStream(
      input.toDF().toDF("ts", "event_id", "event_type"),
      out, s"$root/ckpt_a", Seq("event_id"))
    try {
      input.addData((tsv("2024-01-01 10:00:00"), 1L, "a"))
      q.processAllAvailable()
      val input2 = MemoryStream[(Timestamp, Long, String)]
      val e = intercept[IllegalStateException](
        Streaming.cdcSinkStream(
          input2.toDF().toDF("ts", "event_id", "event_type"),
          out, s"$root/ckpt_b", Seq("event_id")))
      assert(e.getMessage.contains("holds the lease"), e.getMessage)
    } finally q.stop()
  }

  test("describeSink reports the sink's operational state without taking locks or reading data") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_desc").toString
    val out = s"$root/events"
    // empty sink: a clean all-defaults row, not an error
    val empty = Streaming.describeSink(spark, out).collect()(0)
    assert(empty.getAs[Long]("epoch") == -1L)
    assert(empty.getAs[Long]("live_batches") == 0L)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "a"),
        (tsv("2024-01-02 10:00:00"), 2L, "b"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-03 10:00:00"), 3L, "c"))
        .toDF("ts", "event_id", "event_type"), out, 1L)
    // an in-flight write: strip the commit marker
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-04 10:00:00"), 4L, "d"))
        .toDF("ts", "event_id", "event_type"), out, 2L)
    assert(new java.io.File(s"$out/batch_id=2/_BATCH_COMMIT").delete())
    val d = Streaming.describeSink(spark, out).collect()(0)
    assert(d.getAs[Long]("epoch") == 0L)
    assert(d.getAs[Long]("watermark") == 0L)
    assert(d.getAs[Long]("live_batches") == 1L)
    assert(d.getAs[Long]("inflight_batches") == 1L)
    assert(d.getAs[Long]("days") == 2L)
    assert(!d.getAs[Boolean]("has_null_day"))
    assert(d.getAs[Long]("pending_move_days") == 0L)
    assert(d.getAs[Long]("epoch_bytes") > 0L)
    assert(d.getAs[Long]("live_bytes") > 0L)
    assert(!d.getAs[Boolean]("compactor_locked"))
    assert(d.getAs[String]("writer_id") == null)
    // the current epoch's mint instant rides the row (the
    // TIMESTAMP-AS-OF anchor); an empty sink reports null
    assert(d.getAs[java.lang.Long]("last_mint_ms") != null &&
      d.getAs[Long]("last_mint_ms") > 0L)
    assert(empty.getAs[java.lang.Long]("last_mint_ms") == null)
    // the snapshot itself must not have taken or leaked any lock
    assert(!new java.io.File(out, "_COMPACT_LOCK").exists())
  }

  test("maintainSink compacts on backlog, retires data-relative, defers retirement under backlog") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_maint").toString
    val out = s"$root/events"
    def write(id: Long, day: Int): Unit =
      Streaming.writeBatchIdempotent(
        Seq((tsv(f"2024-01-$day%02d 10:00:00"), id, "e"))
          .toDF("ts", "event_id", "event_type"), out, id)
    write(0L, 1); write(1L, 2)
    // below the batch threshold: nothing to do
    assert(Streaming.maintainSink(spark, out, compactAfterBatches = 3).isEmpty)
    // retention requested while a live backlog exists: deferred, not
    // thrown — a cron survives a transient backlog
    assert(Streaming.maintainSink(spark, out, compactAfterBatches = 3,
      retainDays = Some(1)) == Seq("retire_deferred=live_backlog"))
    write(2L, 3)
    // threshold reached: compact; then data-relative retention keeps
    // the most recent 2 days (max=Jan 3, horizon=Jan 2, Jan 1 retired)
    val actions = Streaming.maintainSink(spark, out, compactAfterBatches = 3,
      retainDays = Some(2), quiesced = true)
    assert(actions == Seq("compacted=3", "retired=day=2024-01-01"),
      s"wrong maintenance actions: $actions")
    val got = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L), s"wrong survivors after maintenance: $got")
    // steady state: an immediate re-run finds nothing to do
    assert(Streaming.maintainSink(spark, out, compactAfterBatches = 3,
      retainDays = Some(2), quiesced = true).isEmpty)
  }

  test("a corrupt epoch commit marker refuses maintenance loudly instead of guessing the watermark") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_corrupt").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 7L))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    // a live batch the wrong watermark guess would retire unconsumed
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L, 8L))
        .toDF("ts", "event_id", "user_id"), out, 1L)
    val marker = new java.io.File(s"$out/epoch=0/_EPOCH_COMMIT")
    // drop hadoop's checksum sidecar when tampering out-of-band, so the
    // read reaches the CONTENT (a checksum mismatch would also refuse,
    // but through the unreadable branch, not the one under test)
    def tamper(content: String): Unit = {
      new java.io.File(s"$out/epoch=0/._EPOCH_COMMIT.crc").delete()
      java.nio.file.Files.write(marker.toPath, content.getBytes("UTF-8"))
    }
    tamper("batches=notanumber\n")
    val e1 = intercept[IllegalStateException](
      Streaming.compactSink(spark, out, quiesced = true))
    assert(e1.getMessage.contains("corrupt epoch commit marker"), e1)
    // garbage content without any watermark line is corruption too,
    // not the legacy empty-marker case
    tamper("xyz\n")
    val e2 = intercept[IllegalStateException](
      Streaming.compactSink(spark, out, quiesced = true))
    assert(e2.getMessage.contains("no watermark line"), e2)
    // the live batch survived both refusals
    assert(new java.io.File(s"$out/batch_id=1").exists,
      "refusal must leave the live batch untouched")
    // restore a sane marker: maintenance resumes and nothing was lost
    tamper("batches=0\n")
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    val got = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L), s"rows lost across the corrupt-marker refusals: $got")
  }

  test("readSinkSince on a never-written sink refuses with an actionable message") {
    val root = java.nio.file.Files.createTempDirectory("sink_never").toString
    val out = s"$root/events"
    new java.io.File(out).mkdirs()
    val e = intercept[IllegalArgumentException](
      Streaming.readSinkSince(spark, out, -1L))
    assert(e.getMessage.contains("no committed data"), e)
  }

  test("a backfill-sized upsert into an empty sink writes sized files, not one per day") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_upsize").toString
    val out = s"$root/events"
    spark.conf.set("spark.graft.compact.targetFileBytes", "8192")
    try {
      val day0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val bulk = (1 to 4000).map(i => (new Timestamp(day0 + i * 1000L),
        i.toLong, f"evt_${i}_${i * 2654435761L}%016x"))
      // pure insert into an EMPTY sink: k derived from epoch bytes
      // alone would be ~0 and funnel the whole hot day into one file
      Streaming.upsertBatch(spark, out,
        bulk.toDF("ts", "event_id", "event_type"), Seq("event_id"))
      val files = Option(new java.io.File(s"$out/epoch=0/day=2024-01-01")
        .listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-"))
      assert(files.length > 1,
        s"backfill upsert funneled the hot day into ${files.length} file(s)")
      assert(Streaming.readSink(spark, out).count() == 4000L)
    } finally spark.conf.unset("spark.graft.compact.targetFileBytes")
  }

  test("heartbeatWriter refreshes only a lease this (id, fence) still owns") {
    val root = java.nio.file.Files.createTempDirectory("sink_hb").toString
    val out = s"$root/events"
    new java.io.File(out).mkdirs()
    val fence = Streaming.acquireWriter(spark, out, "hb-owner")
    val lock = new java.io.File(s"$out/_WRITER_LOCK")
    val t0 = lock.lastModified()
    Thread.sleep(1100) // local-fs mtime granularity can be 1 s
    Streaming.heartbeatWriter(spark, out, "hb-owner", fence)
    assert(lock.lastModified() > t0, "owned lease not refreshed")
    // a zombie with the WRONG fence must not keep the lease alive
    val t1 = lock.lastModified()
    Thread.sleep(1100)
    Streaming.heartbeatWriter(spark, out, "hb-owner", fence + 1)
    Streaming.heartbeatWriter(spark, out, "hb-other", fence)
    assert(lock.lastModified() == t1,
      "foreign heartbeat refreshed a lease it does not own")
    Streaming.releaseWriter(spark, out, "hb-owner", fence)
  }

  test("a cdcSinkStream whose start() fails releases the writer lease immediately") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("sink_cdcfail").toString
    val out = s"$root/events"
    // checkpoint path is a regular FILE: start() must throw
    val ckpt = new java.io.File(root, "ckpt_is_a_file")
    java.nio.file.Files.write(ckpt.toPath, "x".getBytes("UTF-8"))
    val input = MemoryStream[(Timestamp, Long, String)]
    intercept[Exception](Streaming.cdcSinkStream(
      input.toDF().toDF("ts", "event_id", "event_type"),
      out, ckpt.getAbsolutePath, Seq("event_id")))
    assert(!new java.io.File(s"$out/_WRITER_LOCK").exists,
      "failed start stranded the writer lease")
  }

  test("streaming near-dup admission equals the batch declaration when fed in id order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val batch = ops.TextOps.neardupAdmit(spark,
      Tables.documents(spark, sf).select("doc_id", "lang", "text"))
      .collect().map(v => v.doc_id -> v.admitted).toMap
    val input = MemoryStream[(Long, String, String)]
    val out = ops.TextOps.neardupAdmit(spark,
      input.toDF().toDF("doc_id", "lang", "text"))
    val q = out.writeStream.format("memory")
      .queryName("admit_out").outputMode("append").start()
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      input.addData(first.toIndexedSeq)
      q.processAllAvailable()
      input.addData(second.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("admit_out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(streamed.size == docs.length, "verdict per doc")
      assert(streamed == batch,
        s"stream/batch diverged on ${
          streamed.collect { case (id, a) if batch(id) != a => id }.toSeq.sorted}")
      // the run must actually reject something, or the gate is vacuous
      assert(streamed.valuesIterator.exists(v => !v))
    } finally q.stop()
  }

  test("near-dup admission state survives a query RESTART from its checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = new java.io.File(
      "target/stream_ckpt/admit_restart").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val input = MemoryStream[(Long, String, String)]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[graft.ops.AdmitVerdict]
    def start() = ops.TextOps.neardupAdmit(spark,
        input.toDF().toDF("doc_id", "lang", "text"))
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.ops.AdmitVerdict],
         _: Long) =>
          val rows = batch.collect()
          results.synchronized { results ++= rows }; ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData((1L, "en", text))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the SAME checkpoint: the bucket's signature state
    // must be recovered, or the post-restart dup would be admitted
    val q2 = start()
    try {
      input.addData((2L, "en", text))
      q2.processAllAvailable()
      val got = results.synchronized {
        results.map(v => v.doc_id -> v.admitted).toMap }
      assert(got == Map(1L -> true, 2L -> false),
        s"state lost across restart: $got")
    } finally q2.stop()
  }

  test("near-dup admission: docs too short to shingle are admitted and never enter state") {
    import spark.implicits._
    // two IDENTICAL 2-token docs: no 3-shingle exists, so neither can
    // reject the other — both must come back admitted through the
    // trivial branch (a broken fallback that bucketed empty signatures
    // together would reject doc 2)
    val docs = Seq((1L, "en", "only two"), (2L, "en", "only two"),
      (3L, "en", (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val got = ops.TextOps.neardupAdmit(spark, docs).collect()
      .map(v => v.doc_id -> v.admitted).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> true), s"$got")
  }

  test("admitter bucket cap evicts oldest-first: a dup of an evicted doc re-admits, default stays unbounded") {
    import graft.ops.{TextOps, SigDoc}
    // synthetic signatures, no hashing: X and Z are near-dups (8/8
    // agreement), Y shares X's bucket half (4/8 — same first-4 minima,
    // which is what co-bucketing means) but is no dup of either
    val x = SigDoc(1L, "en", "b", Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
    val y = SigDoc(2L, "en", "b", Seq(1L, 2L, 3L, 4L, 90L, 91L, 92L, 93L))
    val z = SigDoc(3L, "en", "b", Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
    // unbounded (cap=0): Z is rejected as X's dup — remembered forever
    val (unbounded, seen0) = TextOps.admitFold(Seq.empty, Seq(x, y, z), 0)
    assert(unbounded.map(v => v.doc_id -> v.admitted) ==
      Seq(1L -> true, 2L -> true, 3L -> false))
    assert(seen0.size == 3, "unbounded state must retain every arrival")
    // cap=1: Y's arrival evicts X, so Z — X's near-dup — is ADMITTED:
    // the documented recall horizon of the bounded-state mode
    val (capped, seen1) = TextOps.admitFold(Seq.empty, Seq(x, y, z), 1)
    assert(capped.map(v => v.doc_id -> v.admitted) ==
      Seq(1L -> true, 2L -> true, 3L -> true),
      s"eviction did not open the recall horizon: $capped")
    assert(seen1.size == 1, s"cap=1 state grew to ${seen1.size}")
    assert(seen1.head._1 == 3L, "eviction must drop OLDEST first")
    // the conf plumbs through without changing small-corpus semantics:
    // a cap far above any bucket's occupancy reproduces the default
    import spark.implicits._
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, "en", text), (2L, "en", text),
      (3L, "en", (1 to 10).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val default = TextOps.neardupAdmit(spark, docs).collect()
      .map(v => v.doc_id -> v.admitted).toMap
    spark.conf.set("spark.graft.admit.bucketCap", "1000")
    try {
      val cappedRun = TextOps.neardupAdmit(spark, docs).collect()
        .map(v => v.doc_id -> v.admitted).toMap
      assert(cappedRun == default)
      assert(default == Map(1L -> true, 2L -> false, 3L -> true))
    } finally spark.conf.unset("spark.graft.admit.bucketCap")
  }

  test("near-dup admission state survives across micro-batches: batch-2 dup of a batch-1 doc is rejected") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val input = MemoryStream[(Long, String, String)]
    val out = ops.TextOps.neardupAdmit(spark,
      input.toDF().toDF("doc_id", "lang", "text"))
    val q = out.writeStream.format("memory")
      .queryName("admit_state_out").outputMode("append").start()
    try {
      input.addData((1L, "en", text))
      q.processAllAvailable()
      input.addData((2L, "en", text)) // exact dup, later micro-batch
      q.processAllAvailable()
      val rows = spark.table("admit_state_out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(rows == Map(1L -> true, 2L -> false),
        s"cross-batch state broken: $rows")
    } finally q.stop()
  }

  test("replay stream maintains per-game state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Replay.MoveEvent]
    val out = Streaming.replayStream(input.toDS())
    val q = out.writeStream.format("memory")
      .queryName("replay_state").outputMode("update").start()
    try {
      input.addData(
        Replay.MoveEvent(1, 1, "White", "place", "Queen", 0, 0, 0),
        Replay.MoveEvent(1, 2, "Black", "place", "Queen", 100, 0, 1))
      q.processAllAvailable()
      input.addData(
        Replay.MoveEvent(1, 3, "White", "place", "Ant", 1, 0, -1),
        Replay.MoveEvent(1, 4, "White", "place", "Ant", 2, 1, -1)) // reject
      q.processAllAvailable()
      val last = spark.table("replay_state")
        .orderBy(col("n_applied").desc).collect().head
      assert(last.getLong(1) == 3)  // n_applied accumulated across batches
      assert(last.getLong(2) == 1)  // the out-of-turn event rejected
      assert(last.getBoolean(4) && last.getBoolean(5))
    } finally q.stop()
  }

  // ------------------------------------------- snapshot grace / time travel

  private def withKeepEpochs[T](k: Int)(body: => T): T = {
    val prev = spark.conf.getOption("spark.graft.sink.keepEpochs")
    spark.conf.set("spark.graft.sink.keepEpochs", k.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.graft.sink.keepEpochs", v)
      case None => spark.conf.unset("spark.graft.sink.keepEpochs")
    }
  }

  private def epochIds(out: String): Seq[Long] =
    Option(new java.io.File(out).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      .map(_.getName.stripPrefix("epoch=").toLong).sorted

  test("keepEpochs=2: a delete keeps the previous epoch as a live snapshot, the next op retires it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_tt").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 10L),
        (tsv("2024-01-01 11:00:00"), 2L, 20L),
        (tsv("2024-01-02 10:00:00"), 3L, 30L))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    withKeepEpochs(2) {
      val snap = Streaming.compactSink(spark, out, quiesced = true)
      // pin a reader on the snapshot BEFORE the delete: with grace its
      // files must survive the mutation (the r13 overlap window)
      val pinned = Streaming.readSink(spark, out, atEpoch = Some(snap))
        .select("event_id")
      Streaming.deleteWhere(spark, out, col("user_id") === 20L)
      assert(epochIds(out) == Seq(snap, snap + 1),
        s"expected both epochs retained, got ${epochIds(out)}")
      assert(pinned.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L),
        "pinned pre-delete reader lost rows to the delete's rewrite")
      assert(Streaming.readSink(spark, out)
        .select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
      assert(Streaming.readSink(spark, out, atEpoch = Some(snap + 1))
        .select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
      // the NEXT lifecycle op pushes the first snapshot past the depth
      Streaming.deleteWhere(spark, out, col("user_id") === 30L)
      assert(epochIds(out) == Seq(snap + 1, snap + 2),
        s"grace depth not enforced: ${epochIds(out)}")
      val e = intercept[IllegalArgumentException](
        Streaming.readSink(spark, out, atEpoch = Some(snap)))
      assert(e.getMessage.contains("keepEpochs"),
        s"unhelpful time-travel refusal: ${e.getMessage}")
    }
  }

  test("by-reference days resolve transitively across a snapshot chain and materialize on vacuum") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_chain").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L), (tsv("2024-01-01 11:00:00"), 2L),
        (tsv("2024-01-02 10:00:00"), 3L), (tsv("2024-01-02 11:00:00"), 4L),
        (tsv("2024-01-03 10:00:00"), 5L), (tsv("2024-01-03 11:00:00"), 6L))
        .toDF("ts", "event_id"), out, 0L)
    def ids = Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq
    withKeepEpochs(3) {
      Streaming.compactSink(spark, out, quiesced = true) // epoch 0: 3 days
      Streaming.deleteWhere(spark, out, col("event_id") === 1L) // epoch 1
      Streaming.deleteWhere(spark, out, col("event_id") === 3L) // epoch 2
      // epoch 2 rewrote only day 2; day 1 is referenced from epoch 1,
      // day 3 resolves TRANSITIVELY through epoch 1's plan to epoch 0
      assert(!new java.io.File(s"$out/epoch=2/day=2024-01-03").exists(),
        "day 3 was copied instead of shared by reference")
      assert(new java.io.File(s"$out/epoch=0/day=2024-01-03").exists())
      assert(ids == Seq(2L, 4L, 5L, 6L), s"chain resolution broke: $ids")
      // every retained snapshot reads as-of its own commit
      assert(Streaming.readSink(spark, out, atEpoch = Some(0L))
        .select("event_id").as[Long].collect().sorted.toSeq == (1L to 6L))
      assert(Streaming.readSink(spark, out, atEpoch = Some(1L))
        .select("event_id").as[Long].collect().sorted.toSeq ==
        Seq(2L, 3L, 4L, 5L, 6L))
    }
    // lower the depth: vacuum collapses history, materializing the one
    // survivor (day 1 pulled from epoch 1, day 3 from epoch 0)
    val gone = Streaming.vacuumEpochs(spark, out)
    assert(gone == Seq(0L, 1L), s"wrong epochs vacuumed: $gone")
    assert(epochIds(out) == Seq(2L))
    assert(new java.io.File(s"$out/epoch=2/day=2024-01-03").exists(),
      "materialization did not pull the transitively referenced day up")
    assert(!new java.io.File(s"$out/epoch=2/_MERGE_PLAN").exists())
    assert(ids == Seq(2L, 4L, 5L, 6L), s"materialization lost rows: $ids")
  }

  test("snapshot-mode retention mints a retention epoch and keeps the pre-retention snapshot") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_ret_tt").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L), (tsv("2024-01-02 10:00:00"), 2L),
        (tsv("2024-01-03 10:00:00"), 3L))
        .toDF("ts", "event_id"), out, 0L)
    withKeepEpochs(2) {
      val snap = Streaming.compactSink(spark, out, quiesced = true)
      val retired = Streaming.retireDays(spark, out,
        java.sql.Date.valueOf("2024-01-03"))
      assert(retired == Seq("day=2024-01-01", "day=2024-01-02"))
      assert(Streaming.readSink(spark, out)
        .select("event_id").as[Long].collect().toSeq == Seq(3L),
        "retention epoch serves the wrong survivors")
      // time travel still sees the pre-retention table: retention did
      // not touch a single day directory, only the new epoch's plan
      assert(Streaming.readSink(spark, out, atEpoch = Some(snap))
        .select("event_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
      // the retention epoch holds its one surviving day by reference
      assert(epochIds(out) == Seq(snap, snap + 1))
      assert(!new java.io.File(s"$out/epoch=${snap + 1}/day=2024-01-03")
        .exists())
      // a second retention pass finds nothing left to retire
      assert(Streaming.retireDays(spark, out,
        java.sql.Date.valueOf("2024-01-03")).isEmpty)
    }
  }

  test("maintainSink vacuums epochs after a keepEpochs decrease; describeSink reports the depth") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_keep").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 10L),
        (tsv("2024-01-02 10:00:00"), 2L, 20L))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    withKeepEpochs(3) {
      Streaming.compactSink(spark, out, quiesced = true)
      Streaming.deleteWhere(spark, out, col("user_id") === 10L)
      Streaming.upsertBatch(spark, out,
        Seq((tsv("2024-01-02 10:00:00"), 2L, 99L))
          .toDF("ts", "event_id", "user_id"), Seq("event_id"))
      assert(epochIds(out).size == 3)
      val d = Streaming.describeSink(spark, out).collect()(0)
      assert(d.getAs[Long]("epochs_kept") == 3L)
      assert(d.getAs[Long]("oldest_epoch") == 0L)
      assert(d.getAs[String]("last_op") == "upsert")
      // steady state: maintenance has no epochs to vacuum
      assert(Streaming.maintainSink(spark, out, compactAfterBatches = 99,
        quiesced = true).isEmpty)
    }
    // operator lowers the depth: the cron's epoch vacuum collapses it
    val actions = Streaming.maintainSink(spark, out,
      compactAfterBatches = 99, quiesced = true)
    assert(actions == Seq("epochs_vacuumed=2"), s"wrong actions: $actions")
    assert(epochIds(out).size == 1)
    assert(Streaming.readSink(spark, out)
      .select("user_id").as[Long].collect().toSeq == Seq(99L),
      "epoch vacuum changed the current table's content")
  }

  test("listSinkEpochs catalogs retained snapshots with op tags and reference counts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_list").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 10L),
        (tsv("2024-01-02 10:00:00"), 2L, 20L))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    withKeepEpochs(2) {
      Streaming.compactSink(spark, out, quiesced = true)
      Streaming.deleteWhere(spark, out, col("user_id") === 10L)
      val eps = Streaming.listSinkEpochs(spark, out).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3),
          r.getLong(4), r.getBoolean(6)))
      assert(eps.length == 2, s"expected 2 retained epochs: ${eps.toSeq}")
      assert(eps(0) == ((0L, "compact", 2L, 0L, false)),
        s"wrong snapshot row: ${eps(0)}")
      // the delete EMPTIED day 1 (its only row matched, so the day was
      // legitimately not written) and references day 2 from the
      // snapshot below — 0 physical, 1 referenced, current
      assert(eps(1) == ((1L, "delete", 0L, 1L, true)),
        s"wrong current row: ${eps(1)}")
      // an epoch with ZERO physical days and a plan still serves its
      // referenced days (the pre-round-14 reader silently dropped them
      // when roll-forward was unavailable)
      assert(Streaming.readSink(spark, out)
        .select("event_id").as[Long].collect().toSeq == Seq(2L))
    }
  }

  test("a crash mid-materialization is finished by the next vacuum, losslessly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_midmat").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 10L),
        (tsv("2024-01-02 10:00:00"), 2L, 20L),
        (tsv("2024-01-03 10:00:00"), 3L, 30L))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    withKeepEpochs(2) {
      Streaming.compactSink(spark, out, quiesced = true) // epoch 0
      Streaming.deleteWhere(spark, out, col("user_id") === 10L) // epoch 1
      // simulate a vacuum that died mid-materialize: ONE of epoch 1's
      // referenced days already moved in, the plan still present, the
      // source epoch still on disk
      assert(new java.io.File(s"$out/epoch=0/day=2024-01-02")
        .renameTo(new java.io.File(s"$out/epoch=1/day=2024-01-02")))
    }
    // next vacuum at depth 1: re-derives the remaining moves from the
    // plan (idempotent), finishes, retires epoch 0
    val gone = Streaming.vacuumEpochs(spark, out)
    assert(gone == Seq(0L), s"wrong epochs vacuumed: $gone")
    assert(!new java.io.File(s"$out/epoch=1/_MERGE_PLAN").exists())
    assert(Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq == Seq(2L, 3L),
      "mid-materialization recovery lost rows")
  }

  test("readSink atEpoch refuses an unknown or uncommitted epoch loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_at").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L)).toDF("ts", "event_id"), out, 0L)
    Streaming.compactSink(spark, out, quiesced = true)
    val e = intercept[IllegalArgumentException](
      Streaming.readSink(spark, out, atEpoch = Some(42L)))
    assert(e.getMessage.contains("retained: [0]"),
      s"refusal should list what IS retained: ${e.getMessage}")
  }

  test("a sink column literally named __cdc_ref refuses at data-bearing manifest emission; the internal ref manifest stays exempt") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_cdcref").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "user-data"),
        (tsv("2024-01-02 10:00:00"), 2L, "more"))
        .toDF("ts", "event_id", "__cdc_ref"), out, 0L)
    val prev = spark.conf.getOption("spark.graft.sink.changeFiles")
    spark.conf.set("spark.graft.sink.changeFiles", "true")
    try {
      // the ingest compaction's BY-REFERENCE manifest carries only the
      // two bookkeeping columns - no clash with the sink's own column,
      // the ingest proceeds
      Streaming.compactSink(spark, out, quiesced = true)
      // a DATA-BEARING manifest (delete pre-images) would carry the
      // user column, and readEpochChanges would then resolve its
      // VALUES as consumed-batch directory names (phantom rows, or a
      // silent O(table) degrade) - emission must refuse loudly instead
      val e = intercept[IllegalArgumentException](
        Streaming.deleteWhere(spark, out, col("event_id") === 1L))
      assert(e.getMessage.contains("__cdc"), e.getMessage)
    } finally prev.fold(spark.conf.unset("spark.graft.sink.changeFiles"))(
      v => spark.conf.set("spark.graft.sink.changeFiles", v))
  }

  test("epoch_bytes counts data days only: by-reference change batches do not inflate it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_ebytes").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      (1L to 200L).map(i => (tsv(s"2024-01-0${i % 3 + 1} 10:00:00"), i))
        .toDF("ts", "event_id"), out, 0L)
    val prev = spark.conf.getOption("spark.graft.sink.changeFiles")
    spark.conf.set("spark.graft.sink.changeFiles", "true")
    try Streaming.compactSink(spark, out, quiesced = true)
    finally prev.fold(spark.conf.unset("spark.graft.sink.changeFiles"))(
      v => spark.conf.set("spark.graft.sink.changeFiles", v))
    val f = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val eDir = new org.apache.hadoop.fs.Path(s"$out/epoch=0")
    assert(f.exists(new org.apache.hadoop.fs.Path(eDir,
      "_changes_ref/batch_id=0")), "precondition: the consumed batch " +
      "should live under the epoch by reference")
    val daySum = f.listStatus(eDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      .map(s => f.getContentSummary(s.getPath).getLength).sum
    val whole = f.getContentSummary(eDir).getLength
    val d = Streaming.describeSink(spark, out).collect()(0)
    assert(d.getAs[Long]("epoch_bytes") == daySum && daySum > 0L)
    assert(whole > daySum,
      "precondition lost: the ref batch no longer inflates the raw " +
        "dir summary, so this test pins nothing")
  }

  test("applyBatch fuses delete + merge into ONE atomic epoch identical to the two-op pair") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_apply").toString
    def seed(out: String): Unit = {
      Streaming.writeBatchIdempotent(
        Seq((tsv("2024-01-01 10:00:00"), 1L, "a"),
          (tsv("2024-01-01 11:00:00"), 2L, "b"),
          (tsv("2024-01-02 10:00:00"), 3L, "c"),
          (tsv("2024-01-03 10:00:00"), 4L, "d"))
          .toDF("ts", "event_id", "event_type"), out, 0L)
      assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    }
    val fused = s"$root/fused"
    val pair = s"$root/pair"
    seed(fused); seed(pair)
    val day3Files = listNames(s"$fused/epoch=0/day=2024-01-03", "part-")
    val dels = Seq(2L).toDF("event_id")
    val batch = Seq((tsv("2024-01-01 10:00:00"), 1L, "a2"),
      (tsv("2024-01-04 09:00:00"), 9L, "new"))
      .toDF("ts", "event_id", "event_type")
    assert(Streaming.applyBatch(spark, fused, dels, batch,
      Seq("event_id")) == 1L)
    Streaming.deleteKeys(spark, pair, dels, Seq("event_id"))
    Streaming.upsertBatch(spark, pair, batch, Seq("event_id"))
    // ONE epoch where the pair minted two; no live batch dir leaked
    assert(listNames(fused, "epoch=") == Seq("epoch=1"),
      "the fused apply should mint exactly one epoch")
    assert(listNames(pair, "epoch=") == Seq("epoch=2"))
    assert(listNames(fused, "batch_id=").isEmpty)
    def rows(p: String) = Streaming.readSink(spark, p)
      .select("event_id", "event_type").as[(Long, String)]
      .collect().sorted.toSeq
    assert(rows(fused) == rows(pair),
      s"fused ${rows(fused)} != pair ${rows(pair)}")
    assert(rows(fused) ==
      Seq((1L, "a2"), (3L, "c"), (4L, "d"), (9L, "new")))
    // the day with neither a matching key nor an insert MOVED: the
    // fused apply keeps the O(affected days) cost shape
    assert(listNames(s"$fused/epoch=1/day=2024-01-03", "part-") == day3Files,
      "day without matching keys or inserts was rewritten, not moved")
    assert(Streaming.describeSink(spark, fused).collect()(0)
      .getAs[String]("last_op") == "apply")
  }

  test("applyBatch: overlap keys net to the batch row, the manifest classifies per kind, a no-match pure delete mints nothing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_applycdc").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "a"),
        (tsv("2024-01-01 11:00:00"), 2L, "b"),
        (tsv("2024-01-02 10:00:00"), 3L, "c"),
        (tsv("2024-01-03 10:00:00"), 4L, "d"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    val prev = spark.conf.getOption("spark.graft.sink.changeFiles")
    spark.conf.set("spark.graft.sink.changeFiles", "true")
    try {
      Streaming.compactSink(spark, out, quiesced = true)
      // delete keys 2 and 3; the batch RE-KEYS 3 in the same cycle
      // (delete+upsert overlap) and updates 1, inserts 9
      val dels = Seq(2L, 3L).toDF("event_id")
      val batch = Seq((tsv("2024-01-01 10:00:00"), 1L, "a2"),
        (tsv("2024-01-02 10:00:00"), 3L, "c2"),
        (tsv("2024-01-04 09:00:00"), 9L, "new"))
        .toDF("ts", "event_id", "event_type")
      assert(Streaming.applyBatch(spark, out, dels, batch,
        Seq("event_id")) == 1L)
      val got = Streaming.readSink(spark, out)
        .select("event_id", "event_type").as[(Long, String)]
        .collect().sorted.toSeq
      // key 3 survives WITH the batch's row: the post-state wins
      assert(got == Seq((1L, "a2"), (3L, "c2"), (4L, "d"), (9L, "new")),
        s"overlap semantics wrong: $got")
      // manifest kinds: 2 deleted (pre-image), 1 and 3 updated
      // (pre+post), 9 inserted — the overlap key 3 is update, NOT
      // delete (its removal-and-replacement is one change)
      val man = spark.read.parquet(s"$out/epoch=1/_changes")
        .select(col("event_id").as[Long], col("__cdc_kind").as[String])
        .collect().sorted.toSeq
      assert(man == Seq((1L, "update_post"), (1L, "update_pre"),
        (2L, "delete"), (3L, "update_post"), (3L, "update_pre"),
        (9L, "insert")), s"manifest kinds wrong: $man")
      // pure-delete apply (empty batch): one more epoch, key 4 gone
      assert(Streaming.applyBatch(spark, out, Seq(4L).toDF("event_id"),
        batch.limit(0), Seq("event_id")) == 2L)
      assert(Streaming.readSink(spark, out).filter(col("event_id") === 4L)
        .isEmpty)
      // a pure delete matching NOTHING mints no epoch
      assert(Streaming.applyBatch(spark, out, Seq(777L).toDF("event_id"),
        batch.limit(0), Seq("event_id")) == 2L)
      assert(listNames(out, "epoch=").lastOption.contains("epoch=2"),
        "a no-match pure-delete apply minted an epoch")
    } finally prev.fold(spark.conf.unset("spark.graft.sink.changeFiles"))(
      v => spark.conf.set("spark.graft.sink.changeFiles", v))
  }

  test("updateWhere transforms exactly the matching rows in place, SETs read pre-images, and untouched days MOVE") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_update").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 7L, 10L, 100L),
        (tsv("2024-01-01 11:00:00"), 2L, 8L, 20L, 200L),
        (tsv("2024-01-02 10:00:00"), 3L, 9L, 30L, 300L),
        (tsv("2024-01-03 09:00:00"), 4L, 7L, 40L, 400L))
        .toDF("ts", "event_id", "user_id", "a", "b"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    val day2Files = listNames(s"$out/epoch=0/day=2024-01-02", "part-")
    // SET a = b, b = a must SWAP (simultaneous assignment, every SET
    // reading the pre-image) — sequential assignment would collapse
    // both columns to the original b
    assert(Streaming.updateWhere(spark, out, col("user_id") === 7L,
      Seq("a" -> col("b"), "b" -> col("a"))) == 1L)
    assert(listNames(out, "epoch=") == Seq("epoch=1"),
      "update did not retire the source epoch")
    val got = Streaming.readSink(spark, out)
      .select("event_id", "a", "b").as[(Long, Long, Long)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, 100L, 10L), (2L, 20L, 200L), (3L, 30L, 300L),
      (4L, 400L, 40L)), s"wrong post-update rows: $got")
    // the unaffected day MOVED (same part-file names — a rewrite would
    // mint fresh UUIDs): update cost is O(affected days), not O(table)
    assert(listNames(s"$out/epoch=1/day=2024-01-02", "part-") == day2Files,
      "day without matching rows was rewritten, not moved")
  }

  test("updateWhere is null-safe, a no-match update mints no epoch, and every SET rail refuses loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_updrails").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, java.lang.Long.valueOf(7L), 10L),
        (tsv("2024-01-01 11:00:00"), 2L,
          null.asInstanceOf[java.lang.Long], 20L))
        .toDF("ts", "event_id", "user_id", "v"), out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    // user_id IS NULL → predicate NULL → row untouched (SQL UPDATE
    // touches only rows where the predicate is TRUE)
    assert(Streaming.updateWhere(spark, out, col("user_id") === 7L,
      Seq("v" -> (col("v") + 1L))) == 1L)
    val got = Streaming.readSink(spark, out).select("event_id", "v")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 11L), (2L, 20L)),
      s"null-predicate row was touched: $got")
    // nothing matches: no epoch may be minted
    assert(Streaming.updateWhere(spark, out, col("user_id") === 99L,
      Seq("v" -> (col("v") + 1L))) == 1L)
    assert(listNames(out, "epoch=") == Seq("epoch=1"),
      "a no-match update minted an epoch")
    def refuse(sets: Seq[(String, org.apache.spark.sql.Column)],
        frag: String,
        pred: org.apache.spark.sql.Column = col("user_id") === 99L): Unit =
      withClue(s"rail '$frag':") {
        val e = intercept[IllegalArgumentException](
          Streaming.updateWhere(spark, out, pred, sets))
        assert(e.getMessage.contains(frag), e.getMessage)
      }
    refuse(Nil, "at least one SET")
    refuse(Seq("v" -> col("v"), "v" -> (col("v") + 1L)), "more than once")
    refuse(Seq("ts" -> col("ts")), "re-dating")
    refuse(Seq("day" -> lit("2024-01-05")), "re-dating")
    // a misspelled or type-changing SET must refuse even when NOTHING
    // matches the predicate — silently no-opping would be worse. The
    // type rail keys on the RESOLVED type of the guarded projection
    // (a double on a bigint column widens the CASE's common type and
    // refuses; a castable string literal coerces under ANSI and is
    // legitimately fine)
    refuse(Seq("nope" -> lit(1L)), "absent from the sink")
    refuse(Seq("v" -> lit(1.5d)), "change the column type")
    // a consumable live batch is refused like the other row-level ops
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-04 10:00:00"), 9L, java.lang.Long.valueOf(7L), 90L))
        .toDF("ts", "event_id", "user_id", "v"), out, 2L)
    refuse(Seq("v" -> (col("v") + 1L)), "quiesced compaction",
      col("user_id") === 7L)
    // a never-compacted sink has no schema to validate SETs against:
    // the op no-ops like deleteWhere (returns -1, mints nothing) —
    // the documented limit of the even-when-nothing-matches rail
    val bare = s"${java.nio.file.Files.createTempDirectory("sink_updbare")}/ev"
    assert(Streaming.updateWhere(spark, bare, col("user_id") === 7L,
      Seq("nope" -> lit(1L))) == -1L)
  }

  test("updateWhere CDC manifest records update_pre/update_post image pairs and feeds the classified diff") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_updcdc").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 7L, 10L),
        (tsv("2024-01-01 11:00:00"), 2L, 8L, 20L))
        .toDF("ts", "event_id", "user_id", "v"), out, 0L)
    val prev = spark.conf.getOption("spark.graft.sink.changeFiles")
    spark.conf.set("spark.graft.sink.changeFiles", "true")
    try withKeepEpochs(3) {
      Streaming.compactSink(spark, out, quiesced = true)
      Streaming.updateWhere(spark, out, col("user_id") === 7L,
        Seq("v" -> (col("v") * 5L)))
      val man = spark.read.parquet(s"$out/epoch=1/_changes")
        .select(col("event_id").as[Long], col("__cdc_kind").as[String],
          col("v").as[Long]).collect().sorted.toSeq
      assert(man == Seq((1L, "update_post", 50L), (1L, "update_pre", 10L)),
        s"manifest image pair wrong: $man")
      // the classified diff consumes the manifest: kind update, with
      // the post-image — an update is one change, not delete+insert
      val got = SnapshotDiff.readSinkChanges(spark, out, 0L, 1L,
        Seq("event_id"), Seq("v")).collect()
        .map(r => r.getLong(1) -> (r.getString(0), r.getLong(2))).toMap
      assert(got == Map(1L -> (("update", 50L))), s"diff wrong: $got")
    } finally prev.fold(spark.conf.unset("spark.graft.sink.changeFiles"))(
      v => spark.conf.set("spark.graft.sink.changeFiles", v))
  }

  test("an ingest compaction's gapped epoch id still records a strictly-later mint") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_mintgap").toString
    val out = s"$root/events"
    val f = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two committed batches fold into epoch 1 DIRECTLY (the epoch id
    // jumps to the consumed batch counter; epoch 0 never exists) — the
    // mint clamp must key on the SUPERSEDED epoch the caller names,
    // never on id-1, which here names nothing (the strict marker read
    // would refuse the commit outright, as it briefly did in review)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L)).toDF("ts", "event_id"), out, 0L)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-02 10:00:00"), 2L)).toDF("ts", "event_id"), out, 1L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
    val m1 = CommitLog.lenient(Streaming.epochMarker(f, out, 1L).flatMap(_.mintMs))
    assert(m1.isDefined, "gapped first epoch lacks a mint record")
    // a follow-up gapped compaction (batch 2 -> epoch 2) clamps
    // strictly past the superseded epoch's mint
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-03 10:00:00"), 3L)).toDF("ts", "event_id"), out, 2L)
    assert(Streaming.compactSink(spark, out, quiesced = true) == 2L)
    val m2 = CommitLog.lenient(Streaming.epochMarker(f, out, 2L).flatMap(_.mintMs))
    assert(m2.isDefined && m2.get > m1.get,
      s"mint not strictly increasing across gapped ids: $m1 -> $m2")
  }

  test("readSinkAsOf resolves mint boundaries exactly and refuses pre-horizon and pre-record times") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_asof").toString
    val out = s"$root/events"
    val f = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 7L),
        (tsv("2024-01-02 10:00:00"), 2L, 8L))
        .toDF("ts", "event_id", "user_id"), out, 0L)
    withKeepEpochs(3) {
      Streaming.compactSink(spark, out, quiesced = true)
      Streaming.deleteWhere(spark, out, col("user_id") === 7L)
      Streaming.updateWhere(spark, out, col("user_id") === 8L,
        Seq("event_id" -> (col("event_id") + 100L)))
      // mint records are STRICTLY increasing even when ops land within
      // one clock millisecond (the commit clamps to prev + 1)
      val Seq(t0, t1, t2) = (0L to 2L).map(e =>
        CommitLog.lenient(Streaming.epochMarker(f, out, e).flatMap(_.mintMs))
          .getOrElse(
          fail(s"epoch $e lacks a mint record")))
      assert(t0 < t1 && t1 < t2, s"mint not strictly increasing: $t0 $t1 $t2")
      def ids(ts: Long): Seq[Long] =
        Streaming.readSinkAsOf(spark, out, ts)
          .select("event_id").as[Long].collect().toSeq.sorted
      // boundary-INCLUSIVE at a snapshot's own mint instant...
      assert(ids(t0) == Seq(1L, 2L), "epoch 0 current at its own mint")
      assert(ids(t1) == Seq(2L), "epoch 1 current at its own mint")
      // ...boundary-EXCLUSIVE just before the next one's
      assert(ids(t1 - 1) == Seq(1L, 2L), "epoch 0 serves inside [t0, t1)")
      assert(ids(t2 - 1) == Seq(2L), "epoch 1 serves inside [t1, t2)")
      // a future time resolves to the newest snapshot
      assert(ids(t2 + 3600000L) == Seq(102L))
      // pre-horizon: history before the oldest retained mint is gone
      val e1 = intercept[IllegalArgumentException](
        Streaming.readSinkAsOf(spark, out, t0 - 1))
      assert(e1.getMessage.contains("retention horizon"), e1.getMessage)
      // a legacy OLDEST marker (no mint line — the upgraded-mid-history
      // sink) leaves every time at or past the oldest RECORDED mint
      // exactly resolvable; only times below it are ambiguous
      val mpath = java.nio.file.Path.of(s"$out/epoch=0/_EPOCH_COMMIT")
      val withMint = java.nio.file.Files.readString(mpath)
      val legacy = withMint.linesIterator
        .filterNot(_.startsWith("mint_ms=")).mkString("\n")
      java.nio.file.Files.writeString(mpath, legacy)
      assert(ids(t2) == Seq(102L),
        "post-upgrade instants must resolve despite legacy history")
      assert(ids(t1) == Seq(2L))
      val e2 = intercept[IllegalArgumentException](
        Streaming.readSinkAsOf(spark, out, t1 - 1))
      assert(e2.getMessage.contains("pre-record"), e2.getMessage)
      // the epoch-id path still serves the legacy snapshot (the
      // refusal message's escape hatch actually works)
      assert(Streaming.readSink(spark, out, atEpoch = Some(0L))
        .select("event_id").as[Long].collect().toSeq.sorted ==
        Seq(1L, 2L))
      // a mint-less epoch NEWER than recorded history (corruption, not
      // legacy) refuses every resolution — a recorded-only answer
      // could silently skip the true snapshot
      java.nio.file.Files.writeString(mpath, withMint)
      val m2 = java.nio.file.Path.of(s"$out/epoch=2/_EPOCH_COMMIT")
      java.nio.file.Files.writeString(m2,
        java.nio.file.Files.readString(m2).linesIterator
          .filterNot(_.startsWith("mint_ms=")).mkString("\n"))
      val e3 = intercept[IllegalArgumentException](
        Streaming.readSinkAsOf(spark, out, t2))
      assert(e3.getMessage.contains("newer than recorded"), e3.getMessage)
    }
  }

  // ------------------------------------------------------- restore

  test("restore rebuilds a retained snapshot as hard links and survives the link source's retirement") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_restore").toString
    val out = s"$root/events"
    val f = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L), (tsv("2024-01-01 11:00:00"), 2L),
        (tsv("2024-01-02 10:00:00"), 3L), (tsv("2024-01-03 10:00:00"), 4L))
        .toDF("ts", "event_id"), out, 0L)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("event_id").as[Long].collect().sorted.toSeq
    withKeepEpochs(2) {
      val snap = Streaming.compactSink(spark, out, quiesced = true)
      // the delete empties day 2 entirely: the restore must bring the
      // WHOLE day directory back, not just rows into surviving days
      Streaming.deleteWhere(spark, out, col("event_id") === 3L)
      assert(Streaming.restoreSink(spark, out, snap) == snap + 2)
      // K=2 retired the link SOURCE the moment the restore committed...
      assert(epochIds(out) == Seq(snap + 1, snap + 2),
        s"retention depth not enforced across the restore: ${epochIds(out)}")
      // ...and the restored view still serves the full pre-delete table
      // (the inodes outlive epoch 0's directory entries)
      assert(ids(Streaming.readSink(spark, out)) == Seq(1L, 2L, 3L, 4L))
      // the reverted epoch is untouched history, readable as-of
      assert(ids(Streaming.readSink(spark, out, atEpoch = Some(snap + 1)))
        == Seq(1L, 2L, 4L))
      // untouched days are genuinely SHARED: the restored epoch and the
      // materialized intermediate hold the same inode (no data copied)
      val shared = new java.io.File(s"$out/epoch=${snap + 2}/day=2024-01-01")
        .listFiles().filter(_.getName.startsWith("part-"))
      assert(shared.nonEmpty && shared.forall(p =>
        java.nio.file.Files.getAttribute(p.toPath, "unix:nlink")
          .asInstanceOf[Number].intValue() >= 2),
        "restored day files are copies, not hard links")
      // the restore minted strictly after the epoch it superseded
      val Seq(m1, m2) = Seq(snap + 1, snap + 2).map(e =>
        CommitLog.lenient(Streaming.epochMarker(f, out, e).flatMap(_.mintMs))
          .getOrElse(
          fail(s"epoch $e lacks a mint record")))
      assert(m1 < m2, s"restore mint not strictly increasing: $m1 -> $m2")
      assert(Streaming.describeSink(spark, out).collect()(0)
        .getAs[String]("last_op") == "restore")
    }
  }

  test("restore refuses a vacuumed target, live consumable batches, and no-ops on the present") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_restore_rails")
      .toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L), (tsv("2024-01-02 10:00:00"), 2L))
        .toDF("ts", "event_id"), out, 0L)
    withKeepEpochs(2) {
      val snap = Streaming.compactSink(spark, out, quiesced = true)
      // restoring to the present mints nothing
      assert(Streaming.restoreSink(spark, out, snap) == snap)
      assert(epochIds(out) == Seq(snap))
      // an id that was never committed refuses with the retained list
      val e1 = intercept[IllegalArgumentException](
        Streaming.restoreSink(spark, out, snap + 7))
      assert(e1.getMessage.contains("not a committed retained epoch"),
        e1.getMessage)
      // push the first snapshot past the grace depth, then ask for it
      Streaming.deleteWhere(spark, out, col("event_id") === 1L)
      Streaming.deleteWhere(spark, out, col("event_id") === 2L)
      assert(epochIds(out) == Seq(snap + 1, snap + 2))
      val e2 = intercept[IllegalArgumentException](
        Streaming.restoreSink(spark, out, snap))
      assert(e2.getMessage.contains("keepEpochs"),
        s"unhelpful vacuumed-target refusal: ${e2.getMessage}")
      // a committed live batch holds rows no epoch represents: a
      // restore would silently discard them - refuse, like every
      // row-level rewrite
      Streaming.writeBatchIdempotent(
        Seq((tsv("2024-01-04 10:00:00"), 9L)).toDF("ts", "event_id"), out, 1L)
      val e3 = intercept[IllegalArgumentException](
        Streaming.restoreSink(spark, out, snap + 1))
      assert(e3.getMessage.contains("quiesced"), e3.getMessage)
    }
  }

  test("restore refuses a gutted epoch lingering past the grace depth instead of minting a truncated snapshot") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_restore_gut")
      .toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L), (tsv("2024-01-02 10:00:00"), 2L),
        (tsv("2024-01-03 10:00:00"), 3L)).toDF("ts", "event_id"), out, 0L)
    val snap = withKeepEpochs(2) {
      val s = Streaming.compactSink(spark, out, quiesced = true)
      // the delete leaves days 1 and 3 owed BY REFERENCE from epoch 0
      Streaming.deleteWhere(spark, out, col("event_id") === 2L)
      s
    }
    // back in classic mode, the next maintenance op's settle pass rolls
    // the plan forward: days 1 and 3 rename OUT of epoch 0, whose
    // commit marker still exists - the exact state where a marker-only
    // rail would hard-link a truncated snapshot and then DELETE the
    // moved days' last copies at the retire step. The depth bound must
    // refuse it.
    val e = intercept[IllegalArgumentException](
      Streaming.restoreSink(spark, out, snap))
    assert(e.getMessage.contains("within the grace depth"), e.getMessage)
    assert(new java.io.File(s"$out/epoch=$snap/_EPOCH_COMMIT").exists(),
      "precondition lost: the gutted epoch no longer lingers committed, " +
        "so this test pins nothing")
    assert(!new java.io.File(s"$out/epoch=$snap/day=2024-01-01").exists(),
      "precondition lost: the settle pass no longer guts the lingering " +
        "epoch, so this test pins nothing")
    // and the table itself is untouched by the refusal
    assert(Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("restore records O(changed-days) CDC churn and a mutation+restore range nets to silence") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_restore_cdc")
      .toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "a"),
        (tsv("2024-01-01 11:00:00"), 2L, "b"),
        (tsv("2024-01-02 10:00:00"), 3L, "c"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    val prev = spark.conf.getOption("spark.graft.sink.changeFiles")
    spark.conf.set("spark.graft.sink.changeFiles", "true")
    try withKeepEpochs(3) {
      val e0 = Streaming.compactSink(spark, out, quiesced = true)
      // the upsert touches day 1 (modify id 2) and day 3 (insert id 4);
      // day 2 rides by reference
      Streaming.upsertBatch(spark, out,
        Seq((tsv("2024-01-01 11:00:00"), 2L, "B"),
          (tsv("2024-01-03 10:00:00"), 4L, "d"))
          .toDF("ts", "event_id", "event_type"), Seq("event_id"))
      val e2 = Streaming.restoreSink(spark, out, e0)
      // the restore's own manifest: the upsert's insert reverts to a
      // delete, its update to a delete(post)+insert(pre) pair - and
      // NOTHING from the shared day 2 (path identity pruned it unread)
      val manifest = spark.read
        .parquet(s"$out/epoch=$e2/_changes")
        .select(col("event_id"), col("event_type"), col("__cdc_kind"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      assert(manifest == Set((2L, "B", "delete"), (4L, "d", "delete"),
        (2L, "b", "insert")), s"wrong restore churn: $manifest")
      // consumed downstream, the pair folds exactly like an update...
      val reverted = SnapshotDiff.readSinkChanges(spark, out,
        e2 - 1, e2, Seq("event_id"), Seq("event_type"))
      assert(reverted.inputFiles.forall(_.contains("/_changes")),
        "restore diff fell back to the snapshot join")
      val rv = reverted.select("change", "event_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rv == Set(("update", 2L), ("delete", 4L)),
        s"wrong folded restore diff: $rv")
      // ...and a range SPANNING the mutation and its restore is the
      // identity: the change-file fold nets every key to silence
      val netted = SnapshotDiff.readSinkChanges(spark, out,
        e0, e2, Seq("event_id"), Seq("event_type"))
      assert(netted.inputFiles.forall(_.contains("/_changes")),
        "net-zero range fell back to the snapshot join")
      assert(netted.count() == 0L,
        "delete-compose-restore did not net to an empty diff")
      // a restore of content the sink ALREADY holds records zero churn
      // (by VALUE - the restored epoch's relinked days defeat the path
      // identity check, so this pins the exceptAll cancelling)
      val e3 = Streaming.restoreSink(spark, out, e0)
      assert(e3 == e2 + 1)
      val zero = SnapshotDiff.readSinkChanges(spark, out,
        e2, e3, Seq("event_id"), Seq("event_type"))
      assert(zero.inputFiles.forall(_.contains("/_changes")) &&
        zero.count() == 0L,
        "content-identical restore recorded phantom churn")
    } finally prev.fold(spark.conf.unset("spark.graft.sink.changeFiles"))(
      v => spark.conf.set("spark.graft.sink.changeFiles", v))
  }

  // ------------------------------------------------ CHECK constraints

  private def withSinkConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sink checks: declare/list/drop rails, and add validates existing rows Delta-style") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_checks").toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"),
        (tsv("2024-01-01 11:00:00"), 2L, "purchase"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    Streaming.compactSink(spark, out, quiesced = true)
    // existing data violates: the add must refuse with the count
    val e1 = intercept[IllegalArgumentException](
      Streaming.addSinkCheck(spark, out, "no_purchases",
        "event_type <> 'purchase'"))
    assert(e1.getMessage.contains("1 existing row(s)"), e1.getMessage)
    // a satisfied predicate declares fine
    Streaming.addSinkCheck(spark, out, "positive_ids", "event_id > 0")
    val listed = Streaming.listSinkChecks(spark, out).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(listed == Seq(("positive_ids", "event_id > 0")))
    val e2 = intercept[IllegalArgumentException](
      Streaming.addSinkCheck(spark, out, "positive_ids", "event_id > 1"))
    assert(e2.getMessage.contains("already declared"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Streaming.addSinkCheck(spark, out, "broken", "event_id >>> ("))
    assert(e3.getMessage.contains("does not parse"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      Streaming.dropSinkCheck(spark, out, "nope"))
    assert(e4.getMessage.contains("positive_ids"), e4.getMessage)
    Streaming.dropSinkCheck(spark, out, "positive_ids")
    assert(Streaming.listSinkChecks(spark, out).isEmpty)
  }

  test("refuse mode: a violating fold aborts with per-check counts and the batches stay consumable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_refuse").toString
    val out = s"$root/events"
    // declared before any epoch exists: parse-only at add time
    Streaming.addSinkCheck(spark, out, "no_purchases",
      "event_type <> 'purchase'")
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"),
        (tsv("2024-01-02 10:00:00"), 2L, "purchase"),
        (tsv("2024-01-02 11:00:00"), 3L, "purchase"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    val e = intercept[IllegalArgumentException](
      Streaming.compactSink(spark, out, quiesced = true))
    assert(e.getMessage.contains("no_purchases: 2"), e.getMessage)
    // nothing was consumed or minted: the batch is intact and a
    // rectified gate folds it
    assert(new java.io.File(s"$out/batch_id=0/_BATCH_COMMIT").exists(),
      "the refused fold consumed its batch")
    assert(epochIds(out).isEmpty, "the refused fold minted an epoch")
    Streaming.dropSinkCheck(spark, out, "no_purchases")
    assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
    assert(Streaming.readSink(spark, out).count() == 3L)
  }

  test("quarantine mode: the fold splits row-exactly, tags every failing check, and the CDC manifest copies admitted rows only") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_quar").toString
    val out = s"$root/events"
    Streaming.addSinkCheck(spark, out, "no_purchases",
      "event_type <> 'purchase'")
    Streaming.addSinkCheck(spark, out, "value_nonneg", "value >= 0")
    Streaming.writeBatchIdempotent(
      Seq(
        (tsv("2024-01-01 10:00:00"), 1L, Some("click"), Some(1.0)),
        (tsv("2024-01-01 11:00:00"), 2L, Some("purchase"), Some(2.0)),
        (tsv("2024-01-02 10:00:00"), 3L, Some("purchase"), Some(-1.0)),
        // NULL predicates PASS a SQL CHECK: both stay clean
        (tsv("2024-01-02 11:00:00"), 4L, Some("click"), None),
        (tsv("2024-01-03 10:00:00"), 5L, None, Some(5.0)))
        .toDF("ts", "event_id", "event_type", "value"), out, 0L)
    withSinkConf("spark.graft.sink.checkMode" -> "quarantine",
      "spark.graft.sink.changeFiles" -> "true") {
      Streaming.compactSink(spark, out, quiesced = true)
    }
    assert(Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 5L))
    val quar = Streaming.readSinkQuarantine(spark, out)
      .select(col("event_id"), col("__check_failed"),
        col("__quarantine_epoch"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(quar == Set((2L, "no_purchases", 0L),
      (3L, "no_purchases,value_nonneg", 0L)), s"wrong quarantine: $quar")
    // the churn manifest must record the ADMITTED rows by copy - a
    // by-reference manifest would resolve the batch dir and serve the
    // quarantined rows as phantom inserts
    val manifest = spark.read.parquet(s"$out/epoch=0/_changes")
    assert(!manifest.columns.contains("__cdc_ref"),
      "a quarantined fold recorded its churn by reference")
    assert(manifest.select("event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 4L, 5L))
  }

  test("the quarantine feed carries forward by link, survives retirement, and drains through the cursor") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_drain").toString
    val out = s"$root/events"
    Streaming.addSinkCheck(spark, out, "no_purchases",
      "event_type <> 'purchase'")
    withSinkConf("spark.graft.sink.checkMode" -> "quarantine") {
      Streaming.writeBatchIdempotent(
        Seq((tsv("2024-01-01 10:00:00"), 1L, "click"),
          (tsv("2024-01-01 11:00:00"), 2L, "purchase"))
          .toDF("ts", "event_id", "event_type"), out, 0L)
      Streaming.compactSink(spark, out, quiesced = true)
      Streaming.writeBatchIdempotent(
        Seq((tsv("2024-01-02 10:00:00"), 3L, "click"),
          (tsv("2024-01-02 11:00:00"), 4L, "purchase"))
          .toDF("ts", "event_id", "event_type"), out, 1L)
      Streaming.compactSink(spark, out, quiesced = true)
    }
    // epoch 0 is retired (keepEpochs default 1), but its quarantined
    // row survives through the carried hard links
    assert(epochIds(out) == Seq(1L))
    def feed = Streaming.readSinkQuarantine(spark, out)
      .select(col("event_id"), col("__quarantine_epoch"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(feed == Set((2L, 0L), (4L, 1L)), s"wrong feed: $feed")
    // drain through origin 0: the older generation clears, the newer
    // stays, and a later mint carries the DRAINED state forward
    assert(Streaming.clearSinkQuarantine(spark, out, 0L) == Seq(0L))
    assert(feed == Set((4L, 1L)), s"drain did not stick: $feed")
    withSinkConf("spark.graft.sink.checkMode" -> "quarantine") {
      Streaming.writeBatchIdempotent(
        Seq((tsv("2024-01-03 10:00:00"), 5L, "click"))
          .toDF("ts", "event_id", "event_type"), out, 2L)
      Streaming.compactSink(spark, out, quiesced = true)
    }
    assert(feed == Set((4L, 1L)),
      "a later mint resurrected a drained quarantine generation")
    assert(Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 5L))
  }

  test("merge batches gate through the checks: refuse aborts; quarantine diverts WITHOUT deleting the old row") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_mergechk")
      .toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"),
        (tsv("2024-01-02 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    Streaming.compactSink(spark, out, quiesced = true)
    Streaming.addSinkCheck(spark, out, "no_purchases",
      "event_type <> 'purchase'")
    val bad = Seq((tsv("2024-01-01 10:00:00"), 1L, "purchase"))
      .toDF("ts", "event_id", "event_type")
    val e = intercept[IllegalArgumentException](
      Streaming.upsertBatch(spark, out, bad, Seq("event_id")))
    assert(e.getMessage.contains("no_purchases: 1"), e.getMessage)
    assert(Streaming.readSink(spark, out).count() == 2L,
      "the refused upsert mutated the sink")
    withSinkConf("spark.graft.sink.checkMode" -> "quarantine") {
      Streaming.upsertBatch(spark, out,
        Seq((tsv("2024-01-01 10:00:00"), 1L, "purchase"),
          (tsv("2024-01-03 10:00:00"), 3L, "click"))
          .toDF("ts", "event_id", "event_type"), Seq("event_id"))
    }
    // the quarantined replacement must NOT have deleted its old row -
    // key 1 still serves the pre-merge version, key 3 inserted
    val rows = Streaming.readSink(spark, out)
      .select(col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "click"), (2L, "view"), (3L, "click")),
      s"quarantined merge row leaked into the sink: $rows")
    val quar = Streaming.readSinkQuarantine(spark, out)
      .select("event_id").as[Long].collect().toSeq
    assert(quar == Seq(1L), s"wrong merge quarantine: $quar")
  }

  test("updateWhere refuses a SET whose post-images would violate a declared check") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_updchk")
      .toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"),
        (tsv("2024-01-02 10:00:00"), 2L, "view"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    Streaming.compactSink(spark, out, quiesced = true)
    Streaming.addSinkCheck(spark, out, "no_purchases",
      "event_type <> 'purchase'")
    val e = intercept[IllegalArgumentException](
      Streaming.updateWhere(spark, out, col("event_id") === 1L,
        Seq("event_type" -> lit("purchase"))))
    assert(e.getMessage.contains("post-image"), e.getMessage)
    assert(epochIds(out) == Seq(0L), "the refused update minted an epoch")
    // a passing SET still lands (quarantine mode changes nothing for
    // an update: it is refuse-only by design)
    Streaming.updateWhere(spark, out, col("event_id") === 1L,
      Seq("event_type" -> lit("scroll")))
    assert(Streaming.readSink(spark, out).filter(col("event_id") === 1L)
      .select("event_type").as[String].head() == "scroll")
  }

  test("a snapshot-mode retention mint carries the quarantine feed instead of dropping it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_retquar")
      .toString
    val out = s"$root/events"
    Streaming.addSinkCheck(spark, out, "no_purchases",
      "event_type <> 'purchase'")
    withSinkConf("spark.graft.sink.checkMode" -> "quarantine") {
      Streaming.writeBatchIdempotent(
        Seq((tsv("2024-01-01 10:00:00"), 1L, "click"),
          (tsv("2024-01-01 11:00:00"), 2L, "purchase"),
          (tsv("2024-01-20 10:00:00"), 3L, "click"))
          .toDF("ts", "event_id", "event_type"), out, 0L)
      Streaming.compactSink(spark, out, quiesced = true)
    }
    withKeepEpochs(2) {
      // retention mints a 'retire' epoch referencing the survivors;
      // the un-drained feed must ride it
      Streaming.retireDays(spark, out,
        java.sql.Date.valueOf("2024-01-10"))
    }
    assert(Streaming.readSink(spark, out)
      .select("event_id").as[Long].collect().toSeq == Seq(3L))
    val feed = Streaming.readSinkQuarantine(spark, out)
      .select("event_id").as[Long].collect().toSeq
    assert(feed == Seq(2L),
      s"the retention mint dropped the quarantine feed: $feed")
  }

  test("checks and alters refuse to cross: altering a checked column, and declaring against the logical schema") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_chkalter")
      .toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click", 5L))
        .toDF("ts", "event_id", "event_type", "score"), out, 0L)
    Streaming.compactSink(spark, out, quiesced = true)
    Streaming.addSinkCheck(spark, out, "score_pos", "score > 0")
    // altering the checked column would brick every later fold on an
    // unresolved-column error - refuse at the alter, with the remedy
    val e = intercept[IllegalArgumentException](
      Streaming.alterSink(spark, out,
        renames = Map("score" -> "points")))
    assert(e.getMessage.contains("score_pos"), e.getMessage)
    // an alter of an UNchecked column is fine, and a check declared
    // while it is pending validates against the LOGICAL schema
    Streaming.alterSink(spark, out,
      renames = Map("event_type" -> "kind"))
    Streaming.addSinkCheck(spark, out, "kind_known", "kind IS NOT NULL")
    Streaming.dropSinkCheck(spark, out, "kind_known")
    Streaming.dropSinkCheck(spark, out, "score_pos")
  }

  test("an alter-normalizing fold rewrites the carried quarantine through the rename (no mixed schema)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_quaralter")
      .toString
    val out = s"$root/events"
    Streaming.addSinkCheck(spark, out, "no_purchases",
      "event_type <> 'purchase'")
    withSinkConf("spark.graft.sink.checkMode" -> "quarantine") {
      Streaming.writeBatchIdempotent(
        Seq((tsv("2024-01-01 10:00:00"), 1L, "click", 5L),
          (tsv("2024-01-01 11:00:00"), 2L, "purchase", 6L))
          .toDF("ts", "event_id", "event_type", "score"), out, 0L)
      Streaming.compactSink(spark, out, quiesced = true)
      // rename an UNchecked column, then fold a second slice: the
      // normalize pass must rewrite the CARRIED generation too, or
      // the feed serves score (old rows) beside points (new rows)
      Streaming.alterSink(spark, out, renames = Map("score" -> "points"))
      Streaming.writeBatchIdempotent(
        Seq((tsv("2024-01-02 10:00:00"), 3L, "purchase", 7L),
          (tsv("2024-01-02 11:00:00"), 4L, "click", 8L))
          .toDF("ts", "event_id", "event_type", "points"), out, 1L)
      Streaming.compactSink(spark, out, quiesced = true)
    }
    val feed = Streaming.readSinkQuarantine(spark, out)
    assert(feed.columns.contains("points") && !feed.columns.contains("score"),
      s"mixed quarantine schema after normalize: ${feed.columns.toSeq}")
    val rows = feed.select(col("event_id"), col("points"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((2L, 6L), (3L, 7L)), s"wrong normalized feed: $rows")
  }

  test("restore refuses to re-admit snapshot rows that violate a check declared after the snapshot") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_reschk")
      .toString
    val out = s"$root/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "click"),
        (tsv("2024-01-02 10:00:00"), 2L, "purchase"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    withKeepEpochs(3) {
      val snap = Streaming.compactSink(spark, out, quiesced = true)
      Streaming.deleteWhere(spark, out, col("event_type") === "purchase")
      // addable NOW because the current epoch is clean - but the
      // retained snapshot is not; restoring past the delete must not
      // silently break the all-rows-satisfy invariant
      Streaming.addSinkCheck(spark, out, "no_purchases",
        "event_type <> 'purchase'")
      val e = intercept[IllegalArgumentException](
        Streaming.restoreSink(spark, out, snap))
      assert(e.getMessage.contains("no_purchases: 1"), e.getMessage)
      Streaming.dropSinkCheck(spark, out, "no_purchases")
      assert(Streaming.restoreSink(spark, out, snap) == snap + 2)
      assert(Streaming.readSink(spark, out).count() == 2L)
    }
  }

  test("an all-violating feed refuses even in quarantine mode") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sink_allbad")
      .toString
    val out = s"$root/events"
    Streaming.addSinkCheck(spark, out, "no_purchases",
      "event_type <> 'purchase'")
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, "purchase"),
        (tsv("2024-01-02 10:00:00"), 2L, "purchase"))
        .toDF("ts", "event_id", "event_type"), out, 0L)
    withSinkConf("spark.graft.sink.checkMode" -> "quarantine") {
      val e = intercept[IllegalArgumentException](
        Streaming.compactSink(spark, out, quiesced = true))
      assert(e.getMessage.contains("EVERY incoming row"), e.getMessage)
    }
    assert(new java.io.File(s"$out/batch_id=0/_BATCH_COMMIT").exists(),
      "the refused all-violating fold consumed its batch")
  }
}

/** A local filesystem whose rename ALWAYS fails — the test stand-in for
  * a read-only mount or a permissions fault, injected via the
  * `graftro:` scheme (`fs.graftro.impl`). Everything else behaves like
  * the real local FS, so reads proceed; only the reader roll-forward's
  * move attempt is refused. */
class RenameRefusingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftro"
  override def getUri: java.net.URI = java.net.URI.create("graftro:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = false
}
