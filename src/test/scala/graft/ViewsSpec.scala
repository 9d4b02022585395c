package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Streaming, Views}
import graft.ops.Views.ViewDef

/** Incremental materialized-view maintenance (Views): the q143 merge ≡
  * recompute contract, the provable-soundness fallback lattice
  * (mutation epoch / lost horizon race → full recompute), torn-refresh
  * invisibility, empty-delta no-ops, and the refresh lock. */
class ViewsSpec extends SparkSpecBase {

  private def scratch(name: String): String = {
    val d = new java.io.File(s"target/views_spec/$name").getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }

  private val vd = ViewDef(
    Seq("day", "event_type"),
    df => df.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"),
        max(floor(col("value") * 100).cast("long")).as("max_cents")),
    Seq("n_events" -> "sum", "sum_cents" -> "sum", "max_cents" -> "max"))

  private def slice(rem: Int): DataFrame =
    Tables.events(spark, sf).filter(pmod(col("event_id"), lit(3)) === rem)

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** The view a one-shot recompute over the sink's CURRENT content
    * would produce — the invariant every refresh path must restore. */
  private def recompute(sink: String): Set[String] =
    rowsOf(vd.partial(Streaming.readSink(spark, sink)))

  test("q143: incremental refresh merges the delta into the one-shot aggregate") {
    val out = Views.q143IncrementalView(spark, sf)
    val expected = rowsOf(vd.partial(
      Tables.events(spark, sf).withColumn("day", to_date(col("ts"))))
      .select(col("day"), col("event_type"), col("n_events"),
        col("sum_cents"), col("max_cents")))
    assert(rowsOf(out) == expected)
    assert(out.count() > 0)
  }

  test("delete epoch on the sink forces the full-recompute path, result stays exact") {
    val sink = scratch("del_sink"); val view = scratch("del_view")
    Streaming.writeBatchIdempotent(slice(0), sink, 0L)
    Streaming.writeBatchIdempotent(slice(1), sink, 1L)
    Streaming.compactSink(spark, sink, quiesced = true)
    Views.createView(spark, sink, view, vd)
    Streaming.deleteWhere(spark, sink, col("user_id") % 7 === 3)
    val (_, mode) = Views.refreshView(spark, sink, view, vd)
    assert(mode == "full",
      "a delete epoch changes content the delta stream cannot express")
    assert(rowsOf(Views.readView(spark, view)) == recompute(sink))
  }

  test("upsert epoch on the sink forces the full-recompute path, result stays exact") {
    val sink = scratch("ups_sink"); val view = scratch("ups_view")
    Streaming.writeBatchIdempotent(slice(0), sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    Views.createView(spark, sink, view, vd)
    val updates = slice(0).limit(50).withColumn("event_type", lit("upd"))
    Streaming.upsertBatch(spark, sink, updates, Seq("event_id"))
    val (_, mode) = Views.refreshView(spark, sink, view, vd)
    assert(mode == "full")
    assert(rowsOf(Views.readView(spark, view)) == recompute(sink))
  }

  test("compaction advancing past the cursor forces full (horizon race), result stays exact") {
    val sink = scratch("hor_sink"); val view = scratch("hor_view")
    Streaming.writeBatchIdempotent(slice(0), sink, 0L)
    Streaming.writeBatchIdempotent(slice(1), sink, 1L)
    // view created over live batches only (no epoch yet): cursor = 1
    Views.createView(spark, sink, view, vd)
    Streaming.writeBatchIdempotent(slice(2), sink, 2L)
    // compaction consumes batch 2 too - the delta boundary at the
    // cursor is gone (readSinkSince would refuse the same state)
    Streaming.compactSink(spark, sink, quiesced = true)
    val (_, mode) = Views.refreshView(spark, sink, view, vd)
    assert(mode == "full",
      "cursor behind the compaction horizon cannot serve a delta")
    assert(rowsOf(Views.readView(spark, view)) == recompute(sink))
  }

  test("compaction that stays at the cursor keeps the incremental path") {
    val sink = scratch("inc_sink"); val view = scratch("inc_view")
    Streaming.writeBatchIdempotent(slice(0), sink, 0L)
    Streaming.writeBatchIdempotent(slice(1), sink, 1L)
    Streaming.compactSink(spark, sink, quiesced = true)
    Views.createView(spark, sink, view, vd) // cursor = wm = 1, epoch 0
    Streaming.writeBatchIdempotent(slice(2), sink, 2L)
    val (gen, mode) = Views.refreshView(spark, sink, view, vd)
    assert(mode == "incremental" && gen == 1L)
    assert(rowsOf(Views.readView(spark, view)) == recompute(sink))
    // and the status row tells the operator exactly that
    val st = Views.viewStatus(spark, view).collect()(0)
    assert(st.getLong(0) == 1L && st.getLong(1) == 2L &&
      st.getString(3) == "incremental" && st.getLong(5) == 1L)
  }

  test("empty delta is a noop: no generation minted, replay-idempotent") {
    val sink = scratch("noop_sink"); val view = scratch("noop_view")
    Streaming.writeBatchIdempotent(slice(0), sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    val g0 = Views.createView(spark, sink, view, vd)
    val before = rowsOf(Views.readView(spark, view))
    val (g1, m1) = Views.refreshView(spark, sink, view, vd)
    val (g2, m2) = Views.refreshView(spark, sink, view, vd)
    assert(m1 == "noop" && m2 == "noop" && g1 == g0 && g2 == g0)
    assert(rowsOf(Views.readView(spark, view)) == before)
  }

  test("a torn refresh (data without marker) is invisible and cleared by the next one") {
    val sink = scratch("torn_sink"); val view = scratch("torn_view")
    Streaming.writeBatchIdempotent(slice(0), sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    Views.createView(spark, sink, view, vd)
    val before = rowsOf(Views.readView(spark, view))
    // simulate a refresher that died after writing data, before the
    // marker: gen=1 exists but is uncommitted
    vd.partial(Streaming.readSink(spark, sink)).limit(1)
      .write.mode("overwrite").parquet(s"$view/gen=1")
    assert(rowsOf(Views.readView(spark, view)) == before,
      "an uncommitted generation must not serve")
    // the next refresh overwrites the attempt and commits cleanly
    Streaming.writeBatchIdempotent(slice(1), sink, 1L)
    val (gen, mode) = Views.refreshView(spark, sink, view, vd)
    assert(gen == 1L && mode == "incremental")
    assert(rowsOf(Views.readView(spark, view)) == recompute(sink))
  }

  test("superseded generations are swept: one committed generation in steady state") {
    val sink = scratch("sweep_sink"); val view = scratch("sweep_view")
    Streaming.writeBatchIdempotent(slice(0), sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    Views.createView(spark, sink, view, vd)
    Streaming.writeBatchIdempotent(slice(1), sink, 1L)
    Views.refreshView(spark, sink, view, vd)
    Streaming.writeBatchIdempotent(slice(2), sink, 2L)
    Views.refreshView(spark, sink, view, vd)
    val f = new org.apache.hadoop.fs.Path(view)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = f.listStatus(new org.apache.hadoop.fs.Path(view))
      .map(_.getPath.getName).toSet
    assert(names.count(_.startsWith("_VIEW_COMMIT_")) == 1)
    assert(names.count(_.startsWith("gen=")) == 1)
    assert(Views.viewStatus(spark, view).collect()(0).getLong(5) == 1L)
  }

  test("concurrent refresh refuses on the lock; breakViewLock releases it") {
    val sink = scratch("lock_sink"); val view = scratch("lock_view")
    Streaming.writeBatchIdempotent(slice(0), sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    Views.createView(spark, sink, view, vd)
    val f = new org.apache.hadoop.fs.Path(view)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(view, "_VIEW_LOCK")
    val out = f.create(lock, false); out.write("other".getBytes); out.close()
    val e = intercept[IllegalStateException] {
      Views.refreshView(spark, sink, view, vd)
    }
    assert(e.getMessage.contains("breakViewLock"))
    assert(Views.breakViewLock(spark, view))
    val (_, mode) = Views.refreshView(spark, sink, view, vd)
    assert(mode == "noop")
  }

  test("q146: sketch view estimates track exact uniques inside the lgK=12 envelope") {
    val rows = Views.q146SketchView(spark, sf).collect()
    assert(rows.nonEmpty)
    val exact = Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("nu"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => Option(r.get(0)).map(_.toString).orNull ->
        (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val day = Option(r.get(0)).map(_.toString).orNull
      val (nu, n) = exact(day)
      // lgK=12 HLL: ~0.8% RSE dense, exact in sparse — 2% headroom
      // (q127's pinned envelope)
      assert(math.abs(r.getLong(2) - nu) <= math.max(1.0, 0.02 * nu),
        s"day $day: est ${r.getLong(2)} vs exact $nu")
      assert(r.getLong(1) == n, s"day $day: exact count drifted")
    }
    // the incrementally-merged sketch estimates like a one-shot one:
    // HLL union is register-max, so the merged registers equal the
    // single-pass registers and the estimates agree exactly
    val oneShot = Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .as("est"))
      .collect()
      .map(r => Option(r.get(0)).map(_.toString).orNull -> r.getLong(1))
      .toMap
    rows.foreach { r =>
      val day = Option(r.get(0)).map(_.toString).orNull
      assert(r.getLong(2) == oneShot(day),
        s"day $day: merged estimate diverged from one-shot")
    }
  }

  test("a drifted definition refuses: stored partials merge only under their own shape") {
    val sink = scratch("def_sink"); val view = scratch("def_view")
    Streaming.writeBatchIdempotent(slice(0), sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    Views.createView(spark, sink, view, vd)
    val drifted = vd.copy(combiners =
      vd.combiners.map { case (c, how) =>
        if (c == "max_cents") (c, "sum") else (c, how) })
    val e = intercept[IllegalArgumentException] {
      Views.refreshView(spark, sink, view, drifted)
    }
    assert(e.getMessage.contains("one definition"))
    // the status row surfaces the recorded shape for the operator
    assert(Views.viewStatus(spark, view).collect()(0)
      .getString(4) == vd.fingerprint)
  }

  test("a pending rename reaches the view: the epoch and a new-name batch group as one column") {
    import spark.implicits._
    val sink = scratch("alter_sink"); val view = scratch("alter_view")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Streaming.writeBatchIdempotent(Seq((ts("2024-01-01 10:00:00"), 1L, 7L),
      (ts("2024-01-02 10:00:00"), 2L, 8L)).toDF("ts", "event_id", "user_id"),
      sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    Streaming.alterSink(spark, sink, renames = Map("user_id" -> "uid"))
    Streaming.writeBatchIdempotent(Seq((ts("2024-01-03 10:00:00"), 3L, 7L))
      .toDF("ts", "event_id", "uid"), sink, 1L)
    val byUid = ViewDef(Seq("uid"),
      _.groupBy(col("uid")).agg(count(lit(1)).as("count")),
      Seq("count" -> "sum"))
    Views.createView(spark, sink, view, byUid)
    assert(rowsOf(Views.readView(spark, view)) ==
      rowsOf(Streaming.readSink(spark, sink).groupBy("uid").count()))
  }

  test("createView refuses an existing view; readView refuses a missing one") {
    val sink = scratch("cr_sink"); val view = scratch("cr_view")
    Streaming.writeBatchIdempotent(slice(0), sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    Views.createView(spark, sink, view, vd)
    intercept[IllegalArgumentException] {
      Views.createView(spark, sink, view, vd)
    }
    intercept[IllegalArgumentException] {
      Views.readView(spark, scratch("never_created"))
    }
  }
}
