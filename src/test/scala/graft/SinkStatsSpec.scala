package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{CommitLog, SinkStats, Streaming}

/** Zone-map data skipping (SinkStats): pruned read ≡ full filter with
  * files actually skipped, pruning safety under all-null/drifted
  * columns, stale- and missing-manifest refusals, unsupported-type
  * refusal, and conservative inclusion of live batches. */
class SinkStatsSpec extends SparkSpecBase {

  private def scratch(name: String): String = {
    val d = new java.io.File(s"target/sinkstats_spec/$name").getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** Run `body` under the clustered, many-files layout confs q144
    * uses (targetFileBytes ~ sink bytes / 64, clusterBy = user_id). */
  private def withClusteredConf[T](sink: String)(body: => T): T = {
    val f = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = f.getContentSummary(new org.apache.hadoop.fs.Path(sink))
      .getLength
    val prevT = spark.conf.getOption("spark.graft.compact.targetFileBytes")
    val prevC = spark.conf.getOption("spark.graft.compact.clusterBy")
    try {
      spark.conf.set("spark.graft.compact.targetFileBytes",
        math.max(1L, bytes / 64).toString)
      spark.conf.set("spark.graft.compact.clusterBy", "user_id")
      body
    } finally {
      prevT.fold(spark.conf.unset("spark.graft.compact.targetFileBytes"))(
        v => spark.conf.set("spark.graft.compact.targetFileBytes", v))
      prevC.fold(spark.conf.unset("spark.graft.compact.clusterBy"))(
        v => spark.conf.set("spark.graft.compact.clusterBy", v))
    }
  }

  /** Compact with the clustered, many-files layout q144 uses. */
  private def clusteredCompact(sink: String): Unit =
    withClusteredConf(sink)(Streaming.compactSink(spark, sink, quiesced = true))

  test("re-indexing an unchanged epoch is a no-op; a new column set rebuilds") {
    val sink = scratch("idem")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    clusteredCompact(sink)
    val n1 = SinkStats.indexSinkStats(spark, sink, Seq("user_id"))
    def manifestState(dir: String): Seq[(String, Long)] = {
      val d = new java.io.File(dir)
      d.listFiles().toSeq.map(f => f.getName -> f.lastModified()).sorted
    }
    val statsDir = s"$sink/epoch=0/_file_stats"
    val before = manifestState(statsDir)
    // same epoch, same columns: the manifest is a pure function of the
    // epoch's immutable file set, so the second call must return the
    // same count WITHOUT rewriting a byte (the r18 fast path — a
    // per-query "ensure indexed" call must not re-pay the footer sweep)
    assert(SinkStats.indexSinkStats(spark, sink, Seq("user_id")) == n1)
    assert(manifestState(statsDir) == before,
      "an idempotent re-index must not rewrite the manifest")
    // a DIFFERENT column set rebuilds with exactly the requested cols
    SinkStats.indexSinkStats(spark, sink, Seq("user_id", "value"))
    val cols = spark.read.parquet(statsDir).select("column").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cols == Set("user_id", "value"))
    // bloom twin: same recipe skips, a different recipe rebuilds
    val b1 = SinkStats.indexSinkBloom(spark, sink, "event_id")
    val bloomDir = s"$sink/epoch=0/_file_bloom/col=event_id"
    val bBefore = manifestState(bloomDir)
    assert(SinkStats.indexSinkBloom(spark, sink, "event_id") == b1)
    assert(manifestState(bloomDir) == bBefore,
      "an idempotent bloom re-index must not rewrite the manifest")
    SinkStats.indexSinkBloom(spark, sink, "event_id", bits = 1 << 10)
    assert(spark.read.parquet(bloomDir).select("bits").head().getInt(0)
      == (1 << 10), "a recipe change must rebuild the manifest")
    // and a fresh epoch (lifecycle op) structurally invalidates: the
    // pinned path no longer exists, the next index call rebuilds there
    Streaming.deleteWhere(spark, sink, col("user_id") % 7 === 3)
    val n2 = SinkStats.indexSinkStats(spark, sink, Seq("user_id"))
    assert(n2 > 0)
    assert(new java.io.File(
      s"$sink/epoch=1/_file_stats").exists())
  }

  test("pruned band read equals the full filter and actually skips files") {
    val sink = scratch("band")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    clusteredCompact(sink)
    val total = SinkStats.indexSinkStats(spark, sink, Seq("user_id"))
    assert(total > 30, s"clustered layout should write many files, got $total")
    val b = ev.agg(min(col("user_id")), max(col("user_id"))).head()
    val lo = b.getLong(0).toDouble
    val hi = (b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 8).toDouble
    val pruned = SinkStats.readSinkPruned(spark, sink, "user_id", lo, hi)
    assert(pruned.inputFiles.length < total,
      s"read ${pruned.inputFiles.length} of $total files - nothing skipped")
    val full = Streaming.readSink(spark, sink)
      .filter(col("user_id") >= lo && col("user_id") <= hi)
    assert(rowsOf(pruned) == rowsOf(full))
  }

  test("a band disjoint from every file on a quiesced sink lists and reads no sink file") {
    import spark.implicits._
    val sink = scratch("pruned_out")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Streaming.writeBatchIdempotent(Seq((ts("2024-01-01 10:00:00"), 1L, 7L),
      (ts("2024-01-02 10:00:00"), 2L, 8L)).toDF("ts", "event_id", "user_id"),
      sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    SinkStats.indexSinkStats(spark, sink, Seq("user_id"))
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    def listed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount +
      HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount
    val before = listed
    val out = SinkStats.readSinkPruned(spark, sink, "user_id", 100.0, 200.0)
    val manifestFiles = new java.io.File(s"$sink/epoch=0/_file_stats")
      .list().count(n => !n.startsWith("_") && !n.startsWith("."))
    assert(listed - before == manifestFiles,
      "a fully pruned band listed sink files beyond its manifest")
    assert(out.inputFiles.isEmpty,
      s"a fully pruned band read ${out.inputFiles.length} file(s)")
    assert(out.columns.toSeq == Streaming.readSink(spark, sink).columns.toSeq)
    assert(out.count() == 0)
  }

  test("all-null files prune safely: a range predicate cannot match them") {
    val sink = scratch("nulls")
    // value is NULL for the even user cohort - whole files of the
    // user_id-clustered layout carry only nulls in `value`
    val ev = Tables.events(spark, sf).withColumn("value",
      when(col("user_id") % 2 === 0, lit(null)).otherwise(col("value")))
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    clusteredCompact(sink)
    SinkStats.indexSinkStats(spark, sink, Seq("value"))
    val pruned = SinkStats.readSinkPruned(spark, sink, "value", 0.0, 1e18)
    val full = Streaming.readSink(spark, sink)
      .filter(col("value") >= 0.0 && col("value") <= 1e18)
    assert(rowsOf(pruned) == rowsOf(full),
      "null-valued rows must be excluded by the predicate on both paths")
  }

  test("a lifecycle op stales the manifest: pruned read refuses loudly") {
    val sink = scratch("stale")
    Streaming.writeBatchIdempotent(Tables.events(spark, sf), sink, 0L)
    clusteredCompact(sink)
    SinkStats.indexSinkStats(spark, sink, Seq("user_id"))
    Streaming.deleteWhere(spark, sink, col("user_id") % 7 === 3)
    val e = intercept[IllegalArgumentException] {
      SinkStats.readSinkPruned(spark, sink, "user_id", 0.0, 10.0)
    }
    assert(e.getMessage.contains("indexSinkStats"))
    // re-index against the new epoch and the read serves again
    val total = SinkStats.indexSinkStats(spark, sink, Seq("user_id"))
    val pruned = SinkStats.readSinkPruned(spark, sink, "user_id", 0.0, 10.0)
    assert(pruned.inputFiles.length < total)
    assert(rowsOf(pruned) == rowsOf(Streaming.readSink(spark, sink)
      .filter(col("user_id") >= 0.0 && col("user_id") <= 10.0)))
  }

  test("alter-only normalize pass preserves the clustered layout") {
    val sink = scratch("alternorm")
    Streaming.writeBatchIdempotent(Tables.events(spark, sf), sink, 0L)
    clusteredCompact(sink)
    // rename a non-clustered column; with NO fresh batches the compact
    // below takes the alter-only normalize pass, which before r15
    // repartitioned by (day, ts) only and silently destroyed the
    // clustering layout (r14 advice)
    Streaming.alterSink(spark, sink, renames = Map("props" -> "attrs"))
    withClusteredConf(sink)(Streaming.compactSink(spark, sink,
      quiesced = true))
    val total = SinkStats.indexSinkStats(spark, sink, Seq("user_id"))
    assert(total > 30, s"normalize should keep many sized files, got $total")
    val b = Tables.events(spark, sf)
      .agg(min(col("user_id")), max(col("user_id"))).head()
    val lo = b.getLong(0).toDouble
    val hi = (b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 8).toDouble
    val pruned = SinkStats.readSinkPruned(spark, sink, "user_id", lo, hi)
    assert(pruned.inputFiles.length < total / 2,
      s"normalize destroyed clustering: a 1/8 band read touched " +
        s"${pruned.inputFiles.length} of $total files")
    assert(!pruned.columns.contains("props") &&
      pruned.columns.contains("attrs"), "the alter itself did not apply")
    assert(rowsOf(pruned) == rowsOf(Streaming.readSink(spark, sink)
      .filter(col("user_id") >= lo && col("user_id") <= hi)))
  }

  test("string zone maps: pruned band equals full filter, skips files; unsafe bounds scan, never skip") {
    import spark.implicits._
    val sink = scratch("strband")
    val t = "2024-02-01 10:00:00"
    // key-like string values spread over a sortable domain, plus the
    // three hazard classes: a >64-char value sharing a prefix with
    // in-band values (truncation), a non-ASCII value (multi-byte
    // UTF-8 — byte bounds must still prune it correctly), and an
    // all-null file cohort
    val rows = (0L until 4000L).map { i =>
      val v = (i % 40) match {
        case 37 => null
        case 38 => "m" + ("x" * 100) + i // truncated bound, in band
        case 39 => "żeta_" + (i % 7) // non-ASCII: byte bounds prune
        case k => f"key_${((k * 7) % 26 + 'a'.toInt).toChar}%c_${i % 97}%02d"
      }
      (i, t, v)
    }
    val df = rows.toDF("event_id", "tss", "k")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    Streaming.writeBatchIdempotent(df, sink, 0L)
    val f = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = f.getContentSummary(new org.apache.hadoop.fs.Path(sink))
      .getLength
    val prevT = spark.conf.getOption("spark.graft.compact.targetFileBytes")
    val prevC = spark.conf.getOption("spark.graft.compact.clusterBy")
    try {
      spark.conf.set("spark.graft.compact.targetFileBytes",
        math.max(1L, bytes / 32).toString)
      spark.conf.set("spark.graft.compact.clusterBy", "k")
      Streaming.compactSink(spark, sink, quiesced = true)
    } finally {
      prevT.fold(spark.conf.unset("spark.graft.compact.targetFileBytes"))(
        v => spark.conf.set("spark.graft.compact.targetFileBytes", v))
      prevC.fold(spark.conf.unset("spark.graft.compact.clusterBy"))(
        v => spark.conf.set("spark.graft.compact.clusterBy", v))
    }
    val total = SinkStats.indexSinkStats(spark, sink, Seq("k"))
    // a band over the middle of the key domain: the k-clustered layout
    // must skip the out-of-band files, and the answer must be exactly
    // the full filter - including the >64-char value inside the band
    // and excluding nulls
    def check(lo: String, hi: String, expectSkip: Boolean): Unit = {
      val pruned = SinkStats.readSinkPrunedString(spark, sink, "k", lo, hi)
      if (expectSkip)
        assert(pruned.inputFiles.length < total,
          s"[$lo,$hi] read ${pruned.inputFiles.length} of $total files")
      assert(rowsOf(pruned) == rowsOf(Streaming.readSink(spark, sink)
        .filter(col("k") >= lo && col("k") <= hi)),
        s"band [$lo,$hi] diverged from the full filter")
    }
    check("key_e", "key_k", expectSkip = true)
    check("m", "n", expectSkip = true) // covers the truncated long value
    // the non-ASCII cohort: raw-byte bounds prune it like any other
    // key (r16 — ASCII-only truncated bounds used to force a scan
    // here), and the unsigned byte order agrees with the engine's
    // string comparison so no in-band multi-byte row is lost
    check("ż", "żzzz", expectSkip = true)
    // ASCII band BELOW the non-ASCII cohort in byte order: must skip
    // the ż files too (their lo bound exceeds the band)
    check("aa", "ab", expectSkip = true)
    // a band ordered in UTF-8 bytes (EF BF BD < F0 9F 98 80) but not in
    // UTF-16 code units (U+FFFD > the high surrogate D83D): the band
    // check must use the byte order the prune and the filter use
    check("\uFFFD", "\uD83D\uDE00", expectSkip = true)
  }

  test("timestamp band read prunes on the default (day, ts) layout and equals the full filter") {
    val sink = scratch("tsband")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    // DEFAULT layout - no clusterBy: the sized writers already range
    // on (day, ts), so ts is clustered within each day and an
    // intra-range band has files to skip
    val f = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = f.getContentSummary(new org.apache.hadoop.fs.Path(sink))
      .getLength
    val prevT = spark.conf.getOption("spark.graft.compact.targetFileBytes")
    try {
      spark.conf.set("spark.graft.compact.targetFileBytes",
        math.max(1L, bytes / 64).toString)
      Streaming.compactSink(spark, sink, quiesced = true)
    } finally prevT.fold(
      spark.conf.unset("spark.graft.compact.targetFileBytes"))(
      v => spark.conf.set("spark.graft.compact.targetFileBytes", v))
    val total = SinkStats.indexSinkStats(spark, sink, Seq("ts"))
    val b = ev.agg(min(col("ts")), max(col("ts"))).head()
    val tLo = b.getTimestamp(0)
    val tHi = b.getTimestamp(1)
    val span = tHi.getTime - tLo.getTime
    val lo = new java.sql.Timestamp(tLo.getTime + span / 4)
    val hi = new java.sql.Timestamp(tLo.getTime + span / 2)
    val pruned = SinkStats.readSinkPrunedTs(spark, sink, "ts", lo, hi)
    assert(pruned.inputFiles.length < total,
      s"ts band read ${pruned.inputFiles.length} of $total files - " +
        "the (day, ts) layout failed to prune")
    assert(rowsOf(pruned) == rowsOf(Streaming.readSink(spark, sink)
      .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))),
      "ts band diverged from the full filter")
  }

  test("autoIndexColumns chains manifest emission into every epoch commit - no refuse window") {
    val sink = scratch("autoidx")
    Streaming.writeBatchIdempotent(Tables.events(spark, sf), sink, 0L)
    val prevS = spark.conf.getOption("spark.graft.stats.autoIndexColumns")
    val prevB = spark.conf.getOption("spark.graft.bloom.autoIndexColumns")
    try {
      spark.conf.set("spark.graft.stats.autoIndexColumns", "user_id")
      spark.conf.set("spark.graft.bloom.autoIndexColumns", "event_id")
      withClusteredConf(sink)(Streaming.compactSink(spark, sink,
        quiesced = true))
      // NO manual index call anywhere in this test: the lifecycle ops
      // themselves emit the manifests inside their commit
      def band(): Unit = {
        val pruned = SinkStats.readSinkPruned(spark, sink,
          "user_id", 0.0, 50.0)
        assert(rowsOf(pruned) == rowsOf(Streaming.readSink(spark, sink)
          .filter(col("user_id") >= 0.0 && col("user_id") <= 50.0)))
      }
      band()
      // a mutation used to stale the manifest until a manual re-index;
      // with auto-index the pruned read serves IMMEDIATELY after
      Streaming.deleteWhere(spark, sink, col("user_id") % 7 === 3)
      band()
      val someId = Streaming.readSink(spark, sink)
        .agg(min(col("event_id"))).head().getLong(0)
      val hit = SinkStats.readSinkPoint(spark, sink, "event_id", someId)
      assert(hit.filter(col("event_id") === someId).count() > 0,
        "bloom point read after auto-indexed delete found nothing")
    } finally {
      prevS.fold(spark.conf.unset("spark.graft.stats.autoIndexColumns"))(
        v => spark.conf.set("spark.graft.stats.autoIndexColumns", v))
      prevB.fold(spark.conf.unset("spark.graft.bloom.autoIndexColumns"))(
        v => spark.conf.set("spark.graft.bloom.autoIndexColumns", v))
    }
  }

  test("missing manifest refuses; unsupported column type refuses at index time") {
    import spark.implicits._
    val sink = scratch("missing")
    // a boolean column: the one leaf type neither the numeric nor the
    // string bounds path serves (strings are supported since r15)
    Streaming.writeBatchIdempotent(
      Tables.events(spark, sf).withColumn("flag", col("event_id") % 2 === 0),
      sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    val e = intercept[IllegalArgumentException] {
      SinkStats.readSinkPruned(spark, sink, "user_id", 0.0, 10.0)
    }
    assert(e.getMessage.contains("indexSinkStats"))
    val t = intercept[IllegalArgumentException] {
      SinkStats.indexSinkStats(spark, sink, Seq("flag"))
    }
    assert(t.getMessage.contains("numeric"))
  }

  test("z-order clustering prunes on the second dimension where single-column clustering cannot") {
    val ev = Tables.events(spark, sf)
    val b = ev.agg(min(col("value")), max(col("value"))).head()
    val vLo = b.getDouble(0)
    val vHi = vLo + (b.getDouble(1) - vLo) / 8.0
    def build(name: String, zorder: Boolean): (String, Long) = {
      val sink = scratch(name)
      Streaming.writeBatchIdempotent(ev, sink, 0L)
      val f = new org.apache.hadoop.fs.Path(sink)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes = f.getContentSummary(
        new org.apache.hadoop.fs.Path(sink)).getLength
      val prevT = spark.conf.getOption("spark.graft.compact.targetFileBytes")
      val prevC = spark.conf.getOption("spark.graft.compact.clusterBy")
      val prevZ = spark.conf.getOption("spark.graft.compact.zorderBy")
      try {
        spark.conf.set("spark.graft.compact.targetFileBytes",
          math.max(1L, bytes / 256).toString)
        if (zorder)
          spark.conf.set("spark.graft.compact.zorderBy", "user_id,value")
        else spark.conf.set("spark.graft.compact.clusterBy", "user_id")
        Streaming.compactSink(spark, sink, quiesced = true)
      } finally {
        prevT.fold(spark.conf.unset("spark.graft.compact.targetFileBytes"))(
          v => spark.conf.set("spark.graft.compact.targetFileBytes", v))
        prevC.fold(spark.conf.unset("spark.graft.compact.clusterBy"))(
          v => spark.conf.set("spark.graft.compact.clusterBy", v))
        prevZ.fold(spark.conf.unset("spark.graft.compact.zorderBy"))(
          v => spark.conf.set("spark.graft.compact.zorderBy", v))
      }
      (sink, SinkStats.indexSinkStats(spark, sink, Seq("user_id", "value")))
    }
    val (zSink, zTotal) = build("z_both", zorder = true)
    val (sSink, sTotal) = build("z_single", zorder = false)
    def frac(sink: String, total: Long): Double =
      SinkStats.readSinkPruned(spark, sink, "value", vLo, vHi)
        .inputFiles.length.toDouble / total
    // user_id-only clustering scatters `value` across every file; the
    // z-curve gives each file a small rectangle in BOTH dimensions
    assert(frac(zSink, zTotal) < frac(sSink, sTotal),
      s"z ${frac(zSink, zTotal)} !< single ${frac(sSink, sTotal)}")
    // and correctness is pruning-independent on both layouts
    val expect = rowsOf(Streaming.readSink(spark, zSink)
      .filter(col("value") >= vLo && col("value") <= vHi))
    assert(rowsOf(SinkStats.readSinkPruned(spark, zSink, "value",
      vLo, vHi)) == expect)
    assert(rowsOf(SinkStats.readSinkPruned(spark, sSink, "value",
      vLo, vHi)) == expect)
  }

  test("maintainSink re-indexes a staled manifest when statsColumns is set") {
    val sink = scratch("cron")
    Streaming.writeBatchIdempotent(Tables.events(spark, sf), sink, 0L)
    clusteredCompact(sink)
    SinkStats.indexSinkStats(spark, sink, Seq("user_id"))
    Streaming.deleteWhere(spark, sink, col("user_id") % 7 === 3)
    val prev = spark.conf.getOption("spark.graft.maintain.statsColumns")
    try {
      spark.conf.set("spark.graft.maintain.statsColumns", "user_id")
      val actions = Streaming.maintainSink(spark, sink)
      assert(actions.exists(_.startsWith("stats_indexed=")), actions)
      // the re-index restored the pruned-read path on the new epoch
      val pruned = SinkStats.readSinkPruned(spark, sink, "user_id", 0.0, 50.0)
      assert(rowsOf(pruned) == rowsOf(Streaming.readSink(spark, sink)
        .filter(col("user_id") >= 0.0 && col("user_id") <= 50.0)))
      // and the next cron pays only the existence check - no action
      assert(!Streaming.maintainSink(spark, sink)
        .exists(_.startsWith("stats_indexed=")))
    } finally prev.fold(spark.conf
      .unset("spark.graft.maintain.statsColumns"))(v =>
      spark.conf.set("spark.graft.maintain.statsColumns", v))
  }

  test("maintainSink re-indexes a staled bloom when bloomColumn is set") {
    val sink = scratch("bloomcron")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    clusteredCompact(sink)
    SinkStats.indexSinkBloom(spark, sink, "event_id")
    val probeId = ev.agg(min(col("event_id"))).head().getLong(0)
    Streaming.deleteWhere(spark, sink, col("user_id") % 7 === 3)
    val prev = spark.conf.getOption("spark.graft.maintain.bloomColumn")
    try {
      spark.conf.set("spark.graft.maintain.bloomColumn", "event_id")
      val actions = Streaming.maintainSink(spark, sink)
      assert(actions.exists(_.startsWith("bloom_indexed=")), actions)
      assert(rowsOf(SinkStats.readSinkPoint(spark, sink, "event_id",
        probeId)) == rowsOf(Streaming.readSink(spark, sink)
        .filter(col("event_id") === probeId)))
      assert(!Streaming.maintainSink(spark, sink)
        .exists(_.startsWith("bloom_indexed=")))
    } finally prev.fold(spark.conf
      .unset("spark.graft.maintain.bloomColumn"))(v =>
      spark.conf.set("spark.graft.maintain.bloomColumn", v))
  }

  test("metadata count subtracts nulls, scans only boundaries, and counts live batches") {
    val sink = scratch("metacount")
    // nulls in the counted column: interior files' nrows include null
    // rows the band must NOT count — the manifest's n_nulls carries it
    val ev = Tables.events(spark, sf).withColumn("value",
      when(col("user_id") % 3 === 0, lit(null)).otherwise(col("value")))
    Streaming.writeBatchIdempotent(
      ev.filter(pmod(col("event_id"), lit(2)) === 0), sink, 0L)
    clusteredCompact(sink) // clustered on user_id: value scattered
    SinkStats.indexSinkStats(spark, sink, Seq("value", "user_id"))
    // a live batch lands after indexing - stats don't cover it
    Streaming.writeBatchIdempotent(
      ev.filter(pmod(col("event_id"), lit(2)) === 1), sink, 1L)
    val b = ev.agg(min(col("user_id")), max(col("user_id"))).head()
    val span = b.getLong(1) - b.getLong(0)
    val lo = b.getLong(0) + math.floor(span.toDouble / 4.0).toLong
    val hi = b.getLong(0) + math.floor((3L * span).toDouble / 4.0).toLong
    val (counts, scanned, answered) = SinkStats.countSinkPruned(spark,
      sink, "user_id", lo.toDouble, hi.toDouble)
    assert(answered > 0, "no interior file answered from metadata")
    assert(scanned < scanned + answered)
    val expect = Streaming.readSink(spark, sink)
      .filter(col("user_id") >= lo && col("user_id") <= hi)
      .groupBy("day").agg(count(lit(1)).as("n_events"))
    assert(rowsOf(counts) == rowsOf(expect))
    // the nullable column's band: every interior file's nulls must be
    // subtracted, or the metadata count overcounts
    val vb = ev.agg(min(col("value")), max(col("value"))).head()
    val vSpan = vb.getDouble(1) - vb.getDouble(0)
    val (vCounts, _, _) = SinkStats.countSinkPruned(spark, sink,
      "value", vb.getDouble(0), vb.getDouble(0) + vSpan)
    val vExpect = Streaming.readSink(spark, sink)
      .filter(col("value") >= vb.getDouble(0) &&
        col("value") <= vb.getDouble(0) + vSpan)
      .groupBy("day").agg(count(lit(1)).as("n_events"))
    assert(rowsOf(vCounts) == rowsOf(vExpect),
      "null rows leaked into the metadata count")
  }

  test("bloom probe equals the exact equality filter, skips files, and absent values prune everything") {
    val sink = scratch("bloom")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    clusteredCompact(sink) // clustered on user_id: event_id scattered
    val total = SinkStats.indexSinkBloom(spark, sink, "event_id")
    val probeId = ev.agg(min(col("event_id"))).head().getLong(0)
    val hit = SinkStats.readSinkPoint(spark, sink, "event_id", probeId)
    assert(hit.inputFiles.length < total,
      s"read ${hit.inputFiles.length} of $total files - nothing skipped")
    assert(rowsOf(hit) == rowsOf(Streaming.readSink(spark, sink)
      .filter(col("event_id") === probeId)))
    // an absent value: the bloom prunes every file and the frame is
    // empty with ZERO input files (no phantom, no hidden full scan)
    val absentId = ev.agg(max(col("event_id"))).head().getLong(0) + 987654L
    val miss = SinkStats.readSinkPoint(spark, sink, "event_id", absentId)
    assert(miss.isEmpty)
    assert(miss.inputFiles.isEmpty,
      s"fully-pruned probe still reports ${miss.inputFiles.length} files")
  }

  test("bloom serves string keys (where zone maps refuse) and refuses column mismatch + null probes") {
    val sink = scratch("bloomstr")
    Streaming.writeBatchIdempotent(Tables.events(spark, sf), sink, 0L)
    clusteredCompact(sink)
    SinkStats.indexSinkBloom(spark, sink, "event_type")
    val hit = SinkStats.readSinkPoint(spark, sink, "event_type", "purchase")
    assert(rowsOf(hit) == rowsOf(Streaming.readSink(spark, sink)
      .filter(col("event_type") === "purchase")))
    // a second column's bloom COEXISTS with the first (per-column
    // manifests - indexing event_id must not clobber event_type's)
    SinkStats.indexSinkBloom(spark, sink, "event_id")
    val probeId = Tables.events(spark, sf)
      .agg(min(col("event_id"))).head().getLong(0)
    assert(rowsOf(SinkStats.readSinkPoint(spark, sink, "event_id", probeId))
      == rowsOf(Streaming.readSink(spark, sink)
        .filter(col("event_id") === probeId)))
    assert(rowsOf(SinkStats.readSinkPoint(spark, sink, "event_type",
      "purchase")) == rowsOf(hit))
    val wrong = intercept[IllegalArgumentException] {
      SinkStats.readSinkPoint(spark, sink, "user_id", 1L)
    }
    assert(wrong.getMessage.contains("indexSinkBloom"))
    val nul = intercept[IllegalArgumentException] {
      SinkStats.readSinkPoint(spark, sink, "event_type", null)
    }
    assert(nul.getMessage.contains("IS NULL"))
  }

  test("NATIVE parquet blooms: footer-lifted index prunes and agrees with the exact filter; unbloomed columns fall back to the scan path") {
    val sink = scratch("bloomnative")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    // the auto-index conf makes the epoch WRITE emit parquet's native
    // blooms for event_id AND chains the (now footer-only) re-index
    // into the commit - no manual indexSinkBloom call anywhere here
    val prev = spark.conf.getOption("spark.graft.bloom.autoIndexColumns")
    try {
      spark.conf.set("spark.graft.bloom.autoIndexColumns", "event_id")
      withClusteredConf(sink)(
        Streaming.compactSink(spark, sink, quiesced = true))
    } finally prev.fold(
      spark.conf.unset("spark.graft.bloom.autoIndexColumns"))(
      v => spark.conf.set("spark.graft.bloom.autoIndexColumns", v))
    val e = Streaming.listSinkEpochs(spark, sink).collect()
      .map(_.getLong(0)).max
    val man = spark.read.parquet(s"$sink/epoch=$e/_file_bloom/col=event_id")
    val total = man.count()
    assert(man.columns.contains("native"))
    assert(man.filter(col("native") === true).count() == total && total > 30,
      s"expected every file footer-indexed, got " +
        s"${man.filter(col("native") === true).count()} of $total")
    val probeId = ev.agg(min(col("event_id"))).head().getLong(0)
    val hit = SinkStats.readSinkPoint(spark, sink, "event_id", probeId)
    assert(hit.inputFiles.length < total,
      s"native probe read ${hit.inputFiles.length} of $total files")
    assert(rowsOf(hit) == rowsOf(Streaming.readSink(spark, sink)
      .filter(col("event_id") === probeId)))
    val absentId = ev.agg(max(col("event_id"))).head().getLong(0) + 987654L
    val miss = SinkStats.readSinkPoint(spark, sink, "event_id", absentId)
    assert(miss.isEmpty && miss.inputFiles.isEmpty,
      s"native miss read ${miss.inputFiles.length} files")
    // a column the writer did NOT bloom (event_type) indexes through
    // the per-file scan fallback in the SAME epoch and still serves
    SinkStats.indexSinkBloom(spark, sink, "event_type")
    val man2 = spark.read
      .parquet(s"$sink/epoch=$e/_file_bloom/col=event_type")
    assert(man2.filter(col("native") === true).count() == 0,
      "event_type had no native blooms to lift")
    assert(rowsOf(SinkStats.readSinkPoint(spark, sink, "event_type",
      "purchase")) == rowsOf(Streaming.readSink(spark, sink)
      .filter(col("event_type") === "purchase")))
  }

  test("a lifecycle op stales the bloom manifest: point read refuses, re-index restores") {
    val sink = scratch("bloomstale")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    clusteredCompact(sink)
    SinkStats.indexSinkBloom(spark, sink, "event_id")
    val probeId = ev.agg(min(col("event_id"))).head().getLong(0)
    Streaming.deleteWhere(spark, sink, col("user_id") % 7 === 3)
    val e = intercept[IllegalArgumentException] {
      SinkStats.readSinkPoint(spark, sink, "event_id", probeId)
    }
    assert(e.getMessage.contains("indexSinkBloom"))
    SinkStats.indexSinkBloom(spark, sink, "event_id")
    assert(rowsOf(SinkStats.readSinkPoint(spark, sink, "event_id", probeId))
      == rowsOf(Streaming.readSink(spark, sink)
        .filter(col("event_id") === probeId)))
  }

  test("bloom point read includes live batches conservatively, unindexed") {
    val sink = scratch("bloomlive")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(
      ev.filter(pmod(col("event_id"), lit(2)) === 0), sink, 0L)
    clusteredCompact(sink)
    SinkStats.indexSinkBloom(spark, sink, "event_id")
    // an ODD id lives only in the post-index live batch - the bloom
    // cannot vouch for it, the read must still surface it
    Streaming.writeBatchIdempotent(
      ev.filter(pmod(col("event_id"), lit(2)) === 1), sink, 1L)
    val oddId = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .agg(min(col("event_id"))).head().getLong(0)
    val hit = SinkStats.readSinkPoint(spark, sink, "event_id", oddId)
    assert(rowsOf(hit) == rowsOf(Streaming.readSink(spark, sink)
      .filter(col("event_id") === oddId)))
    assert(hit.count() > 0)
  }

  test("live batches are included conservatively, unstatted") {
    val sink = scratch("live")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(
      ev.filter(pmod(col("event_id"), lit(2)) === 0), sink, 0L)
    clusteredCompact(sink)
    SinkStats.indexSinkStats(spark, sink, Seq("user_id"))
    // a batch lands AFTER indexing - stats don't cover it, the read must
    Streaming.writeBatchIdempotent(
      ev.filter(pmod(col("event_id"), lit(2)) === 1), sink, 1L)
    val pruned = SinkStats.readSinkPruned(spark, sink, "user_id", 0.0, 50.0)
    val full = Streaming.readSink(spark, sink)
      .filter(col("user_id") >= 0.0 && col("user_id") <= 50.0)
    assert(rowsOf(pruned) == rowsOf(full))
  }

  private def hfs(sink: String) = new org.apache.hadoop.fs.Path(sink)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def maxEpochOf(sink: String): Long =
    Streaming.listSinkEpochs(spark, sink).collect()
      .map(_.getLong(0)).max

  test("the epoch marker's bloom_cols record: written, inherited across lifecycle ops, and affirms 'none native' for conf-less lifecycles") {
    val sink = scratch("bloommarker")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    clusteredCompact(sink) // no bloom conf anywhere
    val f = hfs(sink)
    val e0 = maxEpochOf(sink)
    // the receipt that lets indexSinkBloom skip its footer pass
    assert(CommitLog.lenient(Streaming.epochMarker(f, sink, e0)
      .flatMap(_.bloomCols)) === Some(Set.empty),
      "a conf-less lifecycle must record an EMPTY bloom_cols set")
    // ...and the skip path still builds a correct all-scan manifest
    SinkStats.indexSinkBloom(spark, sink, "event_id")
    val man = spark.read.parquet(s"$sink/epoch=$e0/_file_bloom/col=event_id")
    assert(man.filter(col("native") === true).count() == 0)
    val probeId = ev.agg(min(col("event_id"))).head().getLong(0)
    assert(rowsOf(SinkStats.readSinkPoint(spark, sink, "event_id", probeId))
      == rowsOf(Streaming.readSink(spark, sink)
        .filter(col("event_id") === probeId)))
    // a delete WITH the write conf on: its marker records the column
    val prev = spark.conf.getOption("spark.graft.bloom.autoIndexColumns")
    try {
      spark.conf.set("spark.graft.bloom.autoIndexColumns", "event_id")
      Streaming.deleteWhere(spark, sink, col("user_id") % 7 === 3)
    } finally prev.fold(
      spark.conf.unset("spark.graft.bloom.autoIndexColumns"))(
      v => spark.conf.set("spark.graft.bloom.autoIndexColumns", v))
    val e1 = maxEpochOf(sink)
    assert(CommitLog.lenient(Streaming.epochMarker(f, sink, e1).flatMap(_.bloomCols))
      === Some(Set("event_id")))
    // a FURTHER mutation with the conf OFF still carries the record
    // forward: untouched days MOVE, so their bloomed files survive and
    // the union is what keeps the current epoch's line sound
    Streaming.deleteWhere(spark, sink, col("user_id") % 11 === 5)
    assert(CommitLog.lenient(Streaming.epochMarker(f, sink, maxEpochOf(sink))
      .flatMap(_.bloomCols))
      === Some(Set("event_id")),
      "the bloom_cols record must inherit from the previous epoch")
  }

  test("a MIXED epoch (native rewrites + moved-in bloom-less days) still classifies per file") {
    val sink = scratch("bloommixed")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    clusteredCompact(sink) // bloom-less base epoch
    // a DAY-LOCAL delete with the bloom write conf on: only the min
    // day rewrites (with native blooms); every other day MOVES in
    // carrying its bloom-less files - the mixed shape the per-file
    // classification exists for
    val minDay = ev.agg(min(to_date(col("ts")))).head().getDate(0)
    val prev = spark.conf.getOption("spark.graft.bloom.autoIndexColumns")
    try {
      spark.conf.set("spark.graft.bloom.autoIndexColumns", "event_id")
      Streaming.deleteWhere(spark, sink,
        to_date(col("ts")) === lit(minDay) && col("event_id") % 2 === 0)
    } finally prev.fold(
      spark.conf.unset("spark.graft.bloom.autoIndexColumns"))(
      v => spark.conf.set("spark.graft.bloom.autoIndexColumns", v))
    val e = maxEpochOf(sink)
    // the marker names the column (union of own conf + inherited), so
    // the footer classification RAN - and found both classes
    assert(CommitLog.lenient(Streaming.epochMarker(hfs(sink), sink, e)
      .flatMap(_.bloomCols))
      === Some(Set("event_id")))
    val man = spark.read.parquet(s"$sink/epoch=$e/_file_bloom/col=event_id")
    val nNative = man.filter(col("native") === true).count()
    val nScan = man.filter(col("native") === false).count()
    assert(nNative > 0 && nScan > 0,
      s"expected a mixed manifest, got native=$nNative scan=$nScan")
    // probes serve exactly from BOTH classes: a surviving id in the
    // rewritten day (native files) and one in an untouched day (scan)
    val inRewritten = ev.filter(to_date(col("ts")) === lit(minDay) &&
      col("event_id") % 2 === 1).agg(min(col("event_id"))).head().getLong(0)
    val inMoved = ev.filter(to_date(col("ts")) =!= lit(minDay))
      .agg(max(col("event_id"))).head().getLong(0)
    Seq(inRewritten, inMoved).foreach { id =>
      assert(rowsOf(SinkStats.readSinkPoint(spark, sink, "event_id", id))
        == rowsOf(Streaming.readSink(spark, sink)
          .filter(col("event_id") === id)), s"probe $id diverged")
    }
  }

  test("IN-list point lookup: one batched sweep, row- and kept-set-identical to the single-value path") {
    val sink = scratch("bloomin")
    val ev = Tables.events(spark, sf)
    Streaming.writeBatchIdempotent(ev, sink, 0L)
    // native epoch: the batched FOOTER sweep is the path under test
    val prev = spark.conf.getOption("spark.graft.bloom.autoIndexColumns")
    try {
      spark.conf.set("spark.graft.bloom.autoIndexColumns", "event_id")
      clusteredCompact(sink)
    } finally prev.fold(
      spark.conf.unset("spark.graft.bloom.autoIndexColumns"))(
      v => spark.conf.set("spark.graft.bloom.autoIndexColumns", v))
    val b = ev.agg(min(col("event_id")), max(col("event_id"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val absent = hi + 987654L
    val ids: Seq[Any] = Seq(lo, lo + (hi - lo) / 2, hi, absent)
    val batch = SinkStats.readSinkPointIn(spark, sink, "event_id", ids)
    val singles = ids.map(id =>
        SinkStats.readSinkPoint(spark, sink, "event_id", id))
      .reduce(_.unionByName(_))
    assert(rowsOf(batch) == rowsOf(singles))
    assert(rowsOf(batch) == rowsOf(Streaming.readSink(spark, sink)
      .filter(col("event_id").isin(ids: _*))))
    // per-value kept sets: the batch sweep must keep EXACTLY what each
    // single-value probe keeps (including the absent id's empty set)
    val f = hfs(sink)
    val e = maxEpochOf(sink)
    val (_, _, perBatch) = SinkStats.pointKeptByValue(spark, sink,
      "event_id", ids, f, e)
    ids.zipWithIndex.foreach { case (id, i) =>
      val (_, _, one) = SinkStats.pointKeptByValue(spark, sink,
        "event_id", Seq(id), f, e)
      assert(perBatch(i).toSet == one.head.toSet,
        s"batch kept ${perBatch(i).size} files for $id, " +
          s"single kept ${one.head.size}")
    }
    val (_, _, absentKept) = SinkStats.pointKeptByValue(spark, sink,
      "event_id", Seq(absent), f, e)
    assert(absentKept.head.isEmpty,
      s"absent id kept ${absentKept.head.size} files")
  }

  test("pruned and point reads keep a column only some of an epoch's files carry") {
    import spark.implicits._
    val sink = scratch("drift_kept")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Streaming.writeBatchIdempotent(Seq((ts("2024-01-01 10:00:00"), 1L, 7L),
      (ts("2024-01-02 10:00:00"), 2L, 8L)).toDF("ts", "event_id", "user_id"),
      sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    // the second compaction adds `extra` on day 2 only: with keepEpochs
    // = 1 the new epoch dir holds day 1's files, moved in without the
    // column, beside day 2's rewrite
    Streaming.writeBatchIdempotent(
      Seq((ts("2024-01-02 11:00:00"), 3L, 9L, "x"))
        .toDF("ts", "event_id", "user_id", "extra"), sink, 1L)
    Streaming.compactSink(spark, sink, quiesced = true)
    val full = Streaming.readSink(spark, sink)
    assert(full.columns.contains("extra"))
    SinkStats.indexSinkStats(spark, sink, Seq("user_id"))
    val pruned = SinkStats.readSinkPruned(spark, sink, "user_id", 7.0, 9.0)
    assert(pruned.columns.toSeq == full.columns.toSeq)
    assert(rowsOf(pruned) == rowsOf(full.filter(col("user_id").between(7, 9))))
    SinkStats.indexSinkBloom(spark, sink, "event_id")
    // one id from each day: both days' files are kept and read together
    val point = SinkStats.readSinkPointIn(spark, sink, "event_id", Seq(1L, 3L))
    assert(point.columns.toSeq == full.columns.toSeq)
    assert(point.filter(col("event_id") === 3L).select("extra").collect()
      .map(_.getString(0)).toSeq == Seq("x"))
    assert(rowsOf(point) == rowsOf(full.filter(col("event_id").isin(1L, 3L))))
    assert(SinkStats.indexSinkBloom(spark, sink, "extra") == 1L)
  }

  test("the stats and bloom manifests keep their rows") {
    import spark.implicits._
    val sink = scratch("manifest_rows")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Streaming.writeBatchIdempotent(Seq(
      (ts("2024-01-01 10:00:00"), 1L, Some(7L), "a"),
      (ts("2024-01-01 11:30:00"), 2L, None, "bb"),
      (ts("2024-01-02 10:00:00"), 3L, Some(8L), "\u017ceta"),
      (ts("2024-01-02 12:00:00"), 4L, Some(9L), null))
      .toDF("ts", "event_id", "user_id", "tag"), sink, 0L)
    // the write emits native blooms on event_id and lifts them into the
    // bloom manifest; user_id takes the scan path
    Streaming.compactSink(spark, sink, quiesced = true,
      conf = Some(graft.ops.SinkConf.of(spark).copy(
        bloomAutoIndex = Seq("event_id"))))
    assert(SinkStats.indexSinkStats(spark, sink,
      Seq("user_id", "tag", "ts")) == 2L)
    assert(SinkStats.indexSinkBloom(spark, sink, "user_id", bits = 64,
      seeds = 2) == 2L)
    val e = maxEpochOf(sink)
    val names = spark.read.parquet(s"$sink/epoch=$e/_file_stats")
      .select("file").distinct().collect().map(_.getString(0)).sorted
    def rank(r: org.apache.spark.sql.Row, i: Int): String =
      names.indexOf(r.getString(i)).toString
    def cell(v: Any): String = v match {
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case s: scala.collection.Seq[_] => s.mkString("[", " ", "]")
      case x => String.valueOf(x)
    }
    def rows(dir: String): Seq[String] = {
      val df = spark.read.parquet(s"$sink/epoch=$e/$dir")
      val fi = df.columns.indexOf("file")
      df.collect().toSeq.map(r => r.toSeq.indices.map(i =>
        if (i == fi) rank(r, i) else cell(r.get(i))).mkString("|")).sorted
    }
    // day | file rank | column | lo | hi | nrows | n_nulls | lo_b | hi_b
    assert(rows("_file_stats") == Seq(
      "day=2024-01-01|0|tag|null|null|2|0|61|6262",
      "day=2024-01-01|0|ts|1.7041031999999998E15|1.7041086000000002E15|2|0|null|null",
      "day=2024-01-01|0|user_id|6.999999999999999|7.000000000000001|2|1|null|null",
      "day=2024-01-02|1|tag|null|null|2|1|c5bc657461|c5bc657461",
      "day=2024-01-02|1|ts|1.7041895999999998E15|1.7041968000000002E15|2|0|null|null",
      "day=2024-01-02|1|user_id|7.999999999999999|9.000000000000002|2|0|null|null"))
    // day | file rank | bloom | native | column | col_type | bits | seeds
    assert(rows("_file_bloom/col=event_id") == Seq(
      "day=2024-01-01|0|null|true|event_id|bigint|16384|4",
      "day=2024-01-02|1|null|true|event_id|bigint|16384|4"))
    assert(rows("_file_bloom/col=user_id") == Seq(
      "day=2024-01-01|0|[12 51]|false|user_id|bigint|64|2",
      "day=2024-01-02|1|[4 18 22 58]|false|user_id|bigint|64|2"))
  }
}
