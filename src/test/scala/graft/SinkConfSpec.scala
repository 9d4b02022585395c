package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{CommitLog, SinkConf, Streaming}

/** [[SinkConf.of]] is the one parser of the sink's session keys: its
  * defaults, list trimming and refusal messages, and one op showing an
  * explicit `conf` reaches both the epoch's files and its marker. */
class SinkConfSpec extends SparkSpecBase {

  private val keys = Seq("sink.keepEpochs", "sink.changeFiles",
    "sink.checkMode", "compact.targetFileBytes", "compact.clusterBy",
    "compact.zorderBy", "compact.lockStaleMs", "writer.lockStaleMs",
    "stats.autoIndexColumns", "bloom.autoIndexColumns",
    "maintain.statsColumns", "maintain.bloomColumn", "cdc.useChangeFiles")
    .map("spark.graft." + _)

  /** Run `body` with every sink key unset except `kv`, then put the
    * session back as it was. */
  private def withOnly[T](kv: (String, String)*)(body: => T): T = {
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.unset)
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SinkConf.of: the defaults with no key set") {
    val hour = 60L * 60 * 1000
    assert(withOnly()(SinkConf.of(spark)) === SinkConf(
      keepEpochs = 1, changeFiles = false, checkMode = "refuse",
      targetFileBytes = 128L << 20, clusterBy = Nil, zorderBy = Nil,
      compactLockStaleMs = hour, writerLockStaleMs = hour,
      statsAutoIndex = Nil, bloomAutoIndex = Nil,
      maintainStatsColumns = Nil, maintainBloomColumn = None,
      cdcUseChangeFiles = true))
  }

  test("SinkConf.of: comma lists are trimmed and empty entries dropped") {
    val c = withOnly(
      "spark.graft.compact.clusterBy" -> " user_id , ,ts,",
      "spark.graft.compact.zorderBy" -> "user_id,,value ",
      "spark.graft.stats.autoIndexColumns" -> ",user_id",
      "spark.graft.bloom.autoIndexColumns" -> " event_id ",
      "spark.graft.maintain.statsColumns" -> " , ",
      "spark.graft.maintain.bloomColumn" -> "  ",
      "spark.graft.sink.keepEpochs" -> "3",
      "spark.graft.sink.changeFiles" -> "TRUE",
      "spark.graft.cdc.useChangeFiles" -> "false")(SinkConf.of(spark))
    assert(c.clusterBy === Seq("user_id", "ts"))
    assert(c.zorderBy === Seq("user_id", "value"))
    assert(c.statsAutoIndex === Seq("user_id"))
    assert(c.bloomAutoIndex === Seq("event_id"))
    assert(c.maintainStatsColumns === Nil)
    assert(c.maintainBloomColumn === None)
    assert(c.keepEpochs == 3 && c.changeFiles && !c.cdcUseChangeFiles)
    assert(withOnly("spark.graft.maintain.bloomColumn" -> " event_id ")(
      SinkConf.of(spark)).maintainBloomColumn === Some("event_id"))
  }

  test("SinkConf.of: a bad keepEpochs or checkMode refuses with the existing messages") {
    val keep = intercept[IllegalArgumentException](
      withOnly("spark.graft.sink.keepEpochs" -> "0")(SinkConf.of(spark)))
    assert(keep.getMessage ===
      "requirement failed: spark.graft.sink.keepEpochs must be >= 1, got 0")
    val mode = intercept[IllegalArgumentException](
      withOnly("spark.graft.sink.checkMode" -> "divert")(SinkConf.of(spark)))
    assert(mode.getMessage === "requirement failed: " +
      "spark.graft.sink.checkMode must be 'refuse' or 'quarantine', " +
      "got 'divert'")
    // an override is checked the same way
    intercept[IllegalArgumentException](
      withOnly()(SinkConf.of(spark)).copy(keepEpochs = 0))
  }

  test("an explicit bloomAutoIndex reaches both the epoch's files and its marker") {
    import spark.implicits._
    val out = s"${java.nio.file.Files.createTempDirectory("sinkconf")}/events"
    val rows = (0 until 200).map { i =>
      (Timestamp.valueOf(s"2024-01-0${1 + i % 3} 10:00:00"), i.toLong,
        (i % 17).toLong)
    }
    Streaming.writeBatchIdempotent(
      rows.toDF("ts", "event_id", "user_id"), out, 0L)
    val e = withOnly() {
      val e = Streaming.compactSink(spark, out, quiesced = true,
        conf = Some(SinkConf.of(spark).copy(bloomAutoIndex = Seq("event_id"))))
      assert(spark.conf.getOption("spark.graft.bloom.autoIndexColumns").isEmpty)
      e
    }
    val f = CommitLog.fs(spark, out)
    assert(CommitLog.lenient(Streaming.epochMarker(f, out, e).flatMap(_.bloomCols))
      === Some(Set("event_id")))
    // the compaction's own auto-index lifted every file's bloom from its
    // footer: the files carry native blooms for the column
    val man = spark.read.parquet(s"$out/epoch=$e/_file_bloom/col=event_id")
    assert(man.count() > 0)
    assert(man.filter(!col("native")).isEmpty,
      "every file of the epoch should carry a native event_id bloom")
  }
}
