package graft

import java.io.File
import java.sql.Timestamp

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.ops.{SinkConf, Streaming}

/** No epoch mint adopts a crashed attempt. A delete or upsert that died
  * before its commit marker leaves an uncommitted `epoch=<max+1>` dir;
  * the next op that mints that id must discard it first. Each case
  * plants such an attempt holding a phantom row in a day that survives
  * the op, runs one epoch-minting op in snapshot mode (keepEpochs=2,
  * where a planted physical day would shadow the by-reference one), and
  * reads back exactly the expected rows. */
class CrashAdoptionSpec extends SparkSpecBase {

  private def tsv(s: String) = Timestamp.valueOf(s)

  private lazy val conf = Some(SinkConf.of(spark).copy(keepEpochs = 2))

  /** A compacted three-day sink (ids 1, 2, 3 on 2024-01-01..03, epoch 0),
    * built once and copied per case. */
  private lazy val base: String = {
    import spark.implicits._
    val out = s"${java.nio.file.Files.createTempDirectory("adopt_base")}/events"
    Streaming.writeBatchIdempotent(
      Seq((tsv("2024-01-01 10:00:00"), 1L, 7L), (tsv("2024-01-02 10:00:00"), 2L, 7L),
        (tsv("2024-01-03 10:00:00"), 3L, 7L)).toDF("ts", "event_id", "user_id"),
      out, 0L)
    assert(Streaming.compactSink(spark, out, quiesced = true, conf = conf) == 0L)
    out
  }

  /** The parquet file of a one-row day holding the phantom id 99. */
  private lazy val phantom: File = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("adopt_phantom").toString
    Seq((tsv("2024-01-03 12:00:00"), 99L, 7L)).toDF("ts", "event_id", "user_id")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    new File(dir).listFiles().find(_.getName.startsWith("part-")).get
  }

  private def sink(): String = {
    val out = s"${java.nio.file.Files.createTempDirectory("adopt")}/events"
    FileUtils.copyDirectory(new File(base), new File(out))
    out
  }

  /** Plant an uncommitted attempt at the id the next mint takes. */
  private def plant(out: String, epoch: Long): Unit = {
    val day = new File(s"$out/epoch=$epoch/day=2024-01-03")
    day.mkdirs()
    FileUtils.copyFile(phantom, new File(day, "part-00000-phantom.parquet"))
  }

  private def ids(out: String): Seq[Long] = {
    import spark.implicits._
    Streaming.readSink(spark, out, conf = conf)
      .select("event_id").as[Long].collect().sorted.toSeq
  }

  private def batch(ts: String, id: Long) = {
    import spark.implicits._
    Seq((tsv(ts), id, 8L)).toDF("ts", "event_id", "user_id")
  }

  test("compactSink discards a crashed attempt at the id it mints") {
    val out = sink()
    Streaming.writeBatchIdempotent(batch("2024-01-04 10:00:00", 4L), out, 1L)
    plant(out, 1L)
    assert(Streaming.compactSink(spark, out, quiesced = true, conf = conf) == 1L)
    assert(ids(out) == Seq(1L, 2L, 3L, 4L))
  }

  test("deleteWhere discards a crashed attempt at the id it mints") {
    val out = sink()
    plant(out, 1L)
    assert(Streaming.deleteWhere(spark, out, col("event_id") === 1L,
      conf = conf) == 1L)
    assert(ids(out) == Seq(2L, 3L))
  }

  test("updateWhere discards a crashed attempt at the id it mints") {
    val out = sink()
    plant(out, 1L)
    assert(Streaming.updateWhere(spark, out, col("event_id") === 2L,
      Seq("user_id" -> lit(9L)), conf = conf) == 1L)
    assert(ids(out) == Seq(1L, 2L, 3L))
  }

  test("upsertBatch discards a crashed attempt at the id it mints") {
    val out = sink()
    plant(out, 1L)
    assert(Streaming.upsertBatch(spark, out, batch("2024-01-02 10:00:00", 2L),
      Seq("event_id"), conf = conf) == 1L)
    assert(ids(out) == Seq(1L, 2L, 3L))
  }

  test("applyBatch discards a crashed attempt at the id it mints") {
    import spark.implicits._
    val out = sink()
    plant(out, 1L)
    assert(Streaming.applyBatch(spark, out, Seq(1L).toDF("event_id"),
      batch("2024-01-02 11:00:00", 5L), Seq("event_id"), conf = conf) == 1L)
    assert(ids(out) == Seq(2L, 3L, 5L))
  }

  test("restoreSink discards a crashed attempt at the id it mints") {
    val out = sink()
    Streaming.deleteWhere(spark, out, col("event_id") === 1L, conf = conf)
    plant(out, 2L)
    assert(Streaming.restoreSink(spark, out, 0L, conf = conf) == 2L)
    assert(ids(out) == Seq(1L, 2L, 3L))
  }

  test("retireDays discards a crashed attempt at the id it mints") {
    val out = sink()
    plant(out, 1L)
    assert(Streaming.retireDays(spark, out, java.sql.Date.valueOf("2024-01-02"),
      conf = conf) == Seq("day=2024-01-01"))
    assert(ids(out) == Seq(2L, 3L))
  }
}
