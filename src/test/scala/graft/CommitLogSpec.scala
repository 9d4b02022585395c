package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.ops.{CommitLog, Streaming, TextOps, VectorOps, Views}

/** The on-disk commit-marker format of every stored structure, pinned
  * byte for byte (the time-dependent `mint_ms` value masked), plus the
  * protocol rules [[CommitLog]] owns: a leftover `.tmp` never commits,
  * a `replaces=` marker hides what it names, strict reads throw and
  * lenient reads return None. */
class CommitLogSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A marker's exact content, with `mint_ms=<digits>` masked. */
  private def marker(path: String): String =
    new String(Files.readAllBytes(new File(path).toPath), UTF_8)
      .replaceAll("mint_ms=[0-9]+", "mint_ms=<ms>")

  private def write(path: String, content: Array[Byte]): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(new File(path).toPath, content)
  }

  private def withKeepEpochs[T](k: Int)(body: => T): T = {
    val prev = spark.conf.getOption("spark.graft.sink.keepEpochs")
    spark.conf.set("spark.graft.sink.keepEpochs", k.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.graft.sink.keepEpochs", v)
      case None => spark.conf.unset("spark.graft.sink.keepEpochs")
    }
  }

  private val sinkSchema =
    """{"type":"struct","fields":[""" +
      """{"name":"ts","type":"timestamp","nullable":true,"metadata":{}},""" +
      """{"name":"event_id","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"user_id","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"day","type":"date","nullable":true,"metadata":{}}]}"""

  test("the epoch sink's markers keep their bytes") {
    import spark.implicits._
    val out = s"${tmpDir("clog_sink")}/events"
    def batch(ts: String, id: Long) =
      Seq((Timestamp.valueOf(ts), id, 7L)).toDF("ts", "event_id", "user_id")
    withKeepEpochs(2) {
      Streaming.writeBatchIdempotent(batch("2024-01-01 10:00:00", 1L), out, 0L)
      assert(Streaming.compactSink(spark, out, quiesced = true) == 0L)
      assert(marker(s"$out/epoch=0/_EPOCH_COMMIT") ===
        s"batches=0\nop=compact\nbloom_cols=\nschema=$sinkSchema\n" +
          "mint_ms=<ms>")
      // snapshot mode keeps the moved day by reference: the plan stays
      Streaming.writeBatchIdempotent(batch("2024-01-02 10:00:00", 2L), out, 1L)
      assert(Streaming.compactSink(spark, out, quiesced = true) == 1L)
      assert(marker(s"$out/epoch=1/_EPOCH_COMMIT") ===
        s"batches=1\nop=compact\nbloom_cols=\nschema=$sinkSchema\n" +
          "mint_ms=<ms>")
      assert(marker(s"$out/epoch=1/_MERGE_PLAN") === "from=0\nday=2024-01-01")
      Streaming.addSinkCheck(spark, out, "positive_id", "event_id > 0")
      Streaming.addSinkCheck(spark, out, "known_ts", "ts IS NOT NULL")
      assert(marker(s"$out/_CHECKS") ===
        "positive_id=event_id > 0\nknown_ts=ts IS NOT NULL")
      Streaming.alterSink(spark, out, renames = Map("user_id" -> "uid"))
      assert(marker(s"$out/_PENDING_ALTER") === "rename user_id uid")
    }
    assert(!new File(out).list().exists(_.endsWith(".tmp")),
      "an installed marker left its temp file behind")
  }

  test("every non-compact epoch mint keeps its marker bytes and a rising mint_ms") {
    import spark.implicits._
    val out = s"${tmpDir("clog_mints")}/events"
    val conf = Some(graft.ops.SinkConf.of(spark).copy(keepEpochs = 8))
    def batch(ts: String, id: Long, user: Long) =
      Seq((Timestamp.valueOf(ts), id, user)).toDF("ts", "event_id", "user_id")
    Streaming.writeBatchIdempotent(
      batch("2024-01-01 10:00:00", 1L, 7L)
        .union(batch("2024-01-02 10:00:00", 2L, 7L))
        .union(batch("2024-01-03 10:00:00", 3L, 7L)), out, 4L)
    assert(Streaming.compactSink(spark, out, quiesced = true, conf = conf) == 4L)
    // each mint consumes no batch: batches= carries watermark 4 forward,
    // and every op records the sink's own column order
    def pinned(op: String) =
      s"batches=4\nop=$op\nbloom_cols=\nschema=$sinkSchema\nmint_ms=<ms>"
    assert(Streaming.deleteWhere(spark, out, col("event_id") === 1L,
      conf = conf) == 5L)
    assert(Streaming.updateWhere(spark, out, col("event_id") === 2L,
      Seq("user_id" -> lit(8L)), conf = conf) == 6L)
    assert(Streaming.upsertBatch(spark, out,
      batch("2024-01-03 10:00:00", 3L, 9L), Seq("event_id"), conf = conf) == 7L)
    assert(Streaming.applyBatch(spark, out, Seq(2L).toDF("event_id"),
      batch("2024-01-04 10:00:00", 4L, 7L), Seq("event_id"), conf = conf) == 8L)
    assert(Streaming.retireDays(spark, out, java.sql.Date.valueOf("2024-01-04"),
      conf = conf) == Seq("day=2024-01-03"))
    assert(Streaming.restoreSink(spark, out, 7L, conf = conf) == 10L)
    Seq(5L -> "delete", 6L -> "update", 7L -> "upsert", 8L -> "apply",
      9L -> "retire", 10L -> "restore").foreach { case (e, op) =>
      assert(marker(s"$out/epoch=$e/_EPOCH_COMMIT") === pinned(op))
    }
    val f = CommitLog.fs(spark, out)
    val mints = (4L to 10L).map(e =>
      Streaming.epochMarker(f, out, e).flatMap(_.mintMs).get)
    assert(mints.zip(mints.tail).forall { case (a, b) => a < b },
      s"mint_ms not strictly increasing: $mints")
  }

  test("a key-matched delete or upsert serves the sink's column order") {
    import spark.implicits._
    val out = s"${tmpDir("clog_order")}/events"
    def batch(ts: String, id: Long) =
      Seq((Timestamp.valueOf(ts), id, 7L)).toDF("ts", "event_id", "user_id")
    Streaming.writeBatchIdempotent(batch("2024-01-01 10:00:00", 1L)
      .union(batch("2024-01-02 10:00:00", 2L)), out, 0L)
    Streaming.compactSink(spark, out, quiesced = true)
    val compacted = Streaming.readSink(spark, out).columns.toSeq
    Streaming.deleteKeys(spark, out, Seq(1L).toDF("event_id"), Seq("event_id"))
    val deleted = Streaming.readSink(spark, out).columns.toSeq
    Streaming.upsertBatch(spark, out, batch("2024-01-02 11:00:00", 2L),
      Seq("event_id"))
    val upserted = Streaming.readSink(spark, out).columns.toSeq
    assert((deleted, upserted) === ((compacted, compacted)))
  }

  test("the lexical index's generation markers keep their bytes") {
    import spark.implicits._
    val out = tmpDir("clog_lex")
    val docs = Seq((1L, "red fox"), (2L, "blue fox"), (3L, "red hen"))
      .toDF("doc_id", "text")
    TextOps.writeLexicalIndex(spark, docs.filter($"doc_id" < 3), out,
      Seq("cursor=4", "epoch=1"))
    assert(marker(s"$out/_GEN_COMMIT_0") === "cursor=4\nepoch=1")
    TextOps.appendLexicalIndex(spark, docs.filter($"doc_id" === 3), out,
      Seq("cursor=6", "epoch=2"))
    assert(marker(s"$out/_GEN_COMMIT_1") === "cursor=6\nepoch=2")
    assert(TextOps.deleteFromLexicalIndex(spark, Seq(2L).toDF("doc_id"),
      out) == 2L)
    assert(marker(s"$out/_GEN_COMMIT_2") === "")
    assert(TextOps.compactLexicalIndex(spark, out) == 3L)
    assert(marker(s"$out/_GEN_COMMIT_3") ===
      "replaces=0,1,2\ncursor=6\nepoch=2")
    assert(new File(out).list().filter(_.startsWith("_GEN_COMMIT_")).toSeq
      === Seq("_GEN_COMMIT_3"), "compaction left superseded markers")
  }

  test("the vector index's certificate and generation markers keep their bytes") {
    val out = tmpDir("clog_vec")
    VectorOps.writeVectorIndex(spark, sf, out,
      encodeFilter = col("vec_id") < 20)
    assert(marker(s"$out/_INDEX_COMMIT") === "m=8\nk=16\nlists=16")
    VectorOps.appendVectorIndexRows(spark,
      Tables.embeddings(spark, sf).filter(col("vec_id").between(20, 29)),
      out, Seq("cursor=2", "epoch=0"))
    assert(marker(s"$out/_GEN_COMMIT_1") === "cursor=2\nepoch=0")
    assert(VectorOps.compactVectorIndex(spark, out) == 2L)
    assert(marker(s"$out/_GEN_COMMIT_2") === "replaces=0,1\ncursor=2\nepoch=0")
    // the certificate outlives the generation it first committed
    assert(new File(out, "_INDEX_COMMIT").exists())
    assert(!new File(out, "_GEN_COMMIT_1").exists())
  }

  test("the view's generation markers keep their bytes") {
    import spark.implicits._
    val root = tmpDir("clog_view")
    val (sink, view) = (s"$root/sink", s"$root/view")
    def batch(ts: String, id: Long) =
      Seq((Timestamp.valueOf(ts), id, 7L)).toDF("ts", "event_id", "user_id")
    val vd = Views.ViewDef(Seq("day"),
      df => df.groupBy(col("day")).agg(count(lit(1)).as("n")),
      Seq("n" -> "sum"))
    Streaming.writeBatchIdempotent(batch("2024-01-01 10:00:00", 1L), sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    Streaming.writeBatchIdempotent(batch("2024-01-02 10:00:00", 2L), sink, 1L)
    assert(Views.createView(spark, sink, view, vd) == 0L)
    assert(marker(s"$view/_VIEW_COMMIT_0") ===
      "cursor=1\nepoch=0\nmode=full\ndef=day|n:sum\nreplaces=")
    Streaming.writeBatchIdempotent(batch("2024-01-03 10:00:00", 3L), sink, 2L)
    assert(Views.refreshView(spark, sink, view, vd) == (1L, "incremental"))
    assert(marker(s"$view/_VIEW_COMMIT_1") ===
      "cursor=2\nepoch=0\nmode=incremental\ndef=day|n:sum\nreplaces=0")
    assert(!new File(view, "_VIEW_COMMIT_0").exists() &&
      !new File(view, "gen=0").exists(), "refresh left generation 0 behind")
  }

  test("a leftover temp marker is never committed") {
    val root = tmpDir("clog_tmp")
    write(s"$root/_GEN_COMMIT_0", "cursor=1".getBytes(UTF_8))
    // a crash between the temp write and its rename
    write(s"$root/._GEN_COMMIT_1.tmp", "replaces=0".getBytes(UTF_8))
    val f = CommitLog.fs(spark, root)
    val gens = CommitLog.generations(f, new Path(root), "_GEN_COMMIT_")
    assert(gens.all.map(_.id) === Seq(0L))
    assert(gens.committed === Seq(0L))
    assert(gens.nextId == 1L, "the torn generation's id is minted again")
    // the same through a subsystem: a stray temp marker in a live
    // lexical index changes nothing a reader sees
    import spark.implicits._
    val lex = tmpDir("clog_tmp_lex")
    TextOps.writeLexicalIndex(spark,
      Seq((1L, "red fox")).toDF("doc_id", "text"), lex)
    write(s"$lex/._GEN_COMMIT_1.tmp", "replaces=0".getBytes(UTF_8))
    val d = TextOps.describeLexicalIndex(spark, lex).head()
    assert(d.getAs[Long]("gens_kept") == 1L && d.getAs[Long]("current_gen") == 0L)
  }

  test("a replaces= marker hides the generations it names, and retire drops them data first") {
    val root = tmpDir("clog_replaces")
    write(s"$root/_GEN_COMMIT_0", "cursor=3\nepoch=1".getBytes(UTF_8))
    write(s"$root/_GEN_COMMIT_1", Array.emptyByteArray)
    write(s"$root/_GEN_COMMIT_2", "cursor=5".getBytes(UTF_8))
    write(s"$root/_GEN_COMMIT_3",
      "replaces=0,1\ncursor=3\nepoch=1".getBytes(UTF_8))
    (0 to 3).foreach(g => write(s"$root/data/gen=$g/part", Array[Byte](1)))
    val f = CommitLog.fs(spark, root)
    val gens = CommitLog.generations(f, new Path(root), "_GEN_COMMIT_")
    assert(gens.committed === Seq(2L, 3L))
    assert(gens.nextId == 4L)
    assert(gens.syncState == (5L, 1L), "lineage is the max over committed markers")
    assert(gens.carriedLineage === Seq("cursor=5", "epoch=1"))
    gens.retire(g => Seq(new Path(s"$root/data/gen=$g")))
    assert(new File(root).list().filter(_.startsWith("_GEN")).sorted.toSeq
      === Seq("_GEN_COMMIT_2", "_GEN_COMMIT_3"))
    assert(new File(s"$root/data").list().sorted.toSeq ===
      Seq("gen=2", "gen=3"))
    // idempotent: the replacing marker still names 0,1, both gone
    CommitLog.generations(f, new Path(root), "_GEN_COMMIT_")
      .retire(g => Seq(new Path(s"$root/data/gen=$g")))
    assert(CommitLog.generations(f, new Path(root), "_GEN_COMMIT_")
      .committed === Seq(2L, 3L))
  }

  test("strict marker reads throw on unreadable or corrupt content; lenient reads return None") {
    val root = tmpDir("clog_strict")
    val f = CommitLog.fs(spark, root)
    val missing = new Path(s"$root/_GEN_COMMIT_9")
    intercept[java.io.FileNotFoundException](CommitLog.readLines(f, missing))
    assert(CommitLog.lenient(Some(CommitLog.readLines(f, missing))).isEmpty)
    // undecodable bytes are unreadable, not empty
    write(s"$root/bad/_GEN_COMMIT_0", Array(0xff, 0xfe, 0x80).map(_.toByte))
    intercept[java.io.IOException](
      CommitLog.generations(f, new Path(s"$root/bad"), "_GEN_COMMIT_"))
    // a corrupt replaces list refuses instead of committing a guess
    write(s"$root/corrupt/_GEN_COMMIT_1", "replaces=0,x".getBytes(UTF_8))
    intercept[NumberFormatException](
      CommitLog.generations(f, new Path(s"$root/corrupt"), "_GEN_COMMIT_")
        .committed)
    // the epoch marker: strict records throw, lenient accessors shrug
    val sink = s"$root/sink"
    write(s"$sink/epoch=0/_EPOCH_COMMIT",
      "batches=zz\nop=compact\nmint_ms=soon".getBytes(UTF_8))
    val m = Streaming.epochMarker(f, sink, 0L).get
    assert(intercept[IllegalStateException](m.watermark).getMessage
      .contains("corrupt epoch commit marker"))
    intercept[IllegalStateException](m.mintMs)
    assert(m.op === Some("compact"))
    assert(CommitLog.lenient(
      Streaming.epochMarker(f, sink, 0L).flatMap(_.mintMs)).isEmpty)
    assert(intercept[IllegalStateException](Streaming.epochMarker(f, sink, 1L))
      .getMessage.contains("cannot read epoch commit marker"))
    assert(CommitLog.lenient(
      Streaming.epochMarker(f, sink, 1L).flatMap(_.bloomCols)).isEmpty)
    assert(Streaming.epochMarker(f, sink, -1L).isEmpty, "−1 is no epoch")
  }

  test("write installs by rename, replaces atomically, and keyValues splits at the first =") {
    val root = tmpDir("clog_write")
    val f = CommitLog.fs(spark, root)
    val dir = new Path(root)
    CommitLog.write(f, dir, "_CHECKS", "a=x > 0", "checks failed",
      atomicReplace = true)
    CommitLog.write(f, dir, "_CHECKS", "a=x > 1", "checks failed",
      atomicReplace = true)
    assert(marker(s"$root/_CHECKS") === "a=x > 1")
    assert(CommitLog.readLines(f, new Path(dir, "_CHECKS")) === List("a=x > 1"))
    assert(CommitLog.keyValues(Seq("a=1", "b", "a=2", "c=x=y")) ===
      Map("a" -> "1", "c" -> "x=y"))
  }

  test("an atomic replace leaves only the marker in its directory") {
    val root = tmpDir("clog_replace")
    val f = CommitLog.fs(spark, root)
    val dir = new Path(root)
    CommitLog.write(f, dir, "_CHECKS", "a=x > 0", "checks failed",
      atomicReplace = true)
    CommitLog.write(f, dir, "_CHECKS", "a=x > 1", "checks failed",
      atomicReplace = true)
    assert(new File(root).list().toSeq === Seq("_CHECKS"))
  }
}
