package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, round, sum}
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.{SparkEntry, Tables}
import graft.ops.{SinkStats, SqlSurface, Streaming, TextOps, VectorOps}

/** A workload's set-up and its operations, called only through each
  * module's public functions. */
abstract class Workloads(val cfg: Harness.Config, val spark: SparkSession) {
  type Answer = Option[(Array[Row], StructType)]
  val data: String = cfg.data
  def setup(): Unit
  def beforeLoop(): Unit = ()
  def run(op: Map[String, Any], t: Option[Trace#OpTrace]): Answer
  def afterLoop(): Map[String, Any] = Map.empty
  def finalChecks(out: String, done: Seq[Map[String, Any]]): Map[String, Any] =
    Map.empty

  /** The operations the set-up runs once, untimed, before the loop. */
  protected def warmUpNames: Seq[String] = cfg.extra.get("warm_up").toSeq
    .flatMap(_.asInstanceOf[java.util.List[String]].asScala)

  /** The warm-up's answers by query name, checked against the loop's. */
  val warmAnswers = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  protected def warmUp(name: String, df: DataFrame): Unit =
    warmAnswers(name) = (df.collect(), df.schema)

  /** Seconds spent in `Tables.warm` by the last set-up. */
  var warmS = 0.0
  protected def warm(): Unit = {
    val t0 = System.nanoTime()
    Tables.warm(spark, data)
    warmS = (System.nanoTime() - t0) / 1e9
  }

  protected def span[T](t: Option[Trace#OpTrace], name: String)(body: => T): T =
    t match { case Some(o) => o.span(name)(body); case None => body }

  /** Force planning layer by layer when traced, then collect. */
  protected def collect(df: DataFrame, t: Option[Trace#OpTrace]): Answer = {
    if (t.isDefined) {
      span(t, "plan.optimize")(df.queryExecution.optimizedPlan)
      span(t, "plan.physical")(df.queryExecution.executedPlan)
    }
    val rows = span(t, "action")(df.collect())
    Some((rows, df.schema))
  }

  def cacheStats(): Map[String, Any] = {
    val infos = spark.sparkContext.getRDDStorageInfo
    Map("cached_mb" -> infos.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      "cached_partitions" -> infos.map(_.numCachedPartitions).sum,
      "warm_s" -> warmS)
  }
}

object Workloads {
  def apply(cfg: Harness.Config, spark: SparkSession): Workloads =
    cfg.workload match {
      case "sql_text" => new SqlText(cfg, spark)
      case "curation" => new Curation(cfg, spark)
      case "lifecycle" => new Lifecycle(cfg, spark)
    }

  /** Every epoch the lifecycle sink mints carries a bloom manifest on
    * event_id, which `readSinkPoint` needs. */
  def sessionConf(workload: String): Seq[(String, String)] =
    if (workload == "lifecycle")
      Seq("spark.graft.bloom.autoIndexColumns" -> "event_id")
    else Nil

  /** The oracle statements, for the Python side's DuckDB checks. */
  def dump(path: String): Unit = Harness.writeJson(path,
    Map("oracle_sql" -> SparkEntry.oracleSql.asJava).asJava)
}

/** Oracle statements, verbatim, through `spark.sql` over the views. */
final class SqlText(cfg: Harness.Config, spark: SparkSession)
    extends Workloads(cfg, spark) {
  /** Warm-up: one untimed pass over the timed statements, so the loop
    * measures statements whose generated code is already compiled. */
  def setup(): Unit = {
    warm()
    SqlSurface.registerViews(spark, data)
    warmUpNames.foreach(n => warmUp(n, spark.sql(SparkEntry.oracleSql(n))))
  }
  def run(op: Map[String, Any], t: Option[Trace#OpTrace]): Answer = {
    val text = SparkEntry.oracleSql(op("name").toString)
    collect(span(t, "sql.analyze")(spark.sql(text)), t)
  }
}

/** Registry q-functions of the LLM-data pipeline over the generated corpus. */
final class Curation(cfg: Harness.Config, spark: SparkSession)
    extends Workloads(cfg, spark) {
  /** Warm-up: one untimed pass over the timed queries. */
  def setup(): Unit = {
    warm()
    warmUpNames.foreach(n => warmUp(n, SparkEntry.queries(n)(spark, data)))
  }
  def run(op: Map[String, Any], t: Option[Trace#OpTrace]): Answer = {
    val fn = SparkEntry.queries(op("name").toString)
    collect(span(t, "ops.call")(fn(spark, data)), t)
  }
}

/** Three stored structures under a seeded stream of writes, reads and
  * compactions. */
final class Lifecycle(cfg: Harness.Config, spark: SparkSession)
    extends Workloads(cfg, spark) {
  val stores = s"${cfg.work}/stores"
  val sink = s"$stores/sink"
  val lex = s"$stores/lex"
  val vec = s"$stores/vec"

  private def file(op: Map[String, Any]): DataFrame = normTs(
    spark.read.parquet(s"$data/${op("file")}"))

  /** Generated parquet stores timestamps without a zone; the sink keeps
    * session-zone TIMESTAMPs, as `Tables.events` does. */
  private def normTs(df: DataFrame): DataFrame =
    if (df.columns.contains("ts") && df.schema("ts").dataType != TimestampType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df

  def setup(): Unit = {
    warm()
    deleteRecursively(new File(stores))
    Streaming.writeBatchIdempotent(Tables.events(spark, data), sink, 0L)
    Streaming.compactSink(spark, sink, quiesced = true)
    TextOps.writeLexicalIndex(spark, Tables.documents(spark, data), lex)
    VectorOps.writeVectorIndex(spark, data, vec)
    // warm-up: the read paths once; reads leave the stores unchanged
    warmUpNames.foreach(k => run(Map("kind" -> k, "event_id" -> 0,
      "file" -> cfg.extra("lex_check_probes")), None))
  }

  def run(op: Map[String, Any], t: Option[Trace#OpTrace]): Answer = {
    def call[T](body: => T): T = span(t, "ops.call")(body)
    op("kind").toString match {
      case "sink.upsert" =>
        call(Streaming.upsertBatch(spark, sink, file(op), Seq("event_id"))); None
      case "sink.delete" =>
        call(Streaming.deleteKeys(spark, sink, file(op), Seq("event_id"))); None
      case "sink.compact" => call(Streaming.compactSink(spark, sink)); None
      case "sink.point_read" =>
        val id = op("event_id").toString.toLong
        collect(call(SinkStats.readSinkPoint(spark, sink, "event_id", id)
          .select("event_id", "ts", "user_id", "event_type", "value", "props")), t)
      case "sink.scan" =>
        collect(call(Streaming.readSink(spark, sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))), t)
      case "lex.upsert" =>
        call(TextOps.upsertLexicalIndex(spark, file(op), lex)); None
      case "lex.delete" =>
        call(TextOps.deleteFromLexicalIndex(spark, file(op), lex)); None
      case "lex.compact" => call(TextOps.compactLexicalIndex(spark, lex)); None
      case "lex.search" =>
        collect(call(TextOps.searchLexicalIndex(spark, file(op), lex)), t)
      case "vec.upsert" =>
        call(VectorOps.upsertVectorIndexRows(spark, file(op), vec)); None
      case "vec.delete" =>
        call(VectorOps.deleteFromVectorIndex(spark, vec, file(op))); None
      case "vec.compact" => call(VectorOps.compactVectorIndex(spark, vec)); None
      case "vec.search" =>
        collect(call(VectorOps.searchVectorIndex(spark, data, vec)), t)
    }
  }

  private var filesBefore = Set.empty[String]
  override def beforeLoop(): Unit = filesBefore = listFiles().map(_.getPath).toSet

  private def listFiles(): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(stores))
  }

  override def afterLoop(): Map[String, Any] = {
    val files = listFiles()
    val live = files.filterNot(_.getName.endsWith(".crc"))
    val written = live.filterNot(f => filesBefore(f.getPath))
    Map(
      "bytes_on_disk" -> files.map(_.length).sum,
      "files_live" -> live.size,
      "files_written" -> written.size,
      "bytes_written_live" -> written.map(_.length).sum,
      "marker_files" -> live.count(_.getName.startsWith("_")))
  }

  /** Untimed: the sink's final rows for the replay check, and the
    * lexical index searched against a freshly written index over the
    * final documents. */
  override def finalChecks(out: String, done: Seq[Map[String, Any]])
      : Map[String, Any] = {
    Streaming.readSink(spark, sink)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/sink_final")
    val probes = spark.read.parquet(s"$data/${cfg.extra("lex_check_probes")}")
    val finalDocs = done.foldLeft(
        Tables.documents(spark, data).select("doc_id", "text")) { (d, op) =>
      op("kind") match {
        case "lex.upsert" =>
          val b = file(op).select("doc_id", "text")
          d.join(b.select("doc_id"), Seq("doc_id"), "left_anti").unionByName(b)
        case "lex.delete" => d.join(file(op).select("doc_id"), Seq("doc_id"), "left_anti")
        case _ => d
      }
    }.localCheckpoint()
    val fresh = s"${cfg.work}/fresh_lex"
    TextOps.writeLexicalIndex(spark, finalDocs, fresh)
    def rows(path: String) = TextOps.searchLexicalIndex(spark, probes, path)
      .collect().map(_.toString).sorted.toSeq
    val (got, want) = (rows(lex), rows(fresh))
    Map("lex_fresh_equal" -> (got == want), "lex_fresh_rows" -> want.size)
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
