package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.storage.StorageLevel

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * All 10 tables are plain parquet files; reading through here keeps the
  * scan declarative so Catalyst can push filters/column pruning into the
  * vectorized parquet reader (SURVEY §2.1 S1/S4). At 100 TB these become
  * partitioned/bucketed table reads — the query code below never assumes
  * a single file.
  *
  * Caching layer: the driver's test parquet is written as ONE row group
  * per table, so a plain scan is a single task no matter how many cores
  * the session has. When `spark.graft.cacheTables=true` (set by Bench),
  * fact tables are repartitioned by size (about 4 MiB per partition, at
  * least min(cores, 8) partitions) and persisted — the local[32]
  * analogue of the partitioned/bucketed layout a 100 TB warehouse would
  * already have on disk. Dimension tables stay
  * un-repartitioned (they must remain obviously broadcast-able).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables big enough (at any SF) that single-task scans matter. */
  private val factNames = Set(
    "customer", "part", "orders", "lineitem", "events",
    "documents", "embeddings")

  // Keyed by session (via SessionCache): a cached DataFrame is unusable
  // after its owning session stops (tests create/stop several sessions),
  // and a hit is honored only for the identical session object.
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (SparkSession, DataFrame)]

  private def raw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Cached-fact partition count, derived from the table's BYTES, not
    * the session's core count (guide §2.2/§6: size partitions to data).
    * Through r18 this was `defaultParallelism`, which at local[32] over
    * sf0.1 spread ~350 KB per partition — every scan of every cached
    * fact cost 32 task launches for KB-scale work, and the driver's own
    * scaling run showed the bill: 50/166 queries ran ≥2× SLOWER at 32
    * cores than at 8 (134 s vs 90.6 s total). Bytes/target keeps the
    * count scale-adaptive (sf1 gets ~10× sf0.1's partitions without any
    * retuning; at 100 TB the layout is on disk and this path is moot);
    * the floor keeps per-ROW-expensive ops (tokenization over a few
    * thousand documents is CPU-bound long before it is MB-sized) from
    * serializing onto one core at tiny SF. */
  private def cachedPartitions(spark: SparkSession, df: DataFrame): Int = {
    val target = 4L << 20
    val floor = math.min(spark.sparkContext.defaultParallelism, 8)
    val stat = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val bytes = if (stat >= BigInt(Long.MaxValue) / 2) 0L else stat.toLong
    math.min(32768L,
      math.max(floor.toLong, (bytes + target - 1) / target)).toInt
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val caching = spark.conf.getOption("spark.graft.cacheTables").contains("true")
    if (!caching) raw(spark, sfDir, name)
    else SessionCache.getOrBuild(cache, spark, s"$sfDir/$name") {
      val df0 = raw(spark, sfDir, name)
      val df =
        if (factNames(name))
          df0.repartition(cachedPartitions(spark, df0))
        else df0
      df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }
  }

  /** Materialize the cached form of every table (Bench warmup). */
  def warm(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else table(spark, sfDir, n)
      df.count()
    }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts has shipped as either parquet TIMESTAMP(NANOS) — which
    * Spark 4 refuses to read natively (PARQUET_TYPE_ILLEGAL) — or plain
    * TIMESTAMP(MICROS), depending on the generator version. Adapt to the
    * file's actual schema: nanos are read as BIGINT via the legacy flag
    * and truncated to micros (the same truncation DuckDB applies casting
    * TIMESTAMP_NS → TIMESTAMP), micros are taken as-is; either way the
    * column is normalized to session-TZ TIMESTAMP (sessions pin UTC, so
    * the NTZ cast is value-identity and oracle comparisons stay exact). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => // TIMESTAMP_NTZ (or date): value-identity under UTC session
        raw.withColumn("ts",
          raw("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Persist `df` as a bucketed (+ bucket-sorted) catalog table: the
    * co-located layout that makes repeated equi-joins/aggregations on
    * `keys` shuffle-free — both sides of a join bucketed the same way
    * join with ZERO Exchange (verified in BucketedJoinSpec). At 100 TB
    * this is the warehouse layout decision for the biggest fact keys
    * (l_orderkey / o_orderkey); the bucket count becomes the join
    * parallelism, so size it to the cluster, not the laptop. */
  def writeBucketedTable(df: DataFrame, tableName: String, path: String,
      buckets: Int, keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(tableName)

  /** Persist `df` hive-partitioned on `keys` (one directory per key
    * value): the OTHER half of the warehouse layout story. Bucketing
    * kills the join shuffle; partitioning kills the SCAN — an equality
    * or range predicate on a partition key becomes a PartitionFilter,
    * and Spark lists only the matching directories, so a
    * one-language query over a 100 TB multilingual corpus reads that
    * language's bytes and nothing else (PartitionedScanSpec asserts
    * the pruned file set). Choose low-cardinality, always-filtered
    * keys (lang, date, source); high-cardinality keys belong in
    * bucketing or sort order instead — a million tiny directories is
    * its own scale bug. */
  def writePartitionedTable(df: DataFrame, path: String,
      keys: Seq[String]): Unit =
    // repartition on the partition keys first: one AQE-sized writer per
    // key value instead of every upstream task writing a sliver into
    // every directory — the q100 file-sizing rule for any partitioned
    // table write
    df.repartition(keys.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite")
      .partitionBy(keys: _*)
      .parquet(path)
}
