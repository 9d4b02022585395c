package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: dump formatted physical plans for plan-quality review
  * (pushed filters, read schemas, broadcast vs sort-merge, codegen).
  *
  * `runMain graft.Plans <name[,name...]> [sfDir]` — formatted plan per query.
  * `runMain graft.Plans bucketed [sfDir]` — the warehouse-layout diff:
  * the same orders ⋈ lineitem aggregation from plain parquet (two
  * input-side shuffles on the join key) vs from tables bucketed on the
  * order key (zero input-side shuffles, `SelectedBucketsCount` in the
  * scans). At 100 TB that bucketing decision is made once at write
  * time and every downstream equi-join/agg on the key rides it.
  *
  * `runMain graft.Plans partitioned [sfDir]` — the scan-side twin:
  * documents hive-partitioned by lang, a one-language filter becomes a
  * PartitionFilter and the scan lists only that language's directory
  * (file counts printed for proof). Bucketing kills the join shuffle;
  * partitioning kills the scan.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = LocalSpark.builder(LocalSpark.settings()).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.headOption.contains("bucketed")) {
      bucketedDemo(spark, dir)
      spark.stop()
      return
    }
    if (args.headOption.contains("partitioned")) {
      partitionedDemo(spark, dir)
      spark.stop()
      return
    }
    if (args.headOption.contains("audit")) {
      auditAll(spark, dir)
      spark.stop()
      return
    }
    val names = if (args.nonEmpty) args(0).split(",").toSeq
      else Seq("q01_pricing_summary", "q03_star_join")
    names.foreach { n =>
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }

  /** One-line plan-hygiene summary per declared query: parquet scans,
    * hash/broadcast Exchanges, codegen spans. A query whose fact table
    * appears in several Scan nodes is re-reading its input once per
    * consumer — the round-5 class of defect (fixed in q83/q85/q86/q90
    * by materializing the bounded intermediate). Queries that
    * materialize during construction (cached indexes, bounded scalars)
    * count their POST-materialization plan, which is what repeats. */
  private def auditAll(spark: SparkSession, dir: String): Unit = {
    println(f"${"query"}%-26s scans  hashEx  bcastEx  codegen")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        def c(p: String) = p.r.findAllIn(plan).size
        println(f"$name%-26s ${c("Scan parquet ")}%5d  ${
          c("Exchange hashpartitioning")}%6d  ${
          c("BroadcastExchange")}%7d  ${c("WholeStageCodegen")}%7d")
      } catch { case e: Throwable =>
        println(f"$name%-26s ERR ${e.getMessage.take(60)}")
      }
    }
  }

  private def partitionedDemo(spark: SparkSession, dir: String): Unit = {
    val out = java.nio.file.Files
      .createTempDirectory("part_layout").toString + "/documents"
    Tables.writePartitionedTable(Tables.documents(spark, dir), out, Seq("lang"))
    def filesRead(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .get.metrics("numFiles").value
    }
    val all = spark.read.parquet(out)
    val en = all.filter(col("lang") === "en")
    val (nEn, nAll) = (filesRead(en), filesRead(all))
    val plan = en.queryExecution.executedPlan.toString
    println("===== documents partitioned by lang, filter lang='en' =====")
    println(s"files read: $nEn of $nAll" +
      s"   PartitionFilters on lang: ${
        "PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(plan).isDefined}")
    println(plan)
  }

  private def bucketedDemo(spark: SparkSession, dir: String): Unit = {
    // force sort-merge so the shuffle question is real, as in
    // BucketedJoinSpec
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def shape(o: DataFrame, l: DataFrame): DataFrame =
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    def report(label: String, df: DataFrame): Unit = {
      df.collect() // run it so AQE finalizes the executed plan
      val plan = df.queryExecution.executedPlan.toString
      val inputShuffles = Seq("o_orderkey", "l_orderkey")
        .count(k => plan.contains(s"Exchange hashpartitioning($k"))
      val total = "Exchange hashpartitioning".r.findAllIn(plan).size
      println(s"===== $label =====")
      println(s"input-side Exchanges on the join key: $inputShuffles" +
        s"   total hash Exchanges: $total" +
        s"   bucketed scans: ${plan.contains("SelectedBucketsCount")}")
      println(plan)
    }
    val tmp = java.nio.file.Files.createTempDirectory("bucketed").toString
    Tables.writeBucketedTable(Tables.orders(spark, dir),
      "orders_b", s"$tmp/orders_b", 8, Seq("o_orderkey"))
    Tables.writeBucketedTable(Tables.lineitem(spark, dir),
      "lineitem_b", s"$tmp/lineitem_b", 8, Seq("l_orderkey"))
    try {
      report("orders ⋈ lineitem from plain parquet",
        shape(Tables.orders(spark, dir), Tables.lineitem(spark, dir)))
      report("orders ⋈ lineitem from bucketed tables",
        shape(spark.table("orders_b"), spark.table("lineitem_b")))
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
