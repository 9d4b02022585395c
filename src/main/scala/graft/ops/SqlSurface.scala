package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{OracleSql, Tables}

/** SQL-text front end — the "Spark SQL replaces HiveQL" north star at the
  * user-facing layer (ref analogue: the reference exposes its whole query
  * surface as text the user types, `ui-desktop/src/ui_app.cpp` command
  * loop; a warehouse user's first action is typing SQL).
  *
  * The 10 warehouse tables are registered as session temp views named
  * exactly like the oracle's DuckDB views, and each query here is a plain
  * SQL STRING run through `spark.sql`. The strings are the oracle's own
  * ANSI text, shared VERBATIM with the DuckDB side (the q84
  * equivalence-proof pattern taken one step further): the driver's hash
  * match therefore proves that the byte-identical SQL statement computes
  * the byte-identical result on both engines — the strongest possible
  * statement that the SQL surface is a drop-in front end.
  *
  * Scale posture: `spark.sql` text lands in the SAME Catalyst plan as the
  * DataFrame twin — pushed filters, broadcast dims, partial aggs, AQE —
  * so everything proved about the DSL plans holds unchanged here.
  */
object SqlSurface {

  /** Register every warehouse table as a temp view. Reading through
    * Tables keeps the cached/repartitioned form and the events ns→µs
    * timestamp rebuild; re-registering is an idempotent catalog update
    * (no data movement). */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    graft.functions.DuckDbCompat.register(spark)
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, dir)
               else Tables.table(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
  }

  private def run(spark: SparkSession, dir: String, sql: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(sql)
  }

  /** q92 — q01's pricing summary as SQL text (scan → pushed filter →
    * hash agg); shares OracleSql.q01 verbatim. */
  def q92SqlPricing(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, OracleSql.q01)

  /** q93 — q03's 5-way star join as SQL text; Catalyst broadcasts the
    * dims and pushes the date/segment filters exactly as the DSL twin
    * does; shares OracleSql.q03 verbatim. */
  def q93SqlStarJoin(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, OracleSql.q03)

  /** q94 — q06's ranking window as SQL text (ROW_NUMBER + filter =
    * per-group top-k); shares OracleSql.q06 verbatim. */
  def q94SqlWindowRank(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, OracleSql.q06)

  /** q95 — q02's top customers as SQL text (join + agg + ORDER BY/LIMIT
    * → TakeOrderedAndProject); shares OracleSql.q02 verbatim. */
  def q95SqlTopCustomers(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, OracleSql.q02)

  /** q97 — the brute-force kNN scoring pass as SQL TEXT through the
    * NATIVE registered expression: `graft_dot` resolves from the
    * session function registry (GraftFunctions.register — the same
    * registration the GraftExtensions SparkSessionExtensions hook
    * injects), so a SQL-only user gets the codegen'd fused dot-product
    * loop with no DSL and no UDF. The statement mirrors q15's oracle
    * line for line with graft_dot in place of DuckDB's
    * list_dot_product — both are strict sequential left-to-right
    * double sums, so it shares q15's oracle and must hash-match it. */
  def q97SqlKnn(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    run(spark, dir,
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings
        |), n AS (
        |  SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM e
        |), p AS (
        |  SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm FROM n WHERE vec_id < 5
        |), s AS (
        |  SELECT p.probe_id, n.vec_id AS neighbor_id,
        |    graft_dot(p.pv, n.v) / (p.pnrm * n.nrm) AS sim
        |  FROM p JOIN n ON n.vec_id <> p.probe_id
        |)
        |SELECT probe_id, rank, neighbor_id FROM (
        |  SELECT probe_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM s) t
        |WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin)
  }

  /** q98 — per-lang top-5 tokens as SQL TEXT through the REGISTERED
    * k-bounded Aggregator (`graft_topk5`, graft.functions.TopKPairs
    * via spark.udf.register(udaf(...))): at scale the aggregate ships
    * ≤ partitions·k pairs per group across the shuffle where q13's
    * window form ships every row. Deterministic (total order, assoc/
    * comm merge), so it shares q13's oracle verbatim — the q84
    * equivalence proof, now at the SQL layer. */
  def q98SqlTopkAgg(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    run(spark, dir,
      """WITH cnt AS (
        |  SELECT lang, token, COUNT(*) AS n FROM (
        |    SELECT lang, explode(filter(split(text, ' '), x -> x <> ''))
        |      AS token
        |    FROM documents) u
        |  GROUP BY lang, token
        |), top AS (
        |  SELECT lang, graft_topk5(token, n) AS tk FROM cnt GROUP BY lang
        |)
        |SELECT lang, CAST(pos + 1 AS BIGINT) AS rn,
        |  col._1 AS token, col._2 AS n
        |FROM (SELECT lang, posexplode(tk.items) FROM top) x
        |ORDER BY lang, rn""".stripMargin)
  }

  /** q109 — q05's ROLLUP as verbatim shared SQL text (GROUP BY
    * extension surface through the text front end). */
  def q109SqlRollup(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, OracleSql.q05)

  /** q110 — q38's CUBE + GROUPING() flags as verbatim shared text. */
  def q110SqlCube(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, OracleSql.q38)

  /** q111 — q70's GROUPING SETS as verbatim shared text. */
  def q111SqlGroupingSets(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, OracleSql.q70)

  /** q112 — q12's INTERSECT/EXCEPT set algebra as verbatim shared
    * text. */
  def q112SqlSetOps(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, OracleSql.q12)

  /** q113 — q40's left outer join over an aggregated subquery as
    * verbatim shared text. */
  def q113SqlOuterJoin(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, OracleSql.q40)

  /** Shared warehouse preamble for the DDL queries (q100/q114): one
    * scratch-rooted location per JVM (cleaned up by a shutdown hook so
    * repeated runs never accumulate in tmpdir), a session-scoped table
    * name (dir key + SessionCache token — unique per live session), and
    * the CREATE DATABASE / DROP TABLE boilerplate issued once per call.
    * Keeping this single-sited guarantees q100 and q114 resolve the
    * SAME database location (a second CREATE DATABASE IF NOT EXISTS
    * with a different LOCATION would silently keep the first's). */
  private def warehouseTable(spark: SparkSession, dir: String,
      prefix: String): String = {
    registerViews(spark, dir)
    val dirKey = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val root = spark.conf.getOption("spark.graft.scratchDir")
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val dirFile = new java.io.File(root, s"graft_warehouse_$whToken")
    cleanupOnExit(dirFile)
    val loc = dirFile.getAbsolutePath.replace("'", "''")
    val tbl = s"graft_wh.${prefix}_${dirKey}_" +
      graft.SessionCache.sessionToken(spark)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_wh LOCATION '$loc'")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    tbl
  }

  // All scratch warehouse dirs ever requested this JVM: the single
  // shutdown hook sweeps the SET, so a later session pointing
  // spark.graft.scratchDir somewhere else still gets its dir cleaned
  // (a hook that captured only the first dir would leak the rest).
  private val cleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private val hookArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def cleanupOnExit(dir: java.io.File): Unit = {
    cleanupDirs.add(dir): Unit
    if (hookArmed.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val children = f.listFiles()
          if (children != null) children.foreach(rm)
          f.delete(): Unit
        }
        cleanupDirs.forEach(d => rm(d))
      }))
  }

  /** q114 — the OTHER write-time layout decision: a warehouse table
    * bucketed on its join/agg key. SQL-text `CREATE TABLE ... CLUSTERED
    * BY (o_custkey) SORTED BY (o_custkey) INTO 8 BUCKETS AS SELECT`,
    * then the audit aggregate GROUPs BY the bucket key on the catalog
    * re-read — Spark plans that aggregation with ZERO exchange (the
    * bucketing IS the hash partitioning; SqlSurfaceSpec pins the
    * shuffle-free plan). q100 shows partitioning kills the scan; this
    * shows bucketing kills the shuffle — at 100 TB both are decided
    * once at write time and every downstream key operation rides them.
    * Oracle recomputes from source parquet (the q100 contract). */
  def q114CtasBucketed(spark: SparkSession, dir: String): DataFrame = {
    val tbl = warehouseTable(spark, dir, "cust_orders")
    // Bucket count is the scaling lever: at 100 TB you'd size it so
    // each bucket's key range fits an executor (thousands, not 8);
    // 8 is the demonstration count at test SF.
    val buckets = 8
    spark.sql(
      s"""CREATE TABLE $tbl USING PARQUET
         |CLUSTERED BY (o_custkey) SORTED BY (o_custkey)
         |INTO $buckets BUCKETS AS
         |SELECT o_custkey, o_orderstatus, o_totalprice
         |FROM orders""".stripMargin)
    spark.sql(
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
         |FROM $tbl
         |GROUP BY o_custkey
         |ORDER BY o_custkey""".stripMargin)
  }

  /** Register the Spark-derived board relations as the temp views the
    * BoardOracleSql bodies read: the oracle derives `pieces`/`cells`
    * from its CTE prefix, the SQL surface reads the SAME relations
    * from BoardOps — so running a body string verbatim on both engines
    * compares the full board derivation, not just the final SELECT. */
  private def registerBoardViews(spark: SparkSession, dir: String): Unit = {
    // the board bodies speak the oracle dialect too (q23Body's arg_max),
    // so this path must not depend on registerViews having run first
    graft.functions.DuckDbCompat.register(spark)
    val p = BoardOps.piecesMaterialized(spark, dir)
    p.createOrReplaceTempView("pieces")
    BoardOps.cells(p).createOrReplaceTempView("cells")
  }

  /** The shared BoardOracleSql bodies are WITH-clause CONTINUATIONS
    * (", cte AS (...) ... SELECT"); a one-row dummy CTE turns a body
    * into a complete statement without touching its bytes. */
  private def runBoardBody(spark: SparkSession, dir: String,
      body: String): DataFrame = {
    registerBoardViews(spark, dir)
    spark.sql("WITH graft_base AS (SELECT 1 AS one)" + body)
  }

  /** q104 — q44's reserve-count oracle body run VERBATIM through
    * spark.sql over the registered board views; shares
    * BoardOracleSql.q44Body byte-for-byte with the DuckDB side. */
  def q104SqlReserves(spark: SparkSession, dir: String): DataFrame =
    runBoardBody(spark, dir, graft.BoardOracleSql.q44Body)

  /** q105 — q51's 64-bit ring-key pack/unpack body (BoardOracleSql
    * .q51Body) verbatim: the `/ 4294967296` division is exact double
    * arithmetic in both engines (numerator = q·2^32 < 2^53). */
  def q105SqlRingKey(spark: SparkSession, dir: String): DataFrame =
    runBoardBody(spark, dir, graft.BoardOracleSql.q51Body)

  /** q106 — q53's viewport-culling body (corner unprojection + cube
    * rounding + bbox, BoardOracleSql.q53Body) verbatim. */
  def q106SqlViewport(spark: SparkSession, dir: String): DataFrame =
    runBoardBody(spark, dir, graft.BoardOracleSql.q53Body)

  /** q103 — q23's stack report as SQL text, byte-shared with the
    * DuckDB oracle since round 8: the rules-bounded fixed-slot
    * spelling (see BoardOracleSql.q23Body) removed the last
    * non-recursive dialect gap, so this runs the oracle's body
    * VERBATIM over the Spark-derived board views like q104–q106. */
  def q103SqlStackTops(spark: SparkSession, dir: String): DataFrame =
    runBoardBody(spark, dir, graft.BoardOracleSql.q23Body)

  /** Per-JVM warehouse token (q90's scratch convention): isolates the
    * q100 warehouse dir from concurrent JVMs on the same machine. */
  private lazy val whToken = java.util.UUID.randomUUID().toString.take(8)

  /** q100 — the warehouse DDL story: SQL-text `CREATE DATABASE` /
    * `CREATE TABLE ... AS SELECT` / `INSERT INTO` through `spark.sql`
    * into a persistent session warehouse, then the audit aggregate
    * computed from the table RE-READ through `spark.catalog` — a
    * HiveQL user's second action after SELECT (ref analogue: the
    * reference's persistent write paths, engine/src/engine.cpp:8-36).
    *
    * The CTAS takes orders before 1996; INSERT INTO appends the rest;
    * together they repartition the full join, so the DuckDB oracle
    * recomputes the audit from the SOURCE parquet (the q68/q76
    * roundtrip contract lifted to the catalog layer) — the hash match
    * proves what was PERSISTED and re-read, not just computed.
    *
    * Scale posture: both DDL statements are ordinary INSERT plans
    * (broadcast customer dim, pushed date filter, distributed parquet
    * write); the catalog work itself is metadata-only. The table is
    * hive-PARTITIONED BY the segment — the layout decision a 100 TB
    * warehouse makes at write time so every downstream segment filter
    * prunes directories instead of scanning (SqlSurfaceSpec proves the
    * pruning on the executed catalog read). INSERT uses BY NAME: v1
    * tables physically reorder partition columns last, so positional
    * binding would silently mis-map the string columns. The warehouse
    * location is rooted in spark.graft.scratchDir (default tmpdir),
    * per-JVM + per-session tokens keep concurrent runs isolated. */
  def q100Ctas(spark: SparkSession, dir: String): DataFrame = {
    val tbl = warehouseTable(spark, dir, "seg_sales")
    // REPARTITION on the partition column before each write: without it
    // every shuffle task writes its own file into every partition dir
    // (32 tasks × 5 segments ≈ 160 small files per statement), and the
    // audit re-read pays the listing. With it, AQE coalesces to one
    // sized writer per segment — at 100 TB this IS the file-sizing
    // decision for a partitioned warehouse table.
    spark.sql(
      s"""CREATE TABLE $tbl USING PARQUET PARTITIONED BY (c_mktsegment) AS
         |SELECT /*+ REPARTITION(c_mktsegment) */
         |  c_mktsegment, o_orderpriority, o_orderdate, o_totalprice
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE o_orderdate < TIMESTAMP '1996-01-01'""".stripMargin)
    spark.sql(
      s"""INSERT INTO $tbl BY NAME
         |SELECT /*+ REPARTITION(c_mktsegment) */
         |  c_mktsegment, o_orderpriority, o_orderdate, o_totalprice
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01'""".stripMargin)
    spark.sql(
      s"""SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
         |FROM $tbl
         |GROUP BY c_mktsegment, o_orderpriority
         |ORDER BY c_mktsegment, o_orderpriority""".stripMargin)
  }
}
