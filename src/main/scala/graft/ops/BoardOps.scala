package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import HexRules.{MoveRow, PieceRow}

/** Hive-analytics operators (SURVEY §2.8 V1–V10) over deterministic
  * board-state tables.
  *
  * Board data: the 9 literal fixtures from the reference's own tests
  * (FIXTURES.md), replicated K times with coordinate translation, where
  * K = max(1, |orders| / 1500) — so the board corpus scales with the
  * driver's scale factor and the DuckDB oracle can reconstruct the
  * identical table from the same parquet (it reads only |orders|).
  *
  * Execution shape: move generation runs as `flatMapGroups` per
  * game_id over the HexRules kernel — one hash shuffle, then
  * embarrassingly parallel per-game work, which is the correct 100 TB
  * plan for millions of independent small boards. q22 implements the
  * same connectivity semantics relationally (delta-aggregate occupancy
  * + iterative frontier joins) to cover the one-huge-graph pattern.
  */
object BoardOps {

  /** (base_game, piece_id, bug, color, q, r, height) — FIXTURES.md §A,
    * ported 1:1 from /root/reference/tests/test_rules.cpp and
    * test_engine.cpp. */
  val fixtureRows: Seq[(Int, Int, String, String, Int, Int, Int)] = Seq(
    // g1 queen_solo (test_rules.cpp:20-25)
    (1, 0, "Queen", "White", 0, 0, 0),
    // g2 grasshopper_line (test_rules.cpp:28-37)
    (2, 0, "Grasshopper", "White", 0, 0, 0),
    (2, 1, "Ant", "Black", 1, 0, 0),
    (2, 2, "Ant", "Black", 2, -1, 0),
    // g3 ant_small_hive (test_rules.cpp:39-57)
    (3, 0, "Ant", "White", 0, 0, 0),
    (3, 1, "Queen", "White", 1, 0, 0),
    (3, 2, "Grasshopper", "Black", 0, 1, 0),
    (3, 3, "Spider", "Black", -1, 1, 0),
    // g4 ant_bounded = g3 + white spider (test_rules.cpp:59-92)
    (4, 0, "Ant", "White", 0, 0, 0),
    (4, 1, "Queen", "White", 1, 0, 0),
    (4, 2, "Grasshopper", "Black", 0, 1, 0),
    (4, 3, "Spider", "Black", -1, 1, 0),
    (4, 4, "Spider", "White", 1, -1, 0),
    // g5 spider_hive (test_rules.cpp:94-124)
    (5, 0, "Spider", "White", 0, 0, 0),
    (5, 1, "Queen", "White", 1, 0, 0),
    (5, 2, "Ant", "Black", 0, 1, 0),
    (5, 3, "Grasshopper", "Black", -1, 1, 0),
    (5, 4, "Ant", "White", 1, -1, 0),
    // g6 beetle_climb (test_rules.cpp:126-139)
    (6, 0, "Beetle", "White", 0, 0, 0),
    (6, 1, "Queen", "Black", 1, 0, 0),
    // g7 beetle_on_stack (test_rules.cpp:141-162)
    (7, 0, "Queen", "White", 0, 0, 0),
    (7, 1, "Beetle", "White", 0, 0, 1),
    (7, 2, "Ant", "Black", 0, 1, 0),
    (7, 3, "Ant", "Black", 1, -1, 0),
    // g8 stacked_cell (test_engine.cpp:12-18)
    (8, 0, "Queen", "White", 0, 0, 0),
    (8, 1, "Beetle", "Black", 0, 0, 1),
    // g9 surround_draw: both queens ringed; hive connected via (2,0),(3,0)
    (9, 0, "Queen", "White", 0, 0, 0),
    (9, 1, "Ant", "Black", 1, 0, 0),
    (9, 2, "Ant", "White", 1, -1, 0),
    (9, 3, "Grasshopper", "Black", 0, -1, 0),
    (9, 4, "Spider", "White", -1, 0, 0),
    (9, 5, "Beetle", "Black", -1, 1, 0),
    (9, 6, "Ant", "White", 0, 1, 0),
    (9, 7, "Queen", "Black", 4, 0, 0),
    (9, 8, "Ant", "White", 5, 0, 0),
    (9, 9, "Spider", "Black", 5, -1, 0),
    (9, 10, "Grasshopper", "White", 4, -1, 0),
    (9, 11, "Beetle", "White", 3, 1, 0),
    (9, 12, "Ant", "Black", 4, 1, 0),
    (9, 13, "Grasshopper", "Black", 2, 0, 0),
    (9, 14, "Spider", "White", 3, 0, 0))

  /** Direction table with precomputed corridor flank offsets: moving
    * from F in direction (dq,dr), the flanks are F+(lq,lr) and
    * F+(rq,rr) (rules.cpp:54-55 with dirs engine.hpp:26). */
  val dirRows: Seq[(Int, Int, Int, Int, Int, Int, Int)] = Seq(
    (0, 1, 0, 0, 1, 1, -1),
    (1, 1, -1, 1, 0, 0, -1),
    (2, 0, -1, 1, -1, -1, 0),
    (3, -1, 0, 0, -1, -1, 1),
    (4, -1, 1, -1, 0, 0, 1),
    (5, 0, 1, -1, 1, 1, 0))

  def dirsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    dirRows.toDF("di", "dq", "dr", "lq", "lr", "rq", "rr")
  }

  /** The replicated pieces table. Copy c translates by
    * ((c mod 37)·16, (c div 37)·16) — far enough apart that games never
    * interact (they are keyed by game_id anyway; translation just
    * exercises nonzero coordinates). */
  def pieces(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fixture = fixtureRows
      .toDF("base_game", "piece_id", "bug", "color", "q0", "r0", "height")
    val copies = Tables.orders(spark, dir)
      .agg(greatest((count(lit(1)) / 1500).cast("int"), lit(1)).as("k"))
      .select(explode(sequence(lit(0), col("k") - 1)).as("copy"))
    fixture.crossJoin(copies).select(
      (col("base_game") + lit(9) * col("copy")).as("game_id"),
      col("piece_id"), col("bug"), col("color"),
      (col("q0") + (col("copy") % 37) * 16).as("q"),
      (col("r0") + (col("copy") / 37).cast("int") * 16).as("r"),
      col("height"))
  }

  /** The materialized pieces universe for queries whose plans read it
    * from several subtrees (q17's four, q22's delta union): built once
    * and cached per (session, dir) UNCONDITIONALLY —
    * spark.graft.cacheTables does not gate it, and no caller gets a
    * per-call checkpoint. The copy factor is therefore read from
    * `orders` once per session: the first call's row count fixes it,
    * and changing the rows under `dir` within a session is not seen.
    *
    * Repartitioned to a DATA-sized count before the checkpoint: the
    * raw [[pieces]] frame is a LocalTableScan of the ~120-row fixture,
    * which parallelizes into defaultParallelism slices — at local[32]
    * every board query paid 32 task launches PER SUBTREE for a ~12k-row
    * table (the driver's scaling run read the whole family 2-4× slower
    * at 32 cores than at 8). min(parallelism, 8) matches the cached-
    * fact floor in [[graft.Tables]]. */
  private val piecesCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (SparkSession, DataFrame)]

  private[ops] def piecesMaterialized(spark: SparkSession, dir: String)
      : DataFrame = {
    def build: DataFrame = pieces(spark, dir)
      .repartition(math.min(spark.sparkContext.defaultParallelism, 8))
      .localCheckpoint()
    // cached per (session, dir) UNCONDITIONALLY (not gated on
    // spark.graft.cacheTables like the data-path caches): this is a
    // deterministic generated FIXTURE, not a table cache, and the
    // uncached path re-materialized it per call — the SQL surface's
    // registerViews alone paid the eager checkpoint once per sweep
    // test. Bench/Verify sessions set cacheTables=true and are
    // unaffected.
    graft.SessionCache.getOrBuild(piecesCache, spark, dir)(build)
  }

  /** Occupied cells with stack size (A1). */
  def cells(p: DataFrame): DataFrame =
    p.groupBy("game_id", "q", "r").agg(count(lit(1)).as("n"))

  /** Top-of-stack piece per occupied cell (P5/W2). */
  def tops(p: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("game_id", "q", "r").orderBy(col("height").desc)
    p.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  // ---------------------------------------------------------------- q16
  /** q16 — queen surrounded / game over (V1, rules.cpp:17-47): per
    * game, is each color's queen ringed by 6 occupied cells; outcome
    * Draw/BlackWins/WhiteWins/None. Relational division (J4): explode 6
    * neighbors, count hits. */
  def q16QueenSurrounded(spark: SparkSession, dir: String): DataFrame = {
    val p = piecesMaterialized(spark, dir)
    val c = cells(p)
    val queens = p.filter(col("bug") === "Queen")
      .select(col("game_id"), col("color"), col("q"), col("r"))
    val hits = queens
      .crossJoin(broadcast(dirsDf(spark).select("dq", "dr")))
      .select(col("game_id"), col("color"),
        (col("q") + col("dq")).as("nq"), (col("r") + col("dr")).as("nr"))
      .join(c.select(col("game_id"), col("q").as("nq"), col("r").as("nr")),
        Seq("game_id", "nq", "nr"), "left_semi")
      .groupBy("game_id", "color")
      .agg(count(lit(1)).as("n_occ"))
    val surrounded = queens.join(hits, Seq("game_id", "color"), "left")
      .select(col("game_id"), col("color"),
        (coalesce(col("n_occ"), lit(0L)) === 6).as("surr"))
    val games = p.select("game_id").distinct()
    games
      .join(surrounded.filter(col("color") === "White")
        .select(col("game_id"), col("surr").as("white_surrounded")),
        Seq("game_id"), "left")
      .join(surrounded.filter(col("color") === "Black")
        .select(col("game_id"), col("surr").as("black_surrounded")),
        Seq("game_id"), "left")
      .select(col("game_id"),
        coalesce(col("white_surrounded"), lit(false)).as("white_surrounded"),
        coalesce(col("black_surrounded"), lit(false)).as("black_surrounded"))
      .withColumn("outcome",
        when(col("white_surrounded") && col("black_surrounded"), "Draw")
          .when(col("white_surrounded"), "BlackWins")
          .when(col("black_surrounded"), "WhiteWins")
          .otherwise("None"))
      .orderBy("game_id")
  }

  // ---------------------------------------------------------------- q17
  /** q17 — placement targets (V2, ui_app.cpp:553-587): frontier empties
    * adjacent to the hive; a color's first placement may use the whole
    * frontier, otherwise targets must touch an own-colored top and no
    * opponent-colored top. The J2 semi / J3 anti pair is evaluated as
    * ONE neighbor-color flag aggregation per frontier cell
    * (has-White-top, has-Black-top) — every frontier cell borders ≥ 1
    * occupied cell by construction, so the flags are total, and the
    * per-color rule becomes a flag predicate instead of two more
    * shuffle joins.
    *
    * The game universe comes from a SEQUENCE, not from `pieces`: ids
    * 1..9K are the populated fixtures and id 0 has no pieces, so the
    * empty-board branch (ui_app.cpp:557-560 — an empty board's only
    * placement target is the origin) is exercised under the oracle
    * hash: game 0 emits (0,0) for both colors. */
  def q17PlacementTargets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // tiny table feeding four subtrees — materialized once, cached
    // per (session, dir) under the bench config
    val p = piecesMaterialized(spark, dir)
    val universe = Tables.orders(spark, dir)
      .agg(greatest((count(lit(1)) / 1500).cast("int"), lit(1)).as("k"))
      .select(explode(sequence(lit(0), lit(9) * col("k"))).as("game_id"))
    val c = cells(p)
    val t = tops(p)
    val d = broadcast(dirsDf(spark).select("dq", "dr"))
    val cKeyed = c.select(col("game_id"), col("q").as("nq"), col("r").as("nr"))
    // frontier: distinct empty neighbors of occupied cells
    val frontier = c.crossJoin(d)
      .select(col("game_id"),
        (col("q") + col("dq")).as("nq"), (col("r") + col("dr")).as("nr"))
      .join(cKeyed, Seq("game_id", "nq", "nr"), "left_anti")
      .distinct()
      .select(col("game_id"), col("nq").as("q"), col("nr").as("r"))
    // one aggregation: which colors' tops border each frontier cell
    val adjFlags = frontier.crossJoin(d)
      .select(col("game_id"), col("q"), col("r"),
        (col("q") + col("dq")).as("nq"), (col("r") + col("dr")).as("nr"))
      .join(t.select(col("game_id"), col("q").as("nq"), col("r").as("nr"),
        col("color").as("top_color")), Seq("game_id", "nq", "nr"))
      .groupBy("game_id", "q", "r")
      .agg(
        max(when(col("top_color") === "White", 1).otherwise(0)).as("w"),
        max(when(col("top_color") === "Black", 1).otherwise(0)).as("b"))
    val placed = p.groupBy("game_id", "color").agg(count(lit(1)).as("n_placed"))
    val colorDim = broadcast(Seq("White", "Black").toDF("color"))
    val colors = universe
      .crossJoin(colorDim)
      .join(placed, Seq("game_id", "color"), "left")
      .withColumn("first_placement", coalesce(col("n_placed"), lit(0L)) === 0)
    val nonEmpty = colors.join(adjFlags, Seq("game_id"))
      .filter(col("first_placement") ||
        when(col("color") === "White", col("w") === 1 && col("b") === 0)
          .otherwise(col("b") === 1 && col("w") === 0))
      .select("game_id", "color", "q", "r")
    // empty boards have no frontier: their single target is the origin
    val emptyBoards = universe
      .join(p.select("game_id").distinct(), Seq("game_id"), "left_anti")
      .crossJoin(colorDim)
      .select(col("game_id"), col("color"), lit(0).as("q"), lit(0).as("r"))
    nonEmpty.union(emptyBoards)
      .orderBy("game_id", "color", "q", "r")
  }

  // ------------------------------------------------------- move queries
  /** Shared flatMapGroups driver: per game, build the HexRules board and
    * generate moves for every TOP piece of the given bug (the UI only
    * ever queries top pieces — ui_app.cpp:204-206). */
  private def movesFor(spark: SparkSession, dir: String, bug: Option[String])
    : DataFrame = {
    import spark.implicits._
    val p = piecesMaterialized(spark, dir).as[PieceRow]
    p.groupByKey(_.game_id)
      .flatMapGroups { (_, it) =>
        val rows = it.toSeq
        val board = new HexRules.Board(rows)
        board.tops.filter(t => bug.forall(_ == t.bug)).toSeq.sortBy(_.piece_id)
          .flatMap(piece => HexRules.legalMoves(board, piece))
      }
      .toDF()
      .orderBy("game_id", "piece_id", "to_q", "to_r")
  }

  private def movesFor(spark: SparkSession, dir: String, bug: String)
    : DataFrame = movesFor(spark, dir, Some(bug))

  /** q18 — queen moves (V5). */
  def q18QueenMoves(spark: SparkSession, dir: String): DataFrame =
    movesFor(spark, dir, "Queen")

  /** q18b — beetle moves (V6): climb onto occupied, corridor exemption
    * atop a stack. */
  def q18bBeetleMoves(spark: SparkSession, dir: String): DataFrame =
    movesFor(spark, dir, "Beetle")

  /** q19 — grasshopper ray jumps (V7). */
  def q19GrasshopperMoves(spark: SparkSession, dir: String): DataFrame =
    movesFor(spark, dir, "Grasshopper")

  /** q20 — spider exactly-3-step paths (V9). */
  def q20SpiderMoves(spark: SparkSession, dir: String): DataFrame =
    movesFor(spark, dir, "Spider")

  /** q21 — ant BFS reachability (V8). */
  def q21AntReachability(spark: SparkSession, dir: String): DataFrame =
    movesFor(spark, dir, "Ant")

  /** q52 — every legal move of every top piece (V10,
    * rules.cpp:334-344): the single union-dispatch surface
    * `legalMovesForPiece` exposes — all five per-bug generators through
    * the one kernel, in one shuffle, instead of five separate queries.
    * Same per-game flatMapGroups plan as the per-bug queries; the bug
    * filter is simply absent. */
  def q52LegalMoves(spark: SparkSession, dir: String): DataFrame =
    movesFor(spark, dir, None)

  // ---------------------------------------------------------------- q22
  /** q22 — hive connectivity after hypothetical moves (V4): for every
    * top piece and each of its 6 neighbor cells as destination, apply
    * the occupancy delta (A4: −1 from, +1 to, re-aggregate, keep > 0)
    * and test connectedness by BFS over the surviving cells
    * (rules.cpp:61-133 semantics).
    *
    * Execution shape (round-3 rewrite): the delta aggregation stays
    * relational — one hash shuffle on the full candidate-cell key — and
    * the BFS runs per candidate inside a single `mapGroups` pass over
    * the aggregated occupancy. A candidate state is tiny and bounded
    * (≤ 17 cells: every piece occupies at most one cell plus the
    * destination), so the exact fixpoint is local, data-independent in
    * depth, and free of the ~24 tiny shuffle stages the fixed-depth
    * relational expansion needed (round 2: 11.5 s of pure stage
    * scheduling at sf0.1). This is the correct 100 TB plan for the data
    * model — millions of independent bounded candidates, one shuffle to
    * co-locate each candidate's cells, then embarrassingly parallel
    * kernels. For one genuinely huge connected graph the scale path is
    * different machinery (log-depth doubling over the edge relation,
    * R₂ₖ = Rₖ ∘ Rₖ) — not reachable from this data model, whose graphs
    * are bounded by the 22-piece reserve seed (ui_app.cpp:500). */
  def q22HiveConnected(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = piecesMaterialized(spark, dir)
    val c = cells(p)
    val d = broadcast(dirsDf(spark))
    val cand = tops(p)
      .crossJoin(d.select("dq", "dr"))
      .select(col("game_id"), col("piece_id"),
        col("q").as("from_q"), col("r").as("from_r"),
        (col("q") + col("dq")).as("to_q"), (col("r") + col("dr")).as("to_r"))
    // occupancy delta (rules.cpp:76-96): decrement from, increment to
    val base = cand.join(c, Seq("game_id"))
      .select(col("game_id"), col("piece_id"), col("to_q"), col("to_r"),
        col("q"), col("r"),
        (col("n") - when(col("q") === col("from_q") &&
          col("r") === col("from_r"), 1).otherwise(0)).as("n"))
    val dest = cand.select(col("game_id"), col("piece_id"), col("to_q"),
      col("to_r"), col("to_q").as("q"), col("to_r").as("r"), lit(1L).as("n"))
    val cellKey = Seq("game_id", "piece_id", "to_q", "to_r", "q", "r")
    val occAfter = base.unionByName(dest)
      .groupBy(cellKey.map(col): _*)
      .agg(sum("n").as("n")).filter(col("n") > 0)
      .select(cellKey.map(col): _*)
    occAfter.as[(Int, Int, Int, Int, Int, Int)]
      .groupByKey(t => (t._1, t._2, t._3, t._4))
      .mapGroups { (key: (Int, Int, Int, Int),
          it: Iterator[(Int, Int, Int, Int, Int, Int)]) =>
        (key._1, key._2, key._3, key._4,
          HexRules.allConnected(it.map(t => (t._5, t._6)).toSeq))
      }
      .toDF("game_id", "piece_id", "to_q", "to_r", "connected")
      .orderBy("game_id", "piece_id", "to_q", "to_r")
  }

  /** The reference's wheel-zoom clamp (ui_app.cpp:93-96:
    * hexSize = max(10, min(120, hexSize + delta*5))): every projection
    * here accepts a zoom but never leaves the supported range. */
  private[graft] def clampHexSize(size: Double): Double =
    math.max(10.0, math.min(120.0, size))

  /** Axial→pixel projection at a caller-chosen zoom (engine.cpp:38-43
    * at hexSize `size`, clamped per ui_app.cpp:93-96), shared by q42
    * (round-trip) and q45 (hover): adds px/py columns. */
  private[graft] def withPixel(df: DataFrame, size: Double): DataFrame = {
    val s = lit(clampHexSize(size))
    val sq3 = lit(1.7320508075688772)
    df.withColumn("px", s * (sq3 * col("q") + sq3 / 2 * col("r")))
      .withColumn("py", s * lit(1.5) * col("r"))
  }

  /** The default zoom the declared queries pin (and their oracles
    * rebuild): hexSize 40, the reference's startup value. */
  private def withPixel(df: DataFrame): DataFrame = withPixel(df, 40.0)

  /** Pixel→axial inverse at the same zoom: the cube-rounding
    * unprojection (ui_app.cpp:32-50) as pure column expressions
    * (codegen'd, no UDF). Adds rt_q/rt_r computed from px/py. */
  private[graft] def withAxialRoundTrip(df: DataFrame,
      size: Double): DataFrame = {
    val s = lit(clampHexSize(size))
    val sq3 = lit(1.7320508075688772)
    df.withColumn("qf", col("px") / sq3 / s - col("py") / 3 / s)
      .withColumn("rf", lit(2.0) / 3 * (col("py") / s))
      .withColumn("xf", col("qf"))
      .withColumn("zf", col("rf"))
      .withColumn("yf", -col("qf") - col("rf"))
      .withColumn("rx", round(col("xf")))
      .withColumn("ry", round(col("yf")))
      .withColumn("rz", round(col("zf")))
      .withColumn("xd", abs(col("rx") - col("xf")))
      .withColumn("yd", abs(col("ry") - col("yf")))
      .withColumn("zd", abs(col("rz") - col("zf")))
      .withColumn("rt_q",
        when(col("xd") > col("yd") && col("xd") > col("zd"),
          -col("ry") - col("rz")).otherwise(col("rx")).cast("int"))
      .withColumn("rt_r",
        when(col("xd") > col("yd") && col("xd") > col("zd"), col("rz"))
          .when(col("yd") > col("zd"), col("rz"))
          .otherwise(-col("rx") - col("ry")).cast("int"))
  }

  // ---------------------------------------------------------------- q42
  /** q42 — pixel projection round-trip (P8/F2): axial→pixel at hexSize
    * 40 (engine.cpp:38-43) and the cube-rounding inverse
    * (ui_app.cpp:32-50), as pure column expressions (codegen'd, no
    * UDF). Pixels emitted floor-scaled; the round-trip (rt_q, rt_r)
    * must reproduce (q, r) — asserted in ScalaTest and visible to the
    * oracle hash. */
  def q42HexProjection(spark: SparkSession, dir: String): DataFrame = {
    val p = cells(piecesMaterialized(spark, dir))
    val inv = withAxialRoundTrip(withPixel(p), size = 40.0)
    inv.select(col("game_id"), col("q"), col("r"),
        floor(col("px") * 1000).cast("bigint").as("px_x1000"),
        floor(col("py") * 1000).cast("bigint").as("py_x1000"),
        col("rt_q"), col("rt_r"))
      .orderBy("game_id", "q", "r")
  }

  // ---------------------------------------------------------------- q53
  /** Axial bbox of the default viewport — a 1280×720 window with the
    * board origin at screen center (offset 640,360) and hexSize 40:
    * the four screen corners unprojected through the q42 inverse +
    * cube rounding, min/maxed, padded ±3 (ui_app.cpp:345-359). Pure
    * window geometry, so it is evaluated at PLAN time; none of the
    * corner values sits near a rounding tie. halfUp mirrors Spark's/
    * DuckDB's ROUND (half away from zero). */
  val viewportBox: (Int, Int, Int, Int) = {
    val s = 40.0
    val sq3 = 1.7320508075688772
    def halfUp(x: Double): Double = math.signum(x) * math.floor(math.abs(x) + 0.5)
    val ax = Seq((0.0, 0.0), (1280.0, 0.0), (0.0, 720.0), (1280.0, 720.0))
      .map { case (x, y) => (x - 640.0, y - 360.0) }
      .map { case (px, py) =>
        val qf = px / sq3 / s - py / 3 / s
        val rf = 2.0 / 3 * (py / s)
        val yf = -qf - rf
        val rx = halfUp(qf); val ry = halfUp(yf); val rz = halfUp(rf)
        val xd = math.abs(rx - qf); val yd = math.abs(ry - yf)
        val zd = math.abs(rz - rf)
        val cq = if (xd > yd && xd > zd) -ry - rz else rx
        val cr = if (xd > yd && xd > zd) rz else if (yd > zd) rz else -rx - ry
        (cq.toInt, cr.toInt)
      }
    (ax.map(_._1).min - 3, ax.map(_._1).max + 3,
      ax.map(_._2).min - 3, ax.map(_._2).max + 3)
  }

  /** q53 — viewport culling (P6, ui_app.cpp:345-359): only cells whose
    * axial coords fall in the padded viewport box are emitted. The box
    * is a literal at plan time, so the range predicate pushes BELOW the
    * per-cell aggregation to the row source — the board analogue of
    * parquet min/max row-group pruning: a 100 TB stored `cells` table
    * range-partitioned on (q, r) serves this by reading only on-screen
    * partitions. Off-origin fixture copies are culled wholesale. */
  def q53Viewport(spark: SparkSession, dir: String): DataFrame = {
    val (minQ, maxQ, minR, maxR) = viewportBox
    cells(piecesMaterialized(spark, dir))
      .filter(col("q") >= minQ && col("q") <= maxQ &&
        col("r") >= minR && col("r") <= maxR)
      .select(col("game_id"), col("q"), col("r"), col("n"))
      .orderBy("game_id", "q", "r")
  }

  // ---------------------------------------------------------------- q44
  /** Seed reserve counts per bug — the full base-Hive set each color
    * starts with (ui_app.cpp:498-503). */
  val reserveSeed: Seq[(String, Int)] = Seq(
    ("Ant", 3), ("Beetle", 2), ("Grasshopper", 3), ("Queen", 1), ("Spider", 2))

  /** q44 — reserves / tray view (A2, ui_app.cpp:498-533): per
    * (game_id, color, bug), pieces remaining in the tray =
    * max(seed − placed, 0), plus each color's placements_made =
    * 11 − Σ remaining (ui_app.cpp:519-525). The grid is games × both
    * colors × the 5-bug seed dim (broadcast), left-joined with placed
    * counts — colors with nothing on board still show full trays. */
  def q44Reserves(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val p = piecesMaterialized(spark, dir)
    val placed = p.groupBy("game_id", "color", "bug")
      .agg(count(lit(1)).as("n_placed"))
    val grid = p.select("game_id").distinct()
      .crossJoin(broadcast(Seq("White", "Black").toDF("color")))
      .crossJoin(broadcast(reserveSeed.toDF("bug", "seed")))
    val w = Window.partitionBy("game_id", "color")
    grid.join(placed, Seq("game_id", "color", "bug"), "left")
      .withColumn("n_placed", coalesce(col("n_placed"), lit(0L)))
      .withColumn("remaining",
        greatest(col("seed").cast("long") - col("n_placed"), lit(0L)))
      .withColumn("placements_made",
        (lit(11L) - sum(col("remaining")).over(w)).cast("bigint"))
      .select(col("game_id"), col("color"), col("bug"),
        col("seed").cast("long").as("seed"), col("n_placed"),
        col("remaining"), col("placements_made"))
      .orderBy("game_id", "color", "bug")
  }

  // ---------------------------------------------------------------- q45
  /** Hover probe offsets in world pixels relative to each game's anchor
    * cell center: (probe_id, ox, oy). Chosen to exercise hit-on-anchor,
    * hit-on-neighbor, edge-of-radius, and miss cases with no exact
    * distance ties. */
  val hoverProbes: Seq[(Int, Int, Int)] = Seq(
    (0, 0, 0),      // dead center of the anchor cell
    (1, 17, 9),     // inside the anchor cell's radius
    (2, 69, 0),     // ≈ the (q+1, r) neighbor's center
    (3, 35, 60),    // ≈ the (q, r+1) neighbor's center
    (4, 300, 300),  // far from everything — no hover
    (5, -25, -20))  // 32 px out, just inside the 34 px radius

  /** q45 — board hover / nearest-cell lookup (J5/A6,
    * ui_app.cpp:227-240): for each probe pixel, the nearest occupied
    * cell center within radius 0.85·hexSize (34 px), else no hover.
    * Probes are anchored per game (anchor = min-(q,r) cell center) so
    * every replicated copy exercises the same geometry. Ties broken by
    * (d², q, r) — the reference's unordered-map iteration leaves ties
    * unspecified, so the probe set avoids them and the tie-break is
    * only a determinism guard. Nearest = one min_by aggregation per
    * (game, probe) after a radius filter — never a global sort. */
  def q45BoardHover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = withPixel(cells(piecesMaterialized(spark, dir)))
    val anchor = c.groupBy("game_id")
      .agg(min_by(struct(col("px"), col("py")),
        struct(col("q"), col("r"))).as("a"))
      .select(col("game_id"), col("a.px").as("ax"), col("a.py").as("ay"))
    val probes = broadcast(hoverProbes.toDF("probe_id", "ox", "oy"))
    val pts = anchor.crossJoin(probes)
      .select(col("game_id"), col("probe_id"),
        (col("ax") + col("ox")).as("wx"), (col("ay") + col("oy")).as("wy"))
    val hits = pts.join(c, Seq("game_id"))
      .withColumn("d2",
        (col("wx") - col("px")) * (col("wx") - col("px")) +
          (col("wy") - col("py")) * (col("wy") - col("py")))
      .filter(col("d2") < lit(34.0 * 34.0))
      .groupBy("game_id", "probe_id")
      .agg(min_by(struct(col("q"), col("r")),
        struct(col("d2"), col("q"), col("r"))).as("h"))
      .select(col("game_id"), col("probe_id"),
        col("h.q").as("hq"), col("h.r").as("hr"))
    pts.select("game_id", "probe_id")
      .join(hits, Seq("game_id", "probe_id"), "left")
      .select(col("game_id"), col("probe_id"),
        col("hq").isNotNull.as("hovered"),
        coalesce(col("hq"), lit(0)).as("hover_q"),
        coalesce(col("hr"), lit(0)).as("hover_r"))
      .orderBy("game_id", "probe_id")
  }

  // ---------------------------------------------------------------- q51
  /** q51 — 64-bit cell-key bijection (F1, ui_app.cpp:315-326): pack
    * (q, r) as (q << 32) | uint32(r), decode with an arithmetic shift
    * for q and explicit two's-complement reconstruction for r —
    * written as portable integer arithmetic (no engine-specific
    * overflow-cast behavior; DuckDB raises on narrowing casts where
    * Spark truncates). Round-trip (rt_q, rt_r) must equal (q, r) in
    * the oracle hash. */
  def q51RingKey(spark: SparkSession, dir: String): DataFrame = {
    val c = cells(piecesMaterialized(spark, dir))
    val u32 = lit(4294967296L)
    val keyed = c.withColumn("cell_key",
      (col("q").cast("long") * u32) +
        (when(col("r") < 0, col("r").cast("long") + u32)
          .otherwise(col("r").cast("long"))))
    keyed
      // mathematical (non-negative) low 32 bits, then exact integer div
      .withColumn("r_low", pmod(col("cell_key"), u32))
      .withColumn("rt_q",
        expr("(cell_key - r_low) div 4294967296").cast("int"))
      .withColumn("rt_r",
        when(col("r_low") >= lit(2147483648L), col("r_low") - u32)
          .otherwise(col("r_low")).cast("int"))
      .select(col("game_id"), col("q"), col("r"), col("cell_key"),
        col("rt_q"), col("rt_r"))
      .orderBy("game_id", "q", "r")
  }

  // ---------------------------------------------------------------- q23
  /** q23 — stack views (W1/W2/A11): per occupied cell, stack size, top
    * piece, and the bottom→top stack as a comma-joined id list. */
  def q23StackTops(spark: SparkSession, dir: String): DataFrame = {
    val p = piecesMaterialized(spark, dir)
    p.groupBy("game_id", "q", "r")
      .agg(
        count(lit(1)).as("stack_size"),
        max_by(col("piece_id"), col("height")).as("top_piece_id"),
        array_join(
          transform(sort_array(collect_list(struct(col("height"), col("piece_id")))),
            x => x.getField("piece_id").cast("string")), ",").as("stack_ids"))
      .orderBy("game_id", "q", "r")
  }
}
