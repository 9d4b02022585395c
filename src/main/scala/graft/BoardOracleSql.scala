package graft

/** DuckDB oracle SQL for the board queries (q16–q23), composed from
  * shared fragments exactly mirroring BoardOps/HexRules semantics.
  * `tools/oracle_check.py` hash-matches each statement, run in DuckDB,
  * against the Spark output; OracleSweepSpec runs it on `spark.sql`
  * against its DSL twin.
  */
object BoardOracleSql {

  private val fixtureValues: String = ops.BoardOps.fixtureRows
    .map { case (g, pid, bug, color, q, r, h) =>
      s"($g,$pid,'$bug','$color',$q,$r,$h)"
    }
    .mkString(",\n  ")

  private val dirValues: String = ops.BoardOps.dirRows
    .map { case (di, dq, dr, lq, lr, rq, rr) =>
      s"($di,$dq,$dr,$lq,$lr,$rq,$rr)"
    }
    .mkString(",")

  /** Shared prefix: fixtures × replication factor from |orders|, the
    * direction table with corridor flank offsets, per-cell stack counts,
    * and top-of-stack pieces. */
  private val board: String =
    s"""WITH RECURSIVE fixture(base_game, piece_id, bug, color, q0, r0, height) AS (
       |  VALUES $fixtureValues
       |), copies AS (
       |  SELECT unnest(generate_series(0,
       |    GREATEST(CAST(FLOOR((SELECT COUNT(*) FROM orders) / 1500) AS INT), 1) - 1)) AS copy
       |), pieces AS (
       |  SELECT base_game + 9 * copy AS game_id, piece_id, bug, color,
       |         q0 + (copy % 37) * 16 AS q, r0 + divide(copy, 37) * 16 AS r, height
       |  FROM fixture CROSS JOIN copies
       |), dirs(di, dq, dr, lq, lr, rq, rr) AS (
       |  VALUES $dirValues
       |), cells AS (
       |  SELECT game_id, q, r, COUNT(*) AS n FROM pieces GROUP BY game_id, q, r
       |), tops AS (
       |  SELECT game_id, q, r, piece_id, bug, color FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY game_id, q, r ORDER BY height DESC) AS rn
       |    FROM pieces) t WHERE rn = 1
       |)""".stripMargin

  /** Connectivity verdict over a cand0 CTE keyed
    * (game_id, piece_id, to_q, to_r) carrying bug/from/kind: occupancy
    * delta (−1 from, +1 to, keep > 0), then recursive reachability from
    * the minimum occupied cell; connected iff the BFS covers every
    * occupied cell (rules.cpp:61-133).
    *
    * The BFS is spelled as a DEPTH-CAPPED UNION ALL recursion (per-step
    * DISTINCT, outer dedup in `reach`) rather than a UNION-distinct
    * fixpoint, so the identical text runs on BOTH DuckDB and spark.sql
    * (Spark 4.1 recursive CTEs are UNION ALL-only,
    * UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE). The cap is sound, not a
    * heuristic: the fixture's largest game (g9, BoardOps.fixtureRows)
    * has 15 pieces, so any post-move board occupies ≤ 16 cells and the
    * BFS diameter is ≤ 15 edges — step < 16 reaches every connected
    * cell. Per-step DISTINCT bounds each iteration at |occ_after| rows
    * per candidate (the working table is one step's frontier), so the
    * unrolling never re-expands exponentially. */
  private val connectivity: String =
    """, cand AS (
      |  SELECT DISTINCT game_id, piece_id, bug, from_q, from_r, to_q, to_r, kind FROM cand0
      |), occ_after AS (
      |  SELECT game_id, piece_id, to_q, to_r, q, r FROM (
      |    SELECT game_id, piece_id, to_q, to_r, q, r, SUM(n) AS n FROM (
      |      SELECT cd.game_id, cd.piece_id, cd.to_q, cd.to_r, c.q, c.r,
      |             c.n - CASE WHEN c.q = cd.from_q AND c.r = cd.from_r THEN 1 ELSE 0 END AS n
      |      FROM cand cd JOIN cells c USING (game_id)
      |      UNION ALL
      |      SELECT game_id, piece_id, to_q, to_r, to_q, to_r, 1 FROM cand
      |    ) u GROUP BY game_id, piece_id, to_q, to_r, q, r) s
      |  WHERE n > 0
      |), seed AS (
      |  SELECT game_id, piece_id, to_q, to_r, q, r FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY game_id, piece_id, to_q, to_r ORDER BY q, r) AS rn
      |    FROM occ_after) x WHERE rn = 1
      |), reach0 AS (
      |  SELECT game_id, piece_id, to_q, to_r, q, r, 0 AS step FROM seed
      |  UNION ALL
      |  SELECT DISTINCT o.game_id, o.piece_id, o.to_q, o.to_r, o.q, o.r,
      |         rr.step + 1 AS step
      |  FROM reach0 rr JOIN dirs d ON TRUE
      |  JOIN occ_after o ON o.game_id = rr.game_id AND o.piece_id = rr.piece_id
      |    AND o.to_q = rr.to_q AND o.to_r = rr.to_r
      |    AND o.q = rr.q + d.dq AND o.r = rr.r + d.dr
      |  WHERE rr.step < 16
      |), reach AS (
      |  SELECT DISTINCT game_id, piece_id, to_q, to_r, q, r FROM reach0
      |), total AS (
      |  SELECT game_id, piece_id, to_q, to_r, COUNT(*) AS n_occ
      |  FROM occ_after GROUP BY game_id, piece_id, to_q, to_r
      |), nreach AS (
      |  SELECT game_id, piece_id, to_q, to_r, COUNT(*) AS n_reach
      |  FROM reach GROUP BY game_id, piece_id, to_q, to_r
      |), connected_cand AS (
      |  SELECT cd.* FROM cand cd
      |  JOIN total t USING (game_id, piece_id, to_q, to_r)
      |  JOIN nreach nr USING (game_id, piece_id, to_q, to_r)
      |  WHERE nr.n_reach = t.n_occ
      |)""".stripMargin

  private val moveSelect: String =
    """SELECT game_id, piece_id, bug, from_q, from_r, to_q, to_r, kind
      |FROM connected_cand
      |ORDER BY game_id, piece_id, to_q, to_r""".stripMargin

  private def occ(g: String, q: String, r: String): String =
    s"EXISTS (SELECT 1 FROM cells c WHERE c.game_id = $g AND c.q = ($q) AND c.r = ($r))"

  /** Occupancy with the start cell (sq,sr) treated as empty. */
  private def occx(g: String, q: String, r: String, sq: String, sr: String): String =
    s"(NOT (($q) = $sq AND ($r) = $sr) AND EXISTS " +
      s"(SELECT 1 FROM cells c WHERE c.game_id = $g AND c.q = ($q) AND c.r = ($r)))"

  /** Ant/spider step predicates (rules.cpp:196-331): next cell not
    * occupied', adjacent to the hive', corridor-slidable', and not on
    * the current path. */
  private def stepPred(g: String, sq: String, sr: String,
      curQ: String, curR: String, path: Seq[(String, String)]): String = {
    val nq = s"$curQ + d.dq"
    val nr = s"$curR + d.dr"
    val notOcc = s"NOT ${occx(g, nq, nr, sq, sr)}"
    val adj = s"EXISTS (SELECT 1 FROM dirs d2 JOIN cells c ON c.game_id = $g " +
      s"AND c.q = ($nq) + d2.dq AND c.r = ($nr) + d2.dr " +
      s"WHERE NOT (c.q = $sq AND c.r = $sr))"
    val slide = s"NOT (${occx(g, s"$curQ + d.lq", s"$curR + d.lr", sq, sr)} " +
      s"AND ${occx(g, s"$curQ + d.rq", s"$curR + d.rr", sq, sr)})"
    val noRevisit = path
      .map { case (pq, pr) => s"NOT (($nq) = $pq AND ($nr) = $pr)" }
      .mkString(" AND ")
    s"$notOcc AND $adj AND $slide AND $noRevisit"
  }

  val q16: String = board +
    """
      |, queens AS (SELECT game_id, color, q, r FROM pieces WHERE bug = 'Queen')
      |, hits AS (
      |  SELECT qu.game_id, qu.color, COUNT(*) AS n_occ
      |  FROM queens qu CROSS JOIN dirs d
      |  JOIN cells c ON c.game_id = qu.game_id AND c.q = qu.q + d.dq AND c.r = qu.r + d.dr
      |  GROUP BY qu.game_id, qu.color)
      |, surr AS (
      |  SELECT qu.game_id, qu.color, COALESCE(h.n_occ, 0) = 6 AS surr
      |  FROM queens qu LEFT JOIN hits h USING (game_id, color))
      |SELECT g.game_id,
      |  COALESCE(w.surr, FALSE) AS white_surrounded,
      |  COALESCE(b.surr, FALSE) AS black_surrounded,
      |  CASE WHEN COALESCE(w.surr, FALSE) AND COALESCE(b.surr, FALSE) THEN 'Draw'
      |       WHEN COALESCE(w.surr, FALSE) THEN 'BlackWins'
      |       WHEN COALESCE(b.surr, FALSE) THEN 'WhiteWins'
      |       ELSE 'None' END AS outcome
      |FROM (SELECT DISTINCT game_id FROM pieces) g
      |LEFT JOIN (SELECT game_id, surr FROM surr WHERE color = 'White') w USING (game_id)
      |LEFT JOIN (SELECT game_id, surr FROM surr WHERE color = 'Black') b USING (game_id)
      |ORDER BY game_id""".stripMargin

  /** Game universe from a sequence: ids 1..9K are populated, id 0 is
    * the empty board (ui_app.cpp:557-560 → single target (0,0)). */
  val q17: String = board +
    """
      |, universe AS (
      |  SELECT unnest(generate_series(0,
      |    9 * GREATEST(CAST(FLOOR((SELECT COUNT(*) FROM orders) / 1500) AS INT), 1))) AS game_id)
      |, empty_games AS (
      |  SELECT game_id FROM universe u
      |  WHERE NOT EXISTS (SELECT 1 FROM pieces p WHERE p.game_id = u.game_id))
      |, frontier AS (
      |  SELECT DISTINCT c.game_id, c.q + d.dq AS q, c.r + d.dr AS r
      |  FROM cells c CROSS JOIN dirs d
      |  WHERE NOT EXISTS (SELECT 1 FROM cells o WHERE o.game_id = c.game_id
      |                    AND o.q = c.q + d.dq AND o.r = c.r + d.dr))
      |, adj_top AS (
      |  SELECT DISTINCT f.game_id, f.q, f.r, t.color AS top_color
      |  FROM frontier f CROSS JOIN dirs d
      |  JOIN tops t ON t.game_id = f.game_id AND t.q = f.q + d.dq AND t.r = f.r + d.dr)
      |, colors(color) AS (VALUES ('White'), ('Black'))
      |, placed AS (SELECT game_id, color, COUNT(*) AS n FROM pieces GROUP BY game_id, color)
      |, cand AS (
      |  SELECT f.game_id, col.color, f.q, f.r, COALESCE(p.n, 0) = 0 AS first_placement
      |  FROM frontier f CROSS JOIN colors col
      |  LEFT JOIN placed p ON p.game_id = f.game_id AND p.color = col.color)
      |SELECT game_id, color, q, r FROM cand
      |WHERE first_placement
      |   OR (EXISTS (SELECT 1 FROM adj_top a WHERE a.game_id = cand.game_id
      |               AND a.q = cand.q AND a.r = cand.r AND a.top_color = cand.color)
      |       AND NOT EXISTS (SELECT 1 FROM adj_top a WHERE a.game_id = cand.game_id
      |               AND a.q = cand.q AND a.r = cand.r AND a.top_color <> cand.color))
      |UNION ALL
      |SELECT e.game_id, col.color, 0 AS q, 0 AS r
      |FROM empty_games e CROSS JOIN colors col
      |ORDER BY game_id, color, q, r""".stripMargin

  val q18: String = board +
    s"""
       |, movers AS (SELECT * FROM tops WHERE bug = 'Queen')
       |, cand0 AS (
       |  SELECT m.game_id, m.piece_id, m.bug, m.q AS from_q, m.r AS from_r,
       |         m.q + d.dq AS to_q, m.r + d.dr AS to_r, 'Slide' AS kind
       |  FROM movers m CROSS JOIN dirs d
       |  WHERE NOT ${occ("m.game_id", "m.q + d.dq", "m.r + d.dr")}
       |    AND NOT (${occ("m.game_id", "m.q + d.lq", "m.r + d.lr")}
       |         AND ${occ("m.game_id", "m.q + d.rq", "m.r + d.rr")}))""".stripMargin +
    connectivity + "\n" + moveSelect

  val q18b: String = board +
    s"""
       |, movers AS (
       |  SELECT t.game_id, t.piece_id, t.bug, t.q, t.r, c.n AS from_n
       |  FROM tops t JOIN cells c USING (game_id, q, r) WHERE t.bug = 'Beetle')
       |, cand0 AS (
       |  SELECT m.game_id, m.piece_id, m.bug, m.q AS from_q, m.r AS from_r,
       |         m.q + d.dq AS to_q, m.r + d.dr AS to_r,
       |         CASE WHEN ${occ("m.game_id", "m.q + d.dq", "m.r + d.dr")}
       |              THEN 'Climb' ELSE 'Slide' END AS kind
       |  FROM movers m CROSS JOIN dirs d
       |  WHERE ${occ("m.game_id", "m.q + d.dq", "m.r + d.dr")}
       |     OR m.from_n > 1
       |     OR NOT (${occ("m.game_id", "m.q + d.lq", "m.r + d.lr")}
       |         AND ${occ("m.game_id", "m.q + d.rq", "m.r + d.rr")}))""".stripMargin +
    connectivity + "\n" + moveSelect

  val q19: String = board +
    """
      |, movers AS (SELECT * FROM tops WHERE bug = 'Grasshopper')
      |, rays AS (
      |  SELECT m.game_id, m.piece_id, m.bug, m.q AS from_q, m.r AS from_r, d.di, ks.k,
      |         m.q + ks.k * d.dq AS cq, m.r + ks.k * d.dr AS cr,
      |         EXISTS (SELECT 1 FROM cells c WHERE c.game_id = m.game_id
      |                 AND c.q = m.q + ks.k * d.dq AND c.r = m.r + ks.k * d.dr) AS occ
      |  FROM movers m CROSS JOIN dirs d
      |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS k) ks)
      |, firstempty AS (
      |  SELECT game_id, piece_id, bug, from_q, from_r, di, MIN(k) AS k_empty
      |  FROM rays WHERE NOT occ GROUP BY game_id, piece_id, bug, from_q, from_r, di)
      |, cand0 AS (
      |  SELECT r.game_id, r.piece_id, r.bug, r.from_q, r.from_r,
      |         r.cq AS to_q, r.cr AS to_r, 'Jump' AS kind
      |  FROM firstempty f
      |  JOIN rays r ON r.game_id = f.game_id AND r.piece_id = f.piece_id
      |    AND r.di = f.di AND r.k = f.k_empty
      |  WHERE f.k_empty >= 2)""".stripMargin +
    connectivity + "\n" + moveSelect

  val q20: String = board +
    s"""
       |, movers AS (SELECT * FROM tops WHERE bug = 'Spider')
       |, s1 AS (
       |  SELECT s.game_id, s.piece_id, s.bug, s.q AS sq, s.r AS sr,
       |         s.q + d.dq AS x1q, s.r + d.dr AS x1r
       |  FROM movers s CROSS JOIN dirs d
       |  WHERE ${stepPred("s.game_id", "s.q", "s.r", "s.q", "s.r", Seq(("s.q", "s.r")))})
       |, s2 AS (
       |  SELECT s.*, s.x1q + d.dq AS x2q, s.x1r + d.dr AS x2r
       |  FROM s1 s CROSS JOIN dirs d
       |  WHERE ${stepPred("s.game_id", "s.sq", "s.sr", "s.x1q", "s.x1r",
             Seq(("s.sq", "s.sr"), ("s.x1q", "s.x1r")))})
       |, s3 AS (
       |  SELECT s.*, s.x2q + d.dq AS x3q, s.x2r + d.dr AS x3r
       |  FROM s2 s CROSS JOIN dirs d
       |  WHERE ${stepPred("s.game_id", "s.sq", "s.sr", "s.x2q", "s.x2r",
             Seq(("s.sq", "s.sr"), ("s.x1q", "s.x1r"), ("s.x2q", "s.x2r")))})
       |, cand0 AS (
       |  SELECT DISTINCT game_id, piece_id, bug, sq AS from_q, sr AS from_r,
       |         x3q AS to_q, x3r AS to_r, 'Slide' AS kind
       |  FROM s3)""".stripMargin +
    connectivity + "\n" + moveSelect

  /** q21 stays a UNION-distinct fixpoint: unlike `connectivity`'s BFS,
    * its step predicate (corridor + adjacency) is correlated-EXISTS
    * heavy, and Spark decorrelates those into aggregates OVER the
    * recursive reference — rejected by recursive CTEs regardless of
    * UNION flavor (INVALID_RECURSIVE_REFERENCE.PLACE, verified round
    * 10). The depth IS fixture-bounded, but no portable spelling exists
    * without rewriting the predicates as manual joins; the DuckDB hash
    * match still proves the text's semantics against the DSL twin. */
  val q21: String = board +
    s"""
       |, movers AS (SELECT * FROM tops WHERE bug = 'Ant')
       |, visited AS (
       |  SELECT s.game_id, s.piece_id, s.bug, s.q AS sq, s.r AS sr,
       |         s.q + d.dq AS q, s.r + d.dr AS r
       |  FROM movers s CROSS JOIN dirs d
       |  WHERE ${stepPred("s.game_id", "s.q", "s.r", "s.q", "s.r", Seq(("s.q", "s.r")))}
       |  UNION
       |  SELECT s.game_id, s.piece_id, s.bug, s.sq, s.sr,
       |         s.q + d.dq AS q, s.r + d.dr AS r
       |  FROM visited s CROSS JOIN dirs d
       |  WHERE ${stepPred("s.game_id", "s.sq", "s.sr", "s.q", "s.r", Seq(("s.sq", "s.sr")))})
       |, cand0 AS (
       |  SELECT DISTINCT game_id, piece_id, bug, sq AS from_q, sr AS from_r,
       |         q AS to_q, r AS to_r, 'Slide' AS kind
       |  FROM visited)""".stripMargin +
    connectivity + "\n" + moveSelect

  /** q52 — union-dispatch legal moves (rules.cpp:334-344): the five
    * per-bug oracles combined. Each component is a complete WITH query;
    * DuckDB accepts a WITH clause inside a derived table, so the union
    * wraps them verbatim — no fragment surgery to drift out of sync. */
  val q52: String =
    Seq(q18, q18b, q19, q20, q21)
      .map(q => s"SELECT * FROM (\n$q\n)")
      .mkString("", "\nUNION ALL\n",
        "\nORDER BY game_id, piece_id, to_q, to_r")

  val q22: String = board +
    """
      |, cand0 AS (
      |  SELECT t.game_id, t.piece_id, t.bug, t.q AS from_q, t.r AS from_r,
      |         t.q + d.dq AS to_q, t.r + d.dr AS to_r, 'Any' AS kind
      |  FROM tops t CROSS JOIN dirs d)""".stripMargin +
    connectivity +
    """
      |SELECT cd.game_id, cd.piece_id, cd.to_q, cd.to_r,
      |  EXISTS (SELECT 1 FROM connected_cand cc WHERE cc.game_id = cd.game_id
      |          AND cc.piece_id = cd.piece_id AND cc.to_q = cd.to_q
      |          AND cc.to_r = cd.to_r) AS connected
      |FROM cand cd
      |ORDER BY game_id, piece_id, to_q, to_r""".stripMargin

  val q42: String = board +
    """
      |, proj AS (
      |  SELECT game_id, q, r,
      |    40.0 * (1.7320508075688772 * q + 1.7320508075688772 / 2 * r) AS px,
      |    40.0 * 1.5 * r AS py
      |  FROM cells)
      |, inv AS (
      |  SELECT game_id, q, r, px, py,
      |    px / 1.7320508075688772 / 40.0 - py / 3 / 40.0 AS qf,
      |    2.0 / 3 * (py / 40.0) AS rf
      |  FROM proj)
      |, rounded AS (
      |  SELECT game_id, q, r, px, py, qf, rf,
      |    ROUND(qf) AS rx, ROUND(-qf - rf) AS ry, ROUND(rf) AS rz,
      |    ABS(ROUND(qf) - qf) AS xd,
      |    ABS(ROUND(-qf - rf) - (-qf - rf)) AS yd,
      |    ABS(ROUND(rf) - rf) AS zd
      |  FROM inv)
      |SELECT game_id, q, r,
      |  CAST(FLOOR(px * 1000) AS BIGINT) AS px_x1000,
      |  CAST(FLOOR(py * 1000) AS BIGINT) AS py_x1000,
      |  CAST(CASE WHEN xd > yd AND xd > zd THEN -ry - rz ELSE rx END AS INT) AS rt_q,
      |  CAST(CASE WHEN xd > yd AND xd > zd THEN rz
      |            WHEN yd > zd THEN rz
      |            ELSE -rx - ry END AS INT) AS rt_r
      |FROM rounded
      |ORDER BY game_id, q, r""".stripMargin

  private val seedValues: String = ops.BoardOps.reserveSeed
    .map { case (bug, n) => s"('$bug',$n)" }.mkString(",")

  private val probeValues: String = ops.BoardOps.hoverProbes
    .map { case (id, ox, oy) => s"($id,$ox,$oy)" }.mkString(",")

  /** q44/q51/q53 bodies are exposed separately: they are plain ANSI
    * over the `pieces`/`cells` relations, so SqlSurface runs the SAME
    * Scala string values verbatim through spark.sql against the
    * Spark-derived board views (q104–q106) — the q92 shared-text proof
    * extended to the board surface. The DuckDB oracle prepends the
    * `board` CTE prefix; Spark prepends a one-row dummy CTE and reads
    * the registered views instead. */
  val q44Body: String =
    s"""
       |, seed(bug, seed) AS (VALUES $seedValues)
       |, colors(color) AS (VALUES ('White'), ('Black'))
       |, grid AS (
       |  SELECT g.game_id, col.color, s.bug, s.seed
       |  FROM (SELECT DISTINCT game_id FROM pieces) g
       |  CROSS JOIN colors col CROSS JOIN seed s)
       |, placed AS (
       |  SELECT game_id, color, bug, COUNT(*) AS n_placed
       |  FROM pieces GROUP BY game_id, color, bug)
       |, rem AS (
       |  SELECT gr.game_id, gr.color, gr.bug, CAST(gr.seed AS BIGINT) AS seed,
       |    COALESCE(p.n_placed, 0) AS n_placed,
       |    GREATEST(CAST(gr.seed AS BIGINT) - COALESCE(p.n_placed, 0), 0) AS remaining
       |  FROM grid gr LEFT JOIN placed p USING (game_id, color, bug))
       |SELECT game_id, color, bug, seed, n_placed, remaining,
       |  CAST(11 - SUM(remaining) OVER (PARTITION BY game_id, color) AS BIGINT)
       |    AS placements_made
       |FROM rem
       |ORDER BY game_id, color, bug""".stripMargin

  val q44: String = board + q44Body

  val q45: String = board +
    s"""
       |, proj AS (
       |  SELECT game_id, q, r,
       |    40.0 * (1.7320508075688772 * q + 1.7320508075688772 / 2 * r) AS px,
       |    40.0 * 1.5 * r AS py
       |  FROM cells)
       |, anchor AS (
       |  SELECT game_id, px AS ax, py AS ay FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY game_id ORDER BY q, r) AS rn
       |    FROM proj) t WHERE rn = 1)
       |, offsets(probe_id, ox, oy) AS (VALUES $probeValues)
       |, pts AS (
       |  SELECT a.game_id, o.probe_id, a.ax + o.ox AS wx, a.ay + o.oy AS wy
       |  FROM anchor a CROSS JOIN offsets o)
       |, hits AS (
       |  SELECT game_id, probe_id, q, r FROM (
       |    SELECT p.game_id, p.probe_id, c.q, c.r,
       |      ROW_NUMBER() OVER (PARTITION BY p.game_id, p.probe_id ORDER BY
       |        (p.wx - c.px) * (p.wx - c.px) + (p.wy - c.py) * (p.wy - c.py),
       |        c.q, c.r) AS rn
       |    FROM pts p JOIN proj c USING (game_id)
       |    WHERE (p.wx - c.px) * (p.wx - c.px) +
       |          (p.wy - c.py) * (p.wy - c.py) < 1156.0
       |  ) h WHERE rn = 1)
       |SELECT p.game_id, p.probe_id,
       |  h.q IS NOT NULL AS hovered,
       |  COALESCE(h.q, 0) AS hover_q,
       |  COALESCE(h.r, 0) AS hover_r
       |FROM pts p LEFT JOIN hits h USING (game_id, probe_id)
       |ORDER BY game_id, probe_id""".stripMargin

  /** `(cell_key - r_low) / 4294967296` is EXACT in both engines'
    * double division (the numerator is q·2^32, |q·2^32| < 2^53 for any
    * board coordinate) and replaces DuckDB-only `//` so the body is
    * dialect-portable. */
  val q51Body: String =
    """
      |, keyed AS (
      |  SELECT game_id, q, r,
      |    CAST(q AS BIGINT) * 4294967296 +
      |      (CASE WHEN r < 0 THEN CAST(r AS BIGINT) + 4294967296
      |            ELSE CAST(r AS BIGINT) END) AS cell_key
      |  FROM cells)
      |, dec AS (
      |  SELECT game_id, q, r, cell_key,
      |    ((cell_key % 4294967296) + 4294967296) % 4294967296 AS r_low
      |  FROM keyed)
      |SELECT game_id, q, r, cell_key,
      |  CAST((cell_key - r_low) / 4294967296 AS INT) AS rt_q,
      |  CAST(CASE WHEN r_low >= 2147483648 THEN r_low - 4294967296
      |            ELSE r_low END AS INT) AS rt_r
      |FROM dec
      |ORDER BY game_id, q, r""".stripMargin

  val q51: String = board + q51Body

  /** q53 — viewport culling: unproject the four window corners with the
    * q42 inverse + cube rounding, pad ±3, keep cells inside the box. */
  val q53Body: String =
    """
      |, corners(wx, wy) AS (VALUES
      |  (CAST(-640 AS DOUBLE), CAST(-360 AS DOUBLE)),
      |  (CAST(640 AS DOUBLE), CAST(-360 AS DOUBLE)),
      |  (CAST(-640 AS DOUBLE), CAST(360 AS DOUBLE)),
      |  (CAST(640 AS DOUBLE), CAST(360 AS DOUBLE)))
      |, cin AS (
      |  SELECT wx / 1.7320508075688772 / 40.0 - wy / 3 / 40.0 AS qf,
      |         2.0 / 3 * (wy / 40.0) AS rf
      |  FROM corners)
      |, crnd AS (
      |  SELECT qf, rf, ROUND(qf) AS rx, ROUND(-qf - rf) AS ry, ROUND(rf) AS rz,
      |    ABS(ROUND(qf) - qf) AS xd,
      |    ABS(ROUND(-qf - rf) - (-qf - rf)) AS yd,
      |    ABS(ROUND(rf) - rf) AS zd
      |  FROM cin)
      |, cax AS (
      |  SELECT CAST(CASE WHEN xd > yd AND xd > zd THEN -ry - rz ELSE rx END AS INT) AS cq,
      |         CAST(CASE WHEN xd > yd AND xd > zd THEN rz
      |                   WHEN yd > zd THEN rz
      |                   ELSE -rx - ry END AS INT) AS cr
      |  FROM crnd)
      |, bbox AS (
      |  SELECT MIN(cq) - 3 AS min_q, MAX(cq) + 3 AS max_q,
      |         MIN(cr) - 3 AS min_r, MAX(cr) + 3 AS max_r
      |  FROM cax)
      |SELECT c.game_id, c.q, c.r, c.n
      |FROM cells c, bbox b
      |WHERE c.q BETWEEN b.min_q AND b.max_q
      |  AND c.r BETWEEN b.min_r AND b.max_r
      |ORDER BY game_id, q, r""".stripMargin

  val q53: String = board + q53Body

  /** q23 body: ordered stack roster without ordered string_agg (whose
    * ORDER BY spelling is not dialect-shared). Stack height is
    * RULES-BOUNDED: only the 4 beetles can climb (rules.cpp:136-168,
    * two per color), so height ∈ [0, 4] always — the ordered concat is
    * five fixed height slots under concat_ws, which skips empty slots
    * identically in both engines. Exposed as a body so q103 runs the
    * SAME bytes over the Spark-derived board views (the q104-q106
    * shared-text proof, now covering the stack roster too). */
  val q23Body: String =
    """
      |SELECT game_id, q, r, COUNT(*) AS stack_size,
      |  arg_max(piece_id, height) AS top_piece_id,
      |  concat_ws(',',
      |    MAX(CASE WHEN height = 0 THEN CAST(piece_id AS STRING) END),
      |    MAX(CASE WHEN height = 1 THEN CAST(piece_id AS STRING) END),
      |    MAX(CASE WHEN height = 2 THEN CAST(piece_id AS STRING) END),
      |    MAX(CASE WHEN height = 3 THEN CAST(piece_id AS STRING) END),
      |    MAX(CASE WHEN height = 4 THEN CAST(piece_id AS STRING) END)) AS stack_ids
      |FROM pieces GROUP BY game_id, q, r
      |ORDER BY game_id, q, r""".stripMargin

  val q23: String = board + q23Body
}
