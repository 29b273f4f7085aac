package graft.operators

import graft.{QueryDef, Tables}
import graft.domain.{FrameSolver, ReferenceDates}
import graft.functions.GeoFunctions
import org.apache.spark.sql.functions._

/** Geospatial + domain-algorithm query surface.
  *
  * The pure-arithmetic parts (UTM zone/EPSG, bbox containment join) carry
  * DuckDB oracles. The JTS topology pipeline and the sequential domain
  * algorithms (DP frame solver, reference-date sweep) are not
  * SQL-expressible → rows-only driver checks, with correctness pinned by
  * ScalaTest specs instead.
  */
object Geo {

  /** deterministic synthetic lon/lat from an integer key (pure math on both
    * engines; 0.25 offset keeps points off cell edges) */
  private def synthLon(k: org.apache.spark.sql.Column) =
    ((k * 91) % 360 - 180 + lit(0.25)).cast("double")
  private def synthLat(k: org.apache.spark.sql.Column) =
    ((k * 47) % 180 - 90 + lit(0.25)).cast("double")

  /** land polygon paired with [[burstGridFixture]] (the q_catalog_build
    * fixture; MainSpec reuses both to oracle the CLI against direct
    * Catalog calls on the same build). */
  val catalogFixtureLandWkt = "POLYGON ((0 5, 40 5, 40 15, 0 15, 0 5))"

  /** ESA-style burst grid synthesized from the supplier table WITHOUT a
    * driver-side action. Suppkeys in the testdata are 0-based (0..N−1);
    * burst q = s_suppkey sits on track q/27+1 at grid row q%27, its three
    * subswath squares side by side in x. All index arithmetic is INTEGER
    * (floor/%) — an earlier draft used Spark's `/` (double division),
    * which staggered the subswaths by sw/3 and, with the 1-based suppkey
    * assumption, emitted a stray track-0 burst. The grid is analytically
    * invertible, which is what lets q_catalog_frames_meta oracle the land
    * flag arithmetically. */
  def burstGridFixture(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.supplier(s, d)
      .filter(col("s_suppkey") < 400)
      .select(col("s_suppkey").cast("long").as("q"),
        explode(sequence(lit(0L), lit(2L))).as("sw"))
      .select(col("q"), col("sw"),
        floor(col("q") / 27).cast("long").as("tr"),
        (col("q") % 27).cast("long").as("r"))
      .select(
        (col("q") * 3 + col("sw") + 1).cast("int").as("OGC_FID"),
        (col("q") + 1).cast("long").as("burst_id"),
        (col("tr") + 1).cast("int").as("relative_orbit_number"),
        concat(lit("IW"), (col("sw") + 1)).as("subswath_name"),
        lit("ASCENDING").as("orbit_pass"),
        format_string("POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
          (col("tr") * 8 + col("sw")).cast("double"),
          col("r") * lit(0.8),
          (col("tr") * 8 + col("sw") + 1).cast("double"),
          col("r") * lit(0.8),
          (col("tr") * 8 + col("sw") + 1).cast("double"),
          col("r") * lit(0.8) + 0.8,
          (col("tr") * 8 + col("sw")).cast("double"),
          col("r") * lit(0.8) + 0.8,
          (col("tr") * 8 + col("sw")).cast("double"),
          col("r") * lit(0.8)).as("geom"))

  /** Shared DuckDB-oracle frame solve (pos -> allf): land flag ->
    * two-pass smoothing -> per-run DP frame solve -> feasible/infeasible
    * frame spans, keyed by `key`. `pos` is the body of the (key, rn, land0)
    * CTE it starts from; callers wrap as "WITH RECURSIVE <prefix>, <tail...>". */
  private def framesDpSql(pos: String): String =
    s"pos AS (\n$pos),\n" +
    """r0 AS (
      |  SELECT key, rn, land0,
      |    rn - ROW_NUMBER() OVER (PARTITION BY key, land0 ORDER BY rn) AS g0
      |  FROM pos),
      |shortland AS (
      |  SELECT key, MAX(rn) AS e FROM r0 WHERE land0
      |  GROUP BY key, g0 HAVING COUNT(*) < 5),
      |i1 AS (
      |  SELECT p.key, p.rn,
      |    (p.land0 OR EXISTS (SELECT 1 FROM shortland s
      |       WHERE s.key = p.key AND p.rn BETWEEN s.e - 1 AND s.e + 3)) AS land1
      |  FROM pos p),
      |r1 AS (
      |  SELECT key, rn, land1,
      |    rn - ROW_NUMBER() OVER (PARTITION BY key, land1 ORDER BY rn) AS g1
      |  FROM i1),
      |runlen AS (
      |  SELECT key, land1, g1, COUNT(*) AS len
      |  FROM r1 GROUP BY key, land1, g1),
      |i2 AS (
      |  SELECT r.key, r.rn, (r.land1 OR l.len < 5) AS land
      |  FROM r1 r JOIN runlen l
      |    ON l.key = r.key AND l.land1 = r.land1 AND l.g1 = r.g1),
      |r2 AS (
      |  SELECT key, rn, land,
      |    rn - ROW_NUMBER() OVER (PARTITION BY key, land ORDER BY rn) AS g2
      |  FROM i2),
      |nn AS (
      |  SELECT key, land,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY MIN(rn)) AS BIGINT) AS run_id,
      |    CAST(MIN(rn) - 1 AS BIGINT) AS run_start,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM r2 GROUP BY key, land, g2),
      |dp AS (
      |  SELECT key, run_id, n, n AS i, CAST(0 AS BIGINT) AS best,
      |    CAST(-1 AS BIGINT) AS bj,
      |    CAST(1000000000000 AS BIGINT) AS w1, CAST(1000000000000 AS BIGINT) AS w2,
      |    CAST(1000000000000 AS BIGINT) AS w3, CAST(1000000000000 AS BIGINT) AS w4,
      |    CAST(1000000000000 AS BIGINT) AS w5, CAST(1000000000000 AS BIGINT) AS w6,
      |    CAST(1000000000000 AS BIGINT) AS w7, CAST(1000000000000 AS BIGINT) AS w8,
      |    CAST(1000000000000 AS BIGINT) AS w9
      |  FROM nn
      |  UNION ALL
      |  SELECT key, run_id, n, i,
      |    LEAST(c4, c5, c6, c7, c8, c9) AS best,
      |    CASE LEAST(c4, c5, c6, c7, c8, c9)
      |      WHEN c4 THEN i + 4 WHEN c5 THEN i + 5 WHEN c6 THEN i + 6
      |      WHEN c7 THEN i + 7 WHEN c8 THEN i + 8 ELSE i + 9 END AS bj,
      |    w1, w2, w3, w4, w5, w6, w7, w8, w9
      |  FROM (
      |    SELECT key, run_id, n, i - 1 AS i,
      |      CASE WHEN i + 3 <= n AND w3 < 1000000000000
      |        THEN w3 + 64 ELSE 1000000000000 END AS c4,
      |      CASE WHEN i + 4 <= n AND w4 < 1000000000000
      |        THEN w4 + 27 ELSE 1000000000000 END AS c5,
      |      CASE WHEN i + 5 <= n AND w5 < 1000000000000
      |        THEN w5 + 8 ELSE 1000000000000 END AS c6,
      |      CASE WHEN i + 6 <= n AND w6 < 1000000000000
      |        THEN w6 + 1 ELSE 1000000000000 END AS c7,
      |      CASE WHEN i + 7 <= n AND w7 < 1000000000000
      |        THEN w7 ELSE 1000000000000 END AS c8,
      |      CASE WHEN i + 8 <= n AND w8 < 1000000000000
      |        THEN w8 + 1 ELSE 1000000000000 END AS c9,
      |      best AS w1, w1 AS w2, w2 AS w3, w3 AS w4, w4 AS w5,
      |      w5 AS w6, w6 AS w7, w7 AS w8, w8 AS w9
      |    FROM dp WHERE i > 0) s),
      |walk AS (
      |  SELECT key, run_id, n, CAST(0 AS BIGINT) AS k FROM nn
      |  UNION ALL
      |  SELECT w.key, w.run_id, w.n, d.bj AS k
      |  FROM walk w JOIN dp d
      |    ON d.key = w.key AND d.run_id = w.run_id AND d.i = w.k
      |  WHERE w.k < w.n AND d.best < 1000000000000),
      |feas AS (
      |  SELECT w.key, nn.run_start + w.k AS "start",
      |    nn.run_start + LEAST(d.bj + 1, w.n) AS "end", nn.land AS is_land
      |  FROM walk w
      |  JOIN dp d ON d.key = w.key AND d.run_id = w.run_id AND d.i = w.k
      |  JOIN nn ON nn.key = w.key AND nn.run_id = w.run_id
      |  WHERE w.k < w.n AND d.best < 1000000000000),
      |infeas AS (
      |  SELECT nn.key, nn.run_start AS "start",
      |    nn.run_start + nn.n AS "end", nn.land AS is_land
      |  FROM nn JOIN dp d
      |    ON d.key = nn.key AND d.run_id = nn.run_id AND d.i = 0
      |  WHERE d.best >= 1000000000000),
      |allf AS (
      |  SELECT * FROM feas UNION ALL SELECT * FROM infeas)""".stripMargin

  /** The frame solve on the jpl-id grid inversion, keyed by track; both
    * q_catalog_frames_meta and q_catalog_build build on it. */
  private val catalogFramesPrefixSql: String = framesDpSql(
    """  SELECT CAST(s_suppkey // 27 + 1 AS INTEGER) AS key,
      |    ROW_NUMBER() OVER (PARTITION BY s_suppkey // 27
      |      ORDER BY s_suppkey) AS rn,
      |    ((s_suppkey // 27) <= 5
      |      AND (s_suppkey % 27) BETWEEN 6 AND 18) AS land0
      |  FROM supplier WHERE s_suppkey < 400""".stripMargin)

  val queries: Seq[QueryDef] = Seq(

    // UTM zone + EPSG assignment incl. Norway/Svalbard exceptions
    // (build_frame_db.py:193-259 semantics, as oracle-able arithmetic)
    QueryDef.sql(
      "q_utm_zone_epsg",
      """WITH pts AS (
        |  SELECT s_suppkey,
        |    CAST((s_suppkey*91) % 360 - 180 + 0.25 AS DOUBLE) AS lon,
        |    CAST((s_suppkey*47) % 180 - 90 + 0.25 AS DOUBLE) AS lat
        |  FROM supplier),
        |zoned AS (
        |  SELECT s_suppkey, lon, lat,
        |    CASE
        |      WHEN lat >= 56 AND lat < 64 AND lon >= 3 AND lon < 12 THEN 32
        |      WHEN lat >= 72 AND lat < 84 AND lon >= 0 AND lon < 9 THEN 31
        |      WHEN lat >= 72 AND lat < 84 AND lon >= 9 AND lon < 21 THEN 33
        |      WHEN lat >= 72 AND lat < 84 AND lon >= 21 AND lon < 33 THEN 35
        |      WHEN lat >= 72 AND lat < 84 AND lon >= 33 AND lon < 42 THEN 37
        |      ELSE GREATEST(1, LEAST(60, CAST(FLOOR((lon+180)/6)+1 AS INTEGER)))
        |    END AS zone
        |  FROM pts)
        |SELECT s_suppkey, CAST(zone AS BIGINT) AS zone,
        |  CAST(CASE WHEN lat > 75 THEN 3413
        |            WHEN lat < -60 THEN 3031
        |            WHEN lat >= 0 THEN 32600 + zone
        |            ELSE 32700 + zone END AS BIGINT) AS epsg
        |FROM zoned ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val pts = Tables.supplier(s, d).select(col("s_suppkey"),
        synthLon(col("s_suppkey")).as("lon"), synthLat(col("s_suppkey")).as("lat"))
      pts.select(col("s_suppkey"),
          GeoFunctions.utmZone(col("lon"), col("lat")).cast("long").as("zone"),
          GeoFunctions.utmEpsg(col("lon"), col("lat")).cast("long").as("epsg"))
        .orderBy(col("s_suppkey"))
    },

    // Two-stage spatial join: bbox containment as plain column predicates
    // (the query_frame_db.py:85-121 "R-tree probe then refine" plan — for
    // axis-aligned boxes the prefilter IS exact, so it oracles cleanly;
    // parquet min/max stats make the same predicate a data-skipping scan
    // at 100 TB)
    QueryDef.sql(
      "q_bbox_spatial_join",
      """WITH pts AS (
        |  SELECT c_custkey,
        |    CAST((c_custkey*37) % 360 - 180 + 0.5 AS DOUBLE) AS x,
        |    CAST((c_custkey*73) % 160 - 80 + 0.5 AS DOUBLE) AS y
        |  FROM customer),
        |boxes AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey*29) % 300 - 170 AS DOUBLE) AS xmin,
        |    CAST((n_nationkey*53) % 120 - 70 AS DOUBLE) AS ymin
        |  FROM nation)
        |SELECT n_nationkey, CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_keys
        |FROM boxes JOIN pts
        |  ON pts.x >= boxes.xmin AND pts.x < boxes.xmin + 60
        | AND pts.y >= boxes.ymin AND pts.y < boxes.ymin + 40
        |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val pts = Tables.customer(s, d).select(col("c_custkey"),
        ((col("c_custkey") * 37) % 360 - 180 + lit(0.5)).cast("double").as("x"),
        ((col("c_custkey") * 73) % 160 - 80 + lit(0.5)).cast("double").as("y"))
      val boxes = Tables.nation(s, d).select(col("n_nationkey"),
        ((col("n_nationkey") * 29) % 300 - 170).cast("double").as("xmin"),
        ((col("n_nationkey") * 53) % 120 - 70).cast("double").as("ymin"))
      broadcast(boxes).join(pts,
          col("x") >= col("xmin") && col("x") < col("xmin") + 60 &&
            col("y") >= col("ymin") && col("y") < col("ymin") + 40)
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n_points"), sum(col("c_custkey")).as("sum_keys"))
        .orderBy(col("n_nationkey"))
    },

    // Radius-bounded nearest-neighbor spatial join: for each customer
    // point the closest supplier point within R = 10 units, exact
    // integer squared distances, deterministic (dist², key) tie-break.
    // The grid cell size EQUALS the radius, so the 3×3 neighbor-cell
    // equi-join is complete by construction (no ring expansion, no
    // theta join): suppliers replicate into their 9 neighbor cells
    // (bounded 9×), the join keys on the cell id, and the per-customer
    // argmin is a key-partitioned window. The oracle is the quadratic
    // brute force — same radius, same tie-break.
    QueryDef.sql(
      "q_spatial_nn_radius",
      """WITH cp AS (
        |  SELECT c_custkey, CAST((c_custkey*37) % 360 AS BIGINT) AS x,
        |    CAST((c_custkey*73) % 160 AS BIGINT) AS y
        |  FROM customer),
        |sp AS (
        |  SELECT s_suppkey, CAST((s_suppkey*41) % 360 AS BIGINT) AS x,
        |    CAST((s_suppkey*67) % 160 AS BIGINT) AS y
        |  FROM supplier),
        |pairs AS (
        |  SELECT c.c_custkey, s.s_suppkey,
        |    (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2
        |  FROM cp c JOIN sp s
        |    ON (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= 100),
        |rk AS (
        |  SELECT c_custkey, s_suppkey, d2,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey
        |                       ORDER BY d2, s_suppkey) AS rn
        |  FROM pairs)
        |SELECT c_custkey, s_suppkey AS nn_suppkey, CAST(d2 AS BIGINT) AS dist2
        |FROM rk WHERE rn = 1 ORDER BY c_custkey LIMIT 2000""".stripMargin) { (s, d) =>
      val cell = 10L
      val cp = Tables.customer(s, d).select(col("c_custkey"),
        (col("c_custkey") * 37 % 360).cast("long").as("x"),
        (col("c_custkey") * 73 % 160).cast("long").as("y"))
      val sp = Tables.supplier(s, d).select(col("s_suppkey"),
        (col("s_suppkey") * 41 % 360).cast("long").as("x"),
        (col("s_suppkey") * 67 % 160).cast("long").as("y"))
      // suppliers replicate into the 9 neighbor cells; customers key by
      // their own cell — cell = radius makes the neighborhood complete
      val sCells = sp.select(col("s_suppkey"), col("x").as("sx"), col("y").as("sy"),
          explode(array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
            struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))): _*)).as("o"))
        .select(col("s_suppkey"), col("sx"), col("sy"),
          (expr(s"sx div $cell") + col("o.dx")).as("cx"),
          (expr(s"sy div $cell") + col("o.dy")).as("cy"))
      val cCells = cp.select(col("c_custkey"), col("x").as("px"), col("y").as("py"),
        expr(s"x div $cell").as("cx"), expr(s"y div $cell").as("cy"))
      val d2 = (col("px") - col("sx")) * (col("px") - col("sx")) +
        (col("py") - col("sy")) * (col("py") - col("sy"))
      val pairs = cCells.join(sCells, Seq("cx", "cy"))
        .select(col("c_custkey"), col("s_suppkey"), d2.as("d2"))
        .filter(col("d2") <= cell * cell)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_custkey")).orderBy(col("d2"), col("s_suppkey"))
      pairs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_custkey"), col("s_suppkey").as("nn_suppkey"),
          col("d2").cast("long").as("dist2"))
        .orderBy(col("c_custkey"))
        .limit(2000)
    },

    // JTS union aggregator, ORACLE-VERIFIED numerically: grid-snapped unit
    // squares make the union's area equal the count of distinct occupied
    // cells and its envelope the cell min/max — quantities plain SQL can
    // compute. A drift in the JTS union/area/envelope path breaks the hash.
    QueryDef.sql(
      "q_geo_union_area",
      """WITH cells AS (
        |  SELECT DISTINCT c_nationkey,
        |    CAST((c_custkey*37) % 300 - 150 AS BIGINT) AS x,
        |    CAST((c_custkey*73) % 140 - 70 AS BIGINT) AS y
        |  FROM customer WHERE c_custkey <= 2000)
        |SELECT c_nationkey,
        |  CAST(COUNT(*) AS BIGINT) AS union_area,
        |  CAST(MIN(x) AS BIGINT) AS xmin, CAST(MIN(y) AS BIGINT) AS ymin,
        |  CAST(MAX(x) + 1 AS BIGINT) AS xmax, CAST(MAX(y) + 1 AS BIGINT) AS ymax
        |FROM cells GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      val pts = Tables.customer(s, d).filter(col("c_custkey") <= 2000)
        .select(col("c_nationkey"),
          ((col("c_custkey") * 37) % 300 - 150).cast("long").as("x"),
          ((col("c_custkey") * 73) % 140 - 70).cast("long").as("y"))
      val sq = pts.withColumn("wkt", format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        col("x"), col("y"), col("x") + 1, col("y"), col("x") + 1, col("y") + 1,
        col("x"), col("y") + 1, col("x"), col("y")))
      sq.groupBy(col("c_nationkey"))
        .agg(GeoFunctions.stUnionAgg(col("wkt")).as("geom"))
        .select(col("c_nationkey"),
          floor(GeoFunctions.stArea(col("geom")) + 0.5).cast("long").as("union_area"),
          GeoFunctions.stEnvelope(col("geom")).as("e"))
        .select(col("c_nationkey"), col("union_area"),
          floor(col("e._1") + 0.5).cast("long").as("xmin"),
          floor(col("e._2") + 0.5).cast("long").as("ymin"),
          floor(col("e._3") + 0.5).cast("long").as("xmax"),
          floor(col("e._4") + 0.5).cast("long").as("ymax"))
        .orderBy(col("c_nationkey"))
    },

    // JTS topology pipeline, ORACLE-VERIFIED: WKT 2×2 squares at integer
    // offsets per customer point → per-nation geometry union (custom
    // Aggregator) → area, envelope, boundary length. On the integer
    // lattice every JTS quantity has a closed form plain SQL computes
    // from the occupied unit cells — area = |cells|, perimeter =
    // 4·|cells| − 2·|adjacent pairs| (interior rings and corner-touching
    // MultiPolygon parts both fall out of the edge census), envelope =
    // cell min/max — and shoelace/segment sums over integer coordinates
    // are exact in double, so the hash pins the whole WKT→union→area/
    // length/envelope path bit-for-bit.
    QueryDef.sql(
      "q_geo_union_pipeline",
      """WITH sq AS (
        |  SELECT c_nationkey,
        |    CAST((c_custkey*37) % 340 - 170 AS BIGINT) AS x,
        |    CAST((c_custkey*73) % 140 - 70 AS BIGINT) AS y
        |  FROM customer WHERE c_custkey <= 2000),
        |cells AS (
        |  SELECT DISTINCT c_nationkey, x + dx.d AS cx, y + dy.d AS cy
        |  FROM sq,
        |    (SELECT UNNEST(RANGE(0, 2)) AS d) dx,
        |    (SELECT UNNEST(RANGE(0, 2)) AS d) dy),
        |adj AS (
        |  SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_adj
        |  FROM cells c JOIN cells n
        |    ON n.c_nationkey = c.c_nationkey
        |   AND ((n.cx = c.cx + 1 AND n.cy = c.cy)
        |     OR (n.cx = c.cx AND n.cy = c.cy + 1))
        |  GROUP BY c.c_nationkey),
        |agg AS (
        |  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |    MIN(cx) AS xmin, MIN(cy) AS ymin,
        |    MAX(cx) + 1 AS xmax, MAX(cy) + 1 AS ymax
        |  FROM cells GROUP BY c_nationkey),
        |ns AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_squares
        |  FROM sq GROUP BY c_nationkey)
        |SELECT agg.c_nationkey, ns.n_squares,
        |  CAST(agg.n_cells AS DOUBLE) AS union_area,
        |  CAST(agg.xmin AS DOUBLE) AS xmin, CAST(agg.ymin AS DOUBLE) AS ymin,
        |  CAST(agg.xmax AS DOUBLE) AS xmax, CAST(agg.ymax AS DOUBLE) AS ymax,
        |  CAST(4 * agg.n_cells - 2 * COALESCE(adj.n_adj, 0) AS DOUBLE) AS perimeter_len
        |FROM agg
        |JOIN ns USING (c_nationkey)
        |LEFT JOIN adj USING (c_nationkey)
        |ORDER BY agg.c_nationkey""".stripMargin) { (s, d) =>
      val pts = Tables.customer(s, d).filter(col("c_custkey") <= 2000)
        .select(col("c_custkey"), col("c_nationkey"),
          ((col("c_custkey") * 37) % 340 - 170).cast("double").as("x"),
          ((col("c_custkey") * 73) % 140 - 70).cast("double").as("y"))
      val sq = pts.withColumn("wkt", format_string(
        "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
        col("x"), col("y"), col("x") + 2, col("y"), col("x") + 2, col("y") + 2,
        col("x"), col("y") + 2, col("x"), col("y")))
      sq.groupBy(col("c_nationkey"))
        .agg(GeoFunctions.stUnionAgg(col("wkt")).as("geom"),
          count(lit(1)).as("n_squares"))
        .select(col("c_nationkey"), col("n_squares"),
          GeoFunctions.stArea(col("geom")).as("union_area"),
          GeoFunctions.stEnvelope(col("geom")).as("bbox"),
          GeoFunctions.stLength(col("geom")).as("perimeter_len"))
        .select(col("c_nationkey"), col("n_squares"), col("union_area"),
          col("bbox._1").as("xmin"), col("bbox._2").as("ymin"),
          col("bbox._3").as("xmax"), col("bbox._4").as("ymax"),
          col("perimeter_len"))
        .orderBy(col("c_nationkey"))
    },

    // broadcast STRtree spatial join (J7): synthetic points vs polygons
    // through the real tree+prepared-geometry path. ORACLED: the fixture
    // polygons are axis-aligned rectangles, so an independent SQL range
    // join computes the identical answer — a drift anywhere in the
    // WKB→tree→prepared-intersects path breaks the hash (JTS intersects
    // includes the boundary, hence BETWEEN on both axes).
    QueryDef.sql(
      "q_spatial_join_strtree",
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST((c_custkey*37) % 300 - 150 AS BIGINT) AS x,
        |    CAST((c_custkey*73) % 140 - 70 AS BIGINT) AS y
        |  FROM customer),
        |polys AS (
        |  SELECT k, CAST(k*25 - 150 AS BIGINT) AS x0,
        |    CAST((k % 4)*30 - 60 AS BIGINT) AS y0
        |  FROM (SELECT UNNEST(RANGE(0, 12)) AS k))
        |SELECT CAST(k AS BIGINT) AS poly_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(SUM(id) AS BIGINT) AS sum_ids
        |FROM polys JOIN pts
        |  ON pts.x BETWEEN polys.x0 AND polys.x0 + 30
        | AND pts.y BETWEEN polys.y0 AND polys.y0 + 35
        |GROUP BY k ORDER BY poly_id""".stripMargin) { (s, d) =>
      val pts = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        format_string("POINT (%d %d)",
          (col("c_custkey") * 37) % 300 - 150,
          (col("c_custkey") * 73) % 140 - 70).as("wkt"))
      val polys = (0L until 12L).map { k =>
        val x0 = k * 25 - 150; val y0 = (k % 4) * 30 - 60
        (k, s"POLYGON (($x0 $y0, ${x0 + 30} $y0, ${x0 + 30} ${y0 + 35}, $x0 ${y0 + 35}, $x0 $y0))")
      }
      graft.operators.SpatialJoin.broadcastSpatialJoin(pts, polys, "intersects")
        .groupBy(col("poly_id"))
        .agg(count(lit(1)).as("n_points"), sum(col("id")).cast("long").as("sum_ids"))
        .orderBy(col("poly_id"))
    },

    // DP frame solver over per-user event tracks (frames.py:77-236
    // semantics; flatMapGroups, key-local), land = (event_type = 'error').
    // The oracle replays the FULL pipeline:
    //  (1) SMOOTHING as a window-function prepass. The Scala fixpoint has a
    //      closed form (see FrameSolver.frameQuery): phase A ORs the smear
    //      interval [e−2, e+2] (0-idx; 1-idx rn ∈ [e−1, e+3]) around each
    //      ORIGINAL land run shorter than 5, where e = exclusive run end;
    //      phase B completely floods every water run of the phase-A
    //      indicator still shorter than 5 (each while-pass shrinks such a
    //      run by 2 from the right and never alters another water run, so
    //      short ⇒ fully flooded).
    //  (2) The badness DP per (key, final run): dp(i) = min over frame
    //      sizes 5..10 of dp(j) + ⌊|size−9|⌋³ (= 64,27,8,1,0,1), computed
    //      BACKWARD with the 9-slot dp window carried as columns w1..w9
    //      (w_k = dp(i+k)), ties broken to the smallest j exactly like the
    //      Scala loop; then a forward recursive walk re-emits the overlap-1
    //      slices (end = min(bj+1, n)), offset by the run's absolute start.
    //      Infeasible runs (n < 5, dp(0) = ∞ sentinel 1e12) fall back to
    //      one undersized frame carrying the run's own land flag.
    QueryDef.sql(
      "q_frame_dp",
      "WITH RECURSIVE " + framesDpSql(
        """  SELECT user_id AS key,
          |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
          |    (event_type = 'error') AS land0
          |  FROM events""".stripMargin) +
        """
        |SELECT key,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY "start", "end") AS BIGINT) AS frame_id,
        |  "start", "end", is_land, "end" - "start" AS n_bursts
        |FROM allf ORDER BY key, frame_id""".stripMargin)(
      (s, d) => FrameSolver.frameQuery(s, d)),

    // Reference-date sweep (reference_dates.py:105-157 semantics). The
    // per-key sequential state (emit when accumulated days ≥ refs·interval
    // AND the group holds ≥ minAcq rows) is oracled as a row-at-a-time
    // recursive CTE: state = (refs emitted, rows in open group), stepping
    // one ordered row per iteration for every key in parallel.
    QueryDef.sql(
      "q_reference_dates",
      """WITH RECURSIVE ordered AS (
        |  SELECT user_id AS key, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    FIRST_VALUE(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t0
        |  FROM events),
        |step AS (
        |  SELECT key, rn, t0, ts, 1 AS refs, 1 AS grp, TRUE AS emitted
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.key, o.rn, s.t0, o.ts,
        |    CASE WHEN ((EPOCH_US(o.ts) - EPOCH_US(s.t0)) // 86400000000 >= s.refs * 30)
        |              AND (s.grp + 1 >= 10)
        |         THEN s.refs + 1 ELSE s.refs END AS refs,
        |    CASE WHEN ((EPOCH_US(o.ts) - EPOCH_US(s.t0)) // 86400000000 >= s.refs * 30)
        |              AND (s.grp + 1 >= 10)
        |         THEN 0 ELSE s.grp + 1 END AS grp,
        |    ((EPOCH_US(o.ts) - EPOCH_US(s.t0)) // 86400000000 >= s.refs * 30)
        |      AND (s.grp + 1 >= 10) AS emitted
        |  FROM step s
        |  JOIN ordered o ON o.key = s.key AND o.rn = s.rn + 1)
        |SELECT key,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY rn) AS BIGINT) AS ref_idx,
        |  ts AS ref_ts
        |FROM step WHERE emitted
        |ORDER BY key, ref_idx""".stripMargin)((s, d) =>
      ReferenceDates.referenceQuery(s, d)),

    // Full §3.1 catalog build on a synthesized ESA-style burst grid:
    // jpl-id → triplet dissolve (geometry union agg) → land flag → DP frame
    // optimization → frame assembly → EPSG → snapped UTM bbox.
    // ORACLE-VERIFIED including the geometry columns (was rows-only through
    // r12): on the integer grid the dissolved frame geometry is an exact
    // rectangle whose JTS-retained vertex set is fully regular — left/right
    // edges keep every 0.8° row seam, top/bottom edges keep the subswath
    // seams at x0+1/x0+2 (verified structurally; any deviation breaks the
    // hash) — so the oracle enumerates the SAME vertices, runs the SAME
    // Snyder TM-forward series in SQL, and snaps. Cross-engine exactness
    // does NOT need bit-identical transcendentals here: libm sin/cos may
    // differ from the JVM's by ~1 ulp (≈1e-8 m after the series), but the
    // outputs are 30 m-snapped ints and CatalogSnapGuardSpec proves every
    // pre-snap coordinate sits ≥ 1e-3 m from a snap boundary and every
    // centroid ≥ 0.5° from a UTM zone edge — five orders of magnitude of
    // margin. EPSG reduces to arithmetic (centroid lat ∈ [0, 21.6]: no
    // polar/Norway/Svalbard branch can fire).
    QueryDef.sql(
      "q_catalog_build",
      "WITH RECURSIVE " + catalogFramesPrefixSql + ",\n" + {
        val A = 6378137.0
        val F = 1.0 / 298.257223563
        val E2 = F * (2 - F)
        val EP2 = E2 / (1 - E2)
        val e4 = E2 * E2; val e6 = e4 * E2
        val c0 = 1 - E2 / 4 - 3 * e4 / 64 - 5 * e6 / 256
        val c2 = 3 * E2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024
        val c4 = 15 * e4 / 256 + 45 * e6 / 1024
        val c6 = 35 * e6 / 3072
        def g(x: Double) = "%.17g".format(x)
        s"""frames2 AS (
           |  SELECT key AS track,
           |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY "start", "end") AS fit,
           |    "start", "end", is_land
           |  FROM allf),
           |geo AS (
           |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY track, fit) AS BIGINT) AS fid,
           |    CAST(track AS BIGINT) AS relative_orbit_number, is_land,
           |    CAST("end" - "start" AS BIGINT) AS n_bursts,
           |    "start", "end", (track - 1) * 8 AS x0
           |  FROM frames2),
           |ep AS (
           |  SELECT fid,
           |    CAST(32600 + FLOOR((x0 + 1.5 + 180) / 6) + 1 AS BIGINT) AS epsg,
           |    FLOOR((x0 + 1.5 + 180) / 6) + 1 AS zone
           |  FROM geo),
           |rows0 AS (
           |  SELECT fid, x0, "start", "end",
           |    UNNEST(RANGE("start", "end" + 1)) AS k
           |  FROM geo),
           |verts AS (
           |  SELECT v.fid, CAST(v.x0 + d.dx AS DOUBLE) AS vlon,
           |    CAST(v.k * 8 AS DOUBLE) / 10 AS vlat
           |  FROM rows0 v, (SELECT UNNEST(RANGE(0, 4)) AS dx) d
           |  WHERE d.dx IN (0, 3) OR v.k IN (v."start", v."end")),
           |trig AS (
           |  SELECT v.fid, RADIANS(v.vlat) AS lat,
           |    RADIANS(v.vlon) - RADIANS(e.zone * 6 - 183) AS dlon,
           |    SIN(RADIANS(v.vlat)) AS slat, COS(RADIANS(v.vlat)) AS clat,
           |    TAN(RADIANS(v.vlat)) AS tlat
           |  FROM verts v JOIN ep e USING (fid)),
           |mid AS (
           |  SELECT fid, lat, tlat,
           |    ${g(A)} / SQRT(1 - ${g(E2)} * slat * slat) AS n,
           |    tlat * tlat AS t,
           |    ${g(EP2)} * clat * clat AS c,
           |    dlon * clat AS a0,
           |    ${g(A)} * (${g(c0)} * lat - ${g(c2)} * SIN(2 * lat)
           |      + ${g(c4)} * SIN(4 * lat) - ${g(c6)} * SIN(6 * lat)) AS m
           |  FROM trig),
           |tm AS (
           |  SELECT fid,
           |    0.9996 * n * (a0 + (1 - t + c) * POW(a0, 3) / 6
           |      + (5 - 18 * t + t * t + 72 * c - 58 * ${g(EP2)})
           |        * POW(a0, 5) / 120) + 500000.0 AS px,
           |    0.9996 * (m + n * tlat * (a0 * a0 / 2
           |      + (5 - t + 9 * c + 4 * c * c) * POW(a0, 4) / 24
           |      + (61 - 58 * t + t * t + 600 * c - 330 * ${g(EP2)})
           |        * POW(a0, 6) / 720)) AS py
           |  FROM mid),
           |bbox AS (
           |  SELECT fid, MIN(px) AS x1, MIN(py) AS y1, MAX(px) AS x2, MAX(py) AS y2
           |  FROM tm GROUP BY fid)
           |SELECT g.fid, e.epsg, g.is_land, g.relative_orbit_number, g.n_bursts,
           |  CAST(FLOOR((b.x1 - 5000.0) / 30.0) * 30 AS BIGINT) AS xmin,
           |  CAST(FLOOR((b.y1 - 5000.0) / 30.0) * 30 AS BIGINT) AS ymin,
           |  CAST(CEIL((b.x2 + 5000.0) / 30.0) * 30 AS BIGINT) AS xmax,
           |  CAST(CEIL((b.y2 + 5000.0) / 30.0) * 30 AS BIGINT) AS ymax
           |FROM geo g JOIN ep e USING (fid) JOIN bbox b USING (fid)
           |ORDER BY g.fid""".stripMargin
      }) { (s, d) =>
      val r = graft.domain.CatalogBuild.build(
        burstGridFixture(s, d), catalogFixtureLandWkt)
      r.frames.select(col("fid").cast("long").as("fid"),
          col("epsg").cast("long").as("epsg"), col("is_land"),
          col("relative_orbit_number").cast("long").as("relative_orbit_number"),
          col("n_bursts"),
          col("xmin"), col("ymin"), col("xmax"), col("ymax"))
        .orderBy(col("fid"))
    },

    // Split oracle for the catalog build (q_catalog_build stays rows-only
    // for its JTS union/centroid/TM-projection columns only): the
    // geometry-FREE frame columns — fid, track, orbit_pass, is_land,
    // n_bursts, plus the frames_bursts row count — replay the dissolve →
    // land flag → smoothing → DP → global-id → assembly joins and ARE
    // DuckDB-expressible. The fixture's land flag is analytically
    // invertible (each triplet unions to the axis-aligned rectangle
    // x ∈ [(q/27)·8, (q/27)·8+3], y ∈ [(q%27)·0.8, (q%27)·0.8+0.8] for
    // q = burst_id−1, vs land rect [0,40]×[5,15]; JTS intersects is
    // boundary-inclusive and no %.1f-formatted endpoint lands ON a
    // non-integer boundary) so the oracle derives land0 = (q/27 ≤ 5 AND
    // q%27 BETWEEN 6 AND 18) arithmetically — a drift anywhere in the
    // WKT→union→prepared-intersects path breaks the hash. The
    // smoothing + per-run DP CTEs are the q_frame_dp machinery keyed by
    // track; n_subswath_rows cross-checks the frames_bursts expansion
    // join (3 subswath rows per burst).
    QueryDef.sql(
      "q_catalog_frames_meta",
      "WITH RECURSIVE " + catalogFramesPrefixSql + ",\n" +
      """frames AS (
        |  SELECT key AS track,
        |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY "start", "end") AS fit,
        |    "end" - "start" AS n_bursts, is_land
        |  FROM allf)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY track, fit) AS BIGINT) AS fid,
        |  CAST(track AS BIGINT) AS relative_orbit_number,
        |  'ASCENDING' AS orbit_pass, is_land,
        |  CAST(n_bursts AS BIGINT) AS n_bursts,
        |  CAST(n_bursts * 3 AS BIGINT) AS n_subswath_rows
        |FROM frames ORDER BY fid""".stripMargin) { (s, d) =>
      val r = graft.domain.CatalogBuild.build(
        burstGridFixture(s, d), catalogFixtureLandWkt)
      val fbCounts = r.framesBursts.groupBy(col("frame_fid"))
        .agg(count(lit(1)).as("n_subswath_rows"))
      r.frames
        .select(col("fid").cast("long").as("fid"),
          col("relative_orbit_number").cast("long").as("relative_orbit_number"),
          col("orbit_pass"), col("is_land"), col("n_bursts"))
        .join(fbCounts, col("fid") === col("frame_fid"))
        .drop("frame_fid")
        .orderBy(col("fid"))
    },

    // Grid-density hotspots: customer points binned to a 36×16 degree
    // grid, each cell scored by its 3×3 neighborhood count (the kernel
    // density surrogate), top 25 reported. The kernel is a 9-offset
    // EXPLODE over the bounded cell table — never a point-to-point
    // distance join — so hotspot scoring stays O(cells), the standard
    // raster trick at any point count.
    QueryDef.sql(
      "q_grid_hotspots",
      """WITH pts AS (
        |  SELECT ((c_custkey * 37) % 360) // 10 AS cx,
        |    ((c_custkey * 73) % 160) // 10 AS cy
        |  FROM customer),
        |cells AS (
        |  SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM pts GROUP BY cx, cy),
        |off AS (SELECT dx.d AS dx, dy.d AS dy
        |  FROM (SELECT UNNEST(RANGE(-1, 2)) AS d) dx
        |  CROSS JOIN (SELECT UNNEST(RANGE(-1, 2)) AS d) dy),
        |dens AS (
        |  SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy,
        |    CAST(SUM(c.cnt) AS BIGINT) AS density9
        |  FROM cells c CROSS JOIN off o
        |  GROUP BY c.cx + o.dx, c.cy + o.dy),
        |top AS (
        |  SELECT d.cx, d.cy, COALESCE(c.cnt, 0) AS own_cnt, d.density9,
        |    ROW_NUMBER() OVER (ORDER BY d.density9 DESC, d.cx, d.cy) AS rn
        |  FROM dens d LEFT JOIN cells c ON c.cx = d.cx AND c.cy = d.cy)
        |SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
        |  CAST(own_cnt AS BIGINT) AS own_cnt, density9
        |FROM top WHERE rn <= 25
        |ORDER BY density9 DESC, cx, cy""".stripMargin) { (s, d) =>
      import s.implicits._
      val cells = Tables.customer(s, d)
        .select(expr("((c_custkey * 37) % 360) div 10").as("cx"),
          expr("((c_custkey * 73) % 160) div 10").as("cy"))
        .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("cnt"))
      val off = (for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx.toLong, dy.toLong))
        .toDF("dx", "dy")
      val dens = cells.crossJoin(broadcast(off))
        .groupBy((col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
        .agg(sum(col("cnt")).as("density9"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("density9").desc, col("cx"), col("cy"))
      dens.join(cells.select(col("cx"), col("cy"), col("cnt")), Seq("cx", "cy"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 25)
        .select(col("cx"), col("cy"),
          coalesce(col("cnt"), lit(0L)).as("own_cnt"), col("density9"))
        .orderBy(col("density9").desc, col("cx"), col("cy"))
    },

    // Grid DBSCAN: density clustering without a distance join — core
    // cells (≥ 5 points on a 36×16 grid; the quadratic-residue point map
    // concentrates mass so density structure actually exists) are
    // connected through 4-adjacency and the components come from the
    // SAME two-phase union-find that clusters near-duplicate documents
    // (TextPipeline.dedupClusters — one machinery, two domains). Cell
    // encoding cx·1000+cy makes adjacency an integer equi-join; edge
    // count is bounded by the grid, not the point count. Oracle:
    // recursive-CTE min-label closure over the same core/edge sets.
    QueryDef.sql(
      "q_dbscan_cells",
      """WITH RECURSIVE pts AS (
        |  SELECT ((c_custkey % 1000) * (c_custkey % 1000) * 3 % 360) // 10 AS cx,
        |    ((c_custkey % 1000) * (c_custkey % 1000) * 7 % 160) // 10 AS cy
        |  FROM customer),
        |core AS (
        |  SELECT cx * 1000 + cy AS cell, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM pts GROUP BY cx, cy HAVING COUNT(*) >= 5),
        |e0 AS (
        |  SELECT a.cell AS a, b.cell AS b FROM core a
        |  JOIN core b ON b.cell = a.cell + 1 OR b.cell = a.cell + 1000),
        |ed AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
        |reach(cell, lbl) AS (
        |  SELECT cell, cell FROM core
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN ed e ON e.a = r.cell),
        |canon AS (
        |  SELECT cell, CAST(MIN(lbl) AS BIGINT) AS canonical_id
        |  FROM reach GROUP BY cell)
        |SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  CAST(SUM(core.cnt) AS BIGINT) AS n_points
        |FROM canon JOIN core ON core.cell = canon.cell
        |GROUP BY canonical_id ORDER BY canonical_id""".stripMargin) { (s, d) =>
      val core = Tables.customer(s, d)
        .select(expr("((c_custkey % 1000) * (c_custkey % 1000) * 3 % 360) div 10").as("cx"),
          expr("((c_custkey % 1000) * (c_custkey % 1000) * 7 % 160) div 10").as("cy"))
        .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 5)
        .select((col("cx") * 1000 + col("cy")).as("cell"), col("cnt"))
      // neighbor candidates via offset explode + semi-join — two equi
      // probes instead of an OR-join (which would plan as a nested loop)
      val edges = core
        .withColumn("dd", explode(array(lit(1L), lit(1000L))))
        .select(col("cell").as("doc1"), (col("cell") + col("dd")).as("doc2"))
        .join(core.select(col("cell").as("doc2")), Seq("doc2"), "left_semi")
      graft.pipeline.TextPipeline.dedupClusters(
          core.select(col("cell").as("doc_id")), edges)
        .join(core.select(col("cell").as("doc_id"), col("cnt")), Seq("doc_id"))
        .groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_points"))
        .orderBy(col("canonical_id"))
    }
  )
}
