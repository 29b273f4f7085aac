package graft.pipeline

import graft.{QueryDef, QueryScope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph scoring for corpus curation: PageRank-style authority over a
  * deterministic synthetic link graph (each document links to its 3
  * arithmetic neighbors (id·7+j) mod N — the testdata carries no real link
  * column, so the graph is derived, like the reference derives its frame
  * adjacency from track numbers).
  *
  * Integer-exact power iteration: ranks are q6-quantized bigints, each
  * contribution is one exact double product (< 2⁵³) followed by one
  * correctly-rounded division and a floor — so Spark and DuckDB replay the
  * iteration bit-for-bit and the oracle unrolls it as CTEs.
  *
  * Scale posture: one round = one shuffle join (edges ⋈ ranks on src,
  * partitioned by the join key) + one combiner-backed groupBy(dst). Ranks
  * and edges co-partition round over round, so at 100 TB the per-round
  * cost is a single co-located shuffle of the edge list — the standard
  * distributed PageRank shape. Damping 0.85 (q6: 850000/1000000).
  *
  * The iterative operators here (pageRankOn, bfsHops, shortestPaths,
  * hits, labelPropagationOn, kCoreCensusOn) and GraphMining's q_ppr and
  * q_anf share two rules. Each static relation a round joins against is
  * laid out by [[keyed]], the one place that picks its key, partition
  * count and persistence. Rounds are folds: `foldLeft` where only the
  * last state is read, which keeps the unroll one static plan, and
  * `scanLeft` over eagerly localCheckpointed states where the readout
  * reads every round (kCoreCensusOn, q_anf).
  */
object Graphs {

  /** `df` as a static relation of the iterative family (edge list,
    * adjacency, node set): hash-partitioned on `key`, then persisted, so
    * every round's join on `key` reuses the layout instead of
    * re-shuffling the relation.
    *
    * Persist, not localCheckpoint: a checkpoint drops the hash
    * partitioning (on Spark 4.1 a localCheckpointed frame reports
    * UnknownPartitioning(0)), so the next keyed join would re-shuffle it
    * every round. Lineage cuts belong on per-round STATE read by every
    * round's readout (kCoreCensusOn, q_anf), never on these relations.
    *
    * The partition count comes from `df`'s input bytes (see
    * [[iterParts]]). Partition count never affects results: every
    * per-round aggregate here is an exact integer sum/min/max/count. */
  def keyed(df: DataFrame, key: String): DataFrame =
    QueryScope.persisted(df.repartition(iterParts(df), col(key)))

  /** Scale-adaptive partition count for [[keyed]].
    *
    * The r15 profiles showed every per-round stage of the graph queries
    * running 32–64 near-empty tasks (the persisted relations inherit the
    * session's full shuffle parallelism) across 25–55 AQE jobs per query
    * — per-task and per-stage fixed overhead, not compute, dominated
    * (q_shortest_path: 1300 tasks, 16.5 s of task time for ~100 KB of
    * per-round data). AQE's coalescing cannot fix it: cached/checkpointed
    * relations pin their partitioning (canChangeCachedPlanOutputPartitioning
    * defaults false, and the global flip was measured a wash in r15).
    *
    * This derives the count from the SOURCE table's input bytes — the
    * derived edge/adjacency relations are a small constant factor of the
    * doc-id column — at a ~16 MB-of-source target, clamped to
    * [1, spark.sql.shuffle.partitions]. At production scale the clamp
    * binds (bytes/16 MB >> partitions) and the behavior is identical to
    * a plain repartition(col(...)); only genuinely tiny inputs get
    * fewer, denser partitions (guide §2.2: fewer, larger partitions).
    * Deterministic (file sizes, no sampling). */
  private def iterParts(src: DataFrame): Int = {
    val spark = src.sparkSession
    val max = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val bytes = graft.Tables.inputBytes(spark, src.inputFiles.toSeq)
    val target = 16L * 1024 * 1024
    math.max(1, math.min(max.toLong, bytes / target + 1)).toInt
  }

  /** (src, dst) edge list: 3 out-edges per document id. */
  def syntheticEdges(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n))
      .select(col("src"),
        explode(array((1 to 3).map(j => pmod(col("src") * 7 + j, col("n_docs"))): _*))
          .as("dst"))
  }

  /** `iters` integer-exact PageRank rounds, uniform out-degree 3.
    * Returns (doc_id, rank_q6).
    *
    * The edge list is materialized ONCE, pre-partitioned on `src` — every
    * round's rank join then reuses that partitioning instead of re-deriving
    * and re-shuffling the edges (at 100 TB the edge scan is the dominant
    * cost and must not repeat per iteration). The rounds stay one static
    * plan: every caller runs at most 4. */
  def pageRank(docs: DataFrame, iters: Int): DataFrame =
    pageRankOn(docs.select(col("doc_id")), syntheticEdges(docs), iters)

  /** [[pageRank]] over an explicit (src, dst) edge multiset with uniform
    * out-degree 3 — same integer-exact rounds, caller supplies the graph
    * (the skew variants feed a power-law edge table here). A hot
    * in-vertex is safe by construction: the per-round cost on `dst` is a
    * combiner-backed sum, so the hub's in-edges partial-aggregate
    * map-side and the shuffle carries one row per map partition.
    *
    * `teleport(mass)` spreads a rank mass over the vertices: it gives the
    * initial ranks (mass 1e6) and the per-round reset (mass 1.5e5, the
    * undamped 15%). The default is uniform; q_ppr concentrates it on a
    * seed set (personalized PageRank). */
  def pageRankOn(nodesIn: DataFrame, edgesIn: DataFrame, iters: Int,
      teleport: Long => Column = lit(_)): DataFrame = {
    require(iters >= 1)
    val edges = keyed(edgesIn, "src")
    // every round's left join (and the final readout) probes nodes by doc_id
    val nodes = keyed(nodesIn, "doc_id")
    (1 to iters).foldLeft(nodes.select(col("doc_id"), teleport(1000000L).as("r"))) {
      (ranks, _) =>
        val contribs = edges
          .join(ranks.select(col("doc_id").as("src"), col("r")), Seq("src"))
          .select(col("dst"),
            floor(col("r") * lit(850000.0) / lit(3000000.0)).cast("long").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("cin"))
        nodes
          .join(contribs.select(col("dst").as("doc_id"), col("cin")), Seq("doc_id"), "left")
          .select(col("doc_id"), (teleport(150000L) + coalesce(col("cin"), lit(0L))).as("r"))
    }.select(col("doc_id"), col("r").as("rank_q6"))
  }

  /** Undirected simple edge set from the directed link graph: canonical
    * (a < b) orientation, self-loops dropped, parallel edges collapsed. */
  def undirectedEdges(docs: DataFrame): DataFrame =
    syntheticEdges(docs)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Deterministic power-law (src, dst) edge list: 3 out-edges per
    * document, dst = N div u − 1 for the uniform hash
    * u = (src·7 + j·13) mod N + 1 — so P(dst = k−1) ≈ 1/k², a Zipf-like
    * in-degree tail with a genuine hot vertex (node 0 receives ~half of
    * ALL edges at any scale). The synthetic ring graph above has uniform
    * degree everywhere; this generator exists precisely to exercise the
    * hot-vertex shuffle path the ring can never produce. */
  def skewedEdges(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id").as("src"))
      .crossJoin(broadcast(n))
      .select(col("src"),
        explode(array((1 to 3).map(j =>
          expr(s"n_docs div ((src * 7 + ${j * 13}) % n_docs + 1) - 1")): _*))
          .as("dst"))
  }

  /** Canonical undirected simple edges of the power-law graph. */
  def skewedUndirectedEdges(docs: DataFrame): DataFrame =
    skewedEdges(docs)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Undirected edges (a, b) directed from the lower-(degree, id)
    * endpoint as (u, w), with degrees read from column `degCol` of
    * `deg` (v, degCol). */
  private[pipeline] def orientByDegree(ue: DataFrame, deg: DataFrame,
      degCol: String): DataFrame =
    ue
      .join(deg.select(col("v").as("a"), col(degCol).as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col(degCol).as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))

  /** Triangle + wedge census with the global clustering coefficient —
    * the standard graph-health probe for a link/near-dup graph.
    *
    * Degree-ordered orientation (each undirected edge directed from its
    * lower-(degree, id) endpoint): every triangle then has exactly one
    * apex whose two out-edges cover it, so the wedge self-join counts
    * each triangle once, and — the scale property — out-degree is
    * bounded by O(√m) on ANY graph, so the wedge join never explodes on
    * a high-degree hub the way a naive neighbor self-join does (the
    * hub's edges point INTO it and generate no wedges at the hub).
    * Both joins shuffle on a vertex key; no all-pairs step anywhere.
    *
    * Input: undirected simple edges (a < b). Output: one row
    * (n_vertices, n_edges, n_wedges, n_triangles, clustering_q6) where
    * clustering_q6 = floor(3e6 · triangles / wedges). */
  def triangleStats(edges: DataFrame): DataFrame = {
    val ue = QueryScope.persisted(edges.select(col("a"), col("b")))
    val deg = QueryScope.persisted(ue.select(col("a").as("v"))
      .unionAll(ue.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg")))
    val oriented = QueryScope.persisted(orientByDegree(ue, deg, "deg"))
    val e1 = oriented.as("e1")
    val e2 = oriented.as("e2")
    val e3 = oriented.as("e3")
    val tri = e1
      .join(e2, col("e1.u") === col("e2.u") && col("e1.w") =!= col("e2.w"))
      .join(e3, col("e3.u") === col("e1.w") && col("e3.w") === col("e2.w"))
      .agg(count(lit(1)).as("n_triangles"))
    val sums = ue.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_vertices"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges")))
    sums.crossJoin(tri).select(
      col("n_vertices"), col("n_edges"), col("n_wedges"), col("n_triangles"),
      floor((lit(3000000L) * col("n_triangles")).cast("double") /
        col("n_wedges").cast("double")).cast("long").as("clustering_q6"))
  }

  /** Frontier BFS over the directed link graph from `source`: per-round
    * (edges ⋈ frontier on src) → distinct → anti-join vs the visited set,
    * the textbook distributed BFS. The edge list is materialized once and
    * every round's join shuffles only the frontier against it; the
    * shallow unroll (every caller runs at most 4 hops) stays one static
    * plan. Returns (doc_id, hop = shortest distance ≤ maxHop). */
  def bfsHops(docs: DataFrame, source: Long, maxHop: Int): DataFrame = {
    require(maxHop >= 1)
    val edges = keyed(syntheticEdges(docs), "src")
    val start = docs.sparkSession.range(1)
      .select(lit(source).as("doc_id"), lit(0L).as("hop"))
    (1 to maxHop).foldLeft((start, start.select(col("doc_id")))) {
      case ((reached, frontier), h) =>
        val next = edges
          .join(frontier.withColumnRenamed("doc_id", "src"), Seq("src"))
          .select(col("dst").as("doc_id")).distinct()
          .join(reached, Seq("doc_id"), "left_anti")
        (reached.unionByName(next.select(col("doc_id"), lit(h.toLong).as("hop"))), next)
    }._1
  }

  /** Deterministic integer edge weight in [1, 97] derived from the
    * endpoint ids — both engines recompute it bit-for-bit. */
  private def edgeWeight(src: Column, dst: Column): Column =
    (pmod(src * 31 + dst * 17, lit(97L)) + 1).cast("long")

  /** Single-source shortest path, Bellman-Ford relaxation bounded to
    * `rounds` hops: each round joins the tentative-distance vector against
    * the (once-materialized, src-partitioned) weighted edge list and takes
    * the min of old and relaxed distances with one combiner-backed
    * groupBy. All-integer weights, so min(dist) is exact and the oracle
    * unrolls the rounds as min-merge CTEs.
    *
    * Scale posture = [[pageRank]]: per round one shuffle join of the
    * distance vector (|reached| rows, ≤ V) against pre-partitioned edges
    * plus one partial-min aggregate; the driver never sees a row. A full
    * SSSP (rounds = V−1) would chain V jobs — at 100 TB run hop-bounded
    * (neighborhood radius) exactly as exposed here, the standard
    * iterative-relaxation shape. Returns (doc_id, dist). */
  def shortestPaths(docs: DataFrame, source: Long, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val edges = keyed(syntheticEdges(docs)
      .select(col("src"), col("dst"), edgeWeight(col("src"), col("dst")).as("w")), "src")
    val start = docs.sparkSession.range(1)
      .select(lit(source).as("v"), lit(0L).as("dist"))
    (1 to rounds).foldLeft(start) { (dist, _) =>
      val relaxed = edges
        .join(dist.withColumnRenamed("v", "src"), Seq("src"))
        .select(col("dst").as("v"), (col("dist") + col("w")).as("dist"))
      dist.unionByName(relaxed)
        .groupBy(col("v")).agg(min(col("dist")).as("dist"))
    }.select(col("v").as("doc_id"), col("dist"))
  }

  /** One Bellman-Ford round as a min-merge CTE. */
  // AS MATERIALIZED: $prev appears in both union branches — inlined,
  // the replay doubles per round (the peelSql lesson)
  private[pipeline] def bfRoundSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT v, CAST(MIN(dist) AS BIGINT) AS dist FROM (
       |    SELECT v, dist FROM $prev
       |    UNION ALL
       |    SELECT e.dst AS v, d.dist + e.w AS dist
       |    FROM $prev d JOIN we e ON e.src = d.v)
       |  GROUP BY v)""".stripMargin

  /** `rounds` integer-exact HITS iterations over the directed link graph:
    * auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each half-round
    * max-normalized back to q6 scale (max instead of the textbook L2 norm
    * keeps every step integer-or-one-IEEE-division so the oracle replays
    * it bit-for-bit). Returns (doc_id, auth_q6, hub_q6).
    *
    * Scale posture matches [[pageRank]]: the edge list materializes once,
    * pre-partitioned on `src`; each half-round is one shuffle join of the
    * score vector against it plus one combiner-backed groupBy, and the
    * normalizing max is a broadcast single row. */
  def hits(docs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val edges = keyed(syntheticEdges(docs), "src")
    val nodes = keyed(docs.select(col("doc_id")), "doc_id")
    def half(scores: DataFrame, joinKey: String, outKey: String): DataFrame = {
      // persist the raw sums: they feed BOTH the normalizing max and the
      // score join — unpersisted, each half-round would recompute the
      // whole prior recursion twice (2^rounds plan blowup)
      val raw = QueryScope.persisted(edges
        .join(scores.select(col("doc_id").as(joinKey), col("s")), Seq(joinKey))
        .groupBy(col(outKey).as("doc_id")).agg(sum(col("s")).as("raw")))
      val m = raw.agg(max(col("raw")).as("m"))
      nodes.join(raw, Seq("doc_id"), "left").crossJoin(broadcast(m))
        .select(col("doc_id"),
          coalesce(floor(col("raw") * lit(1000000.0) / col("m")), lit(0.0))
            .cast("long").as("s"))
    }
    val hub0 = nodes.select(col("doc_id"), lit(1000000L).as("s"))
    // state (auth, hub); the initial auth is a placeholder no round reads
    val (auth, hub) = (1 to rounds).foldLeft((hub0, hub0)) { case ((_, hub), _) =>
      val auth = half(hub, "src", "dst")  // in-edge hub mass → authority
      (auth, half(auth, "dst", "src"))    // out-edge auth mass → hub
    }
    auth.select(col("doc_id"), col("s").as("auth_q6"))
      .join(hub.select(col("doc_id"), col("s").as("hub_q6")), Seq("doc_id"))
  }

  /** `rounds` synchronous label-propagation rounds over the undirected
    * link graph (community detection): each node adopts the most frequent
    * label among its neighbors, ties broken by the smallest label, so the
    * update is fully deterministic and the oracle can replay it as plain
    * GROUP BY + ROW_NUMBER CTEs (no randomized ordering as in the
    * original async formulation). Isolated nodes keep their own label.
    * Returns (v, lbl).
    *
    * Scale posture: the bidirectional adjacency materializes once,
    * pre-partitioned on the label-join key; each round is one shuffle
    * join + one combiner-backed (v, lbl) count + a v-partitioned
    * row_number — never a global sort, never all-pairs. */
  def labelPropagation(docs: DataFrame, rounds: Int): DataFrame =
    labelPropagationOn(docs.select(col("doc_id").as("v")),
      undirectedEdges(docs), rounds)

  /** [[labelPropagation]] over an explicit undirected (a, b) edge set.
    * The per-round winner (count DESC, label ASC) is computed as
    * max(struct(c, −lbl)) — a two-level combiner aggregate, NOT a
    * row_number window: a hot vertex's neighbor-label cells then
    * partial-aggregate map-side instead of all landing in one window
    * task, which is the difference between surviving and straggling on
    * a power-law graph. */
  def labelPropagationOn(nodesIn: DataFrame, ue: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1)
    val adj = keyed(ue.select(col("a").as("v"), col("b").as("u"))
      .unionAll(ue.select(col("b").as("v"), col("a").as("u"))), "u")
    val nodes = keyed(nodesIn, "v")
    // each round's labels have one consumer, the next round's join, so
    // they are not persisted
    (1 to rounds).foldLeft(nodes.select(col("v"), col("v").as("lbl"))) { (lbl, _) =>
      val picked = adj
        .join(lbl.select(col("v").as("u"), col("lbl")), Seq("u"))
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("win"))
        .select(col("v"), (-col("win.neg")).as("lbl"))
      nodes.join(picked, Seq("v"), "left")
        .select(col("v"), coalesce(col("lbl"), col("v")).as("lbl"))
    }
  }

  /** One label-propagation round as a CTE pair: neighbor-label counts,
    * then the (count DESC, label ASC) winner per node with keep-own
    * fallback for isolated nodes. */
  private[pipeline] def lpRoundSql(prev: String, cur: String): String =
    s"""${cur}c AS (
       |  SELECT adj.v, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM adj JOIN $prev l ON l.v = adj.u
       |  GROUP BY adj.v, l.lbl),
       |$cur AS (
       |  SELECT n.v, COALESCE(p.lbl, n.v) AS lbl
       |  FROM nodes n LEFT JOIN (
       |    SELECT v, lbl FROM (
       |      SELECT v, lbl,
       |        ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rk
       |      FROM ${cur}c) WHERE rk = 1) p ON p.v = n.v)""".stripMargin

  /** One HITS half-round as a CTE triple: raw sum, max, normalized. */
  private def hitsHalfSql(prev: String, joinKey: String, outKey: String,
      cur: String): String =
    s"""${cur}r AS MATERIALIZED (
       |  SELECT e.$outKey AS doc_id, CAST(SUM(p.s) AS BIGINT) AS raw
       |  FROM edges e JOIN $prev p ON p.doc_id = e.$joinKey
       |  GROUP BY e.$outKey),
       |${cur}m AS (SELECT CAST(MAX(raw) AS BIGINT) AS m FROM ${cur}r),
       |$cur AS MATERIALIZED (
       |  SELECT nd.doc_id,
       |    CAST(COALESCE(FLOOR(r.raw * CAST(1000000.0 AS DOUBLE) / ${cur}m.m),
       |                  0) AS BIGINT) AS s
       |  FROM nodes nd LEFT JOIN ${cur}r r ON r.doc_id = nd.doc_id
       |  CROSS JOIN ${cur}m)""".stripMargin

  /** Synchronous k-core peeling census over the undirected link graph:
    * round r keeps the vertices whose degree in the subgraph INDUCED by
    * round r−1's survivors is ≥ k. Returns one row per round
    * (round, n_core, sum_ids) — round 0 is the initial vertex set.
    *
    * Scale posture: each round is two semi-joins of the (once-persisted)
    * edge list against the survivor set plus one combiner-backed degree
    * aggregate — the textbook distributed peel. Every round's survivor
    * set is read by the census, so each is eagerly localCheckpointed:
    * lazily, the census union would race every branch through the full
    * peel chain (measured 30 s of recompute at ANY scale versus ~1 job
    * per round materialized). Rounds are bounded (a fixpoint census, not
    * full coreness), matching the BFS / Bellman-Ford convention in this
    * module. */
  def kCoreCensus(docs: DataFrame, k: Int, rounds: Int): DataFrame =
    kCoreCensusOn(undirectedEdges(docs), k, rounds)

  /** [[kCoreCensus]] over an explicit undirected (a, b) edge set. */
  def kCoreCensusOn(ueIn: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    // every round's first semi join probes ue by a
    val ue = keyed(ueIn, "a")
    val surv0 = QueryScope.checkpointed(ue.select(col("a").as("v"))
      .unionAll(ue.select(col("b").as("v")))
      .distinct())
    (1 to rounds).scanLeft(surv0) { (surv, _) =>
      val induced = ue
        .join(surv.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(surv.select(col("v").as("b")), Seq("b"), "left_semi")
      QueryScope.checkpointed(induced.select(col("a").as("v"))
        .unionAll(induced.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("v")))
    }.zipWithIndex.map { case (surv, r) =>
      surv.agg(count(lit(1)).as("n_core"), sum(col("v")).as("sum_ids"))
        .select(lit(r.toLong).as("round"), col("n_core"),
          col("sum_ids").cast("long").as("sum_ids"))
    }.reduce(_ unionAll _)
  }

  /** One k=3 peeling round as a CTE: survivors of `prev` with induced
    * degree ≥ 3. */
  // AS MATERIALIZED: each round references $prev four times — inlined,
  // DuckDB re-evaluates 4^rounds times (observed: >79 GB of temp spill
  // at 32x; materialized: seconds — the q_bradley_terry lesson)
  private def peelSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT v FROM (
       |    SELECT e.a AS v FROM ue e
       |      JOIN $prev x ON x.v = e.a JOIN $prev y ON y.v = e.b
       |    UNION ALL
       |    SELECT e.b AS v FROM ue e
       |      JOIN $prev x ON x.v = e.a JOIN $prev y ON y.v = e.b)
       |  GROUP BY v HAVING COUNT(*) >= 3)""".stripMargin

  private def iterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT n.doc_id, 150000 + COALESCE(SUM(c.c), 0) AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS doc_id,
       |      CAST(FLOOR(p.r * 850000.0 / 3000000.0) AS BIGINT) AS c
       |    FROM edges e JOIN $prev p ON p.doc_id = e.src) c
       |    ON c.doc_id = n.doc_id
       |  GROUP BY n.doc_id)""".stripMargin

  /** Power-law edge CTE shared by the skew-variant oracles — identical
    * arithmetic to [[skewedEdges]]. */
  private[pipeline] val skewEdgesSql: String =
    """n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      |edges AS (
      |  SELECT doc_id AS src,
      |    n.n_docs // ((doc_id * 7 + j * 13) % n.n_docs + 1) - 1 AS dst
      |  FROM documents CROSS JOIN n CROSS JOIN UNNEST(RANGE(1, 4)) AS u(j))""".stripMargin

  /** Ring edge CTEs `n` and `edges`: identical arithmetic to
    * [[syntheticEdges]]. */
  private[pipeline] def ringEdgesSql(edges: String): String =
    s"""n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |$edges AS (
       |  SELECT doc_id AS src, (doc_id * 7 + j) % n.n_docs AS dst
       |  FROM documents CROSS JOIN n CROSS JOIN UNNEST(RANGE(1, 4)) AS u(j))""".stripMargin

  /** Two label-propagation rounds over the undirected simple edges of
    * relation `edges`: CTEs ue, adj, nodes, l0, l1 and l2. */
  private[pipeline] def lpTwoRoundsSql(edges: String): String =
    s"""ue AS (
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM $edges WHERE src <> dst),
       |adj AS (SELECT a AS v, b AS u FROM ue UNION ALL SELECT b, a FROM ue),
       |nodes AS (SELECT doc_id AS v FROM documents),
       |l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents),
       |${lpRoundSql("l0", "l1")},
       |${lpRoundSql("l1", "l2")}""".stripMargin

  /** Oracle twin of [[communitySizes]] over [[lpTwoRoundsSql]]. */
  private def communitySizesSql(edges: String): String =
    s"""${lpTwoRoundsSql(edges)}
       |SELECT CAST(lbl AS BIGINT) AS community,
       |  CAST(COUNT(*) AS BIGINT) AS n_members,
       |  CAST(MIN(v) AS BIGINT) AS min_doc
       |FROM l2 GROUP BY lbl
       |ORDER BY n_members DESC, community LIMIT 25""".stripMargin

  /** Size histogram (top 25 by size) of a (v, lbl) labelling. */
  private def communitySizes(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("v")).as("min_doc"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(25)

  /** 3-core peeling census over relation `edges`, 4 rounds: the oracle
    * twin of [[kCoreCensusOn]]. */
  private def kCoreCensusSql(edges: String): String =
    s"""ue AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM $edges WHERE src <> dst),
       |s0 AS MATERIALIZED (
       |  SELECT DISTINCT v FROM (
       |    SELECT a AS v FROM ue UNION ALL SELECT b AS v FROM ue)),
       |${peelSql("s0", "s1")},
       |${peelSql("s1", "s2")},
       |${peelSql("s2", "s3")},
       |${peelSql("s3", "s4")},
       |census AS (
       |  SELECT CAST(0 AS BIGINT) AS round, CAST(COUNT(*) AS BIGINT) AS n_core,
       |    CAST(SUM(v) AS BIGINT) AS sum_ids FROM s0
       |  UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(SUM(v) AS BIGINT) FROM s1
       |  UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(v) AS BIGINT) FROM s2
       |  UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT), CAST(SUM(v) AS BIGINT) FROM s3
       |  UNION ALL SELECT 4, CAST(COUNT(*) AS BIGINT), CAST(SUM(v) AS BIGINT) FROM s4)
       |SELECT round, n_core, sum_ids FROM census ORDER BY round""".stripMargin

  /** Distinct (user_id, item = props.k) pairs of events: the user × item
    * bipartite graph of q_bipartite_cooccur and q_item_cf_recs. */
  private def userItems(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("item"))
      .distinct()

  /** Item pairs i < j co-held by ≥ 5 users of the capped (user_id, item)
    * set `ui`, with n_both and both items' degrees d_i, d_j. */
  private def cooccurPairs(ui: DataFrame): DataFrame =
    SparseProduct.product(ui, Seq("user_id"), "item",
      SparseProduct.Names("i", "j", "n_both", "d_i", "d_j"), min = Some(5L))

  /** Oracle twin of [[userItems]] → [[SparseProduct.capItemsPerKey]] →
    * [[cooccurPairs]] (before the degree joins): CTEs ui0, vocab, ui, deg and pair. */
  private val cooccurPairsSql: String =
    s"""WITH ui0 AS (
      |  SELECT DISTINCT user_id, CAST(props->>'k' AS BIGINT) AS item
      |  FROM events),
      |vocab AS (SELECT CAST(COUNT(DISTINCT item) AS BIGINT) AS nv FROM ui0),
      |ui AS (
      |  SELECT user_id, item FROM (
      |    SELECT user_id, item,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY item) AS rn
      |    FROM ui0) r CROSS JOIN vocab
      |  WHERE r.rn <= ${SparseProduct.capSql("nv")}),
      |deg AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS d FROM ui GROUP BY item),
      |pair AS (
      |  SELECT a.item AS i, b.item AS j, CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      |  GROUP BY a.item, b.item
      |  HAVING COUNT(*) >= 5)""".stripMargin

  /** 3 unrolled PageRank rounds over the `edges` CTE `edgesSql`; top 20. */
  private def pageRankSql(edgesSql: String): String =
    s"""WITH nodes AS (SELECT doc_id FROM documents),
       |$edgesSql,
       |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |${iterSql("r0", "r1")},
       |${iterSql("r1", "r2")},
       |${iterSql("r2", "r3")}
       |SELECT doc_id, CAST(r AS BIGINT) AS rank_q6
       |FROM r3 ORDER BY rank_q6 DESC, doc_id LIMIT 20""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // Bipartite projection (user x item -> item-item co-occurrence with
    // Jaccard): the standard collaborative-filtering / co-view graph
    // build. Per-user distinct-item degree is CAPPED at
    // GREATEST(64, 4·⌊√|vocab|⌋) via a deterministic smallest-item-id
    // truncation (SparseProduct.capItemsPerKey) applied identically in
    // both engines, so the per-user self-join's fanout is bounded even
    // under an adversarial power user holding the whole vocabulary; the
    // projection then reduces to one combiner-backed groupBy over
    // (i, j) cells. Degree marginals (computed over the SAME capped
    // set, keeping Jaccard internally consistent) join back per cell.
    QueryDef.sql(
      "q_bipartite_cooccur",
      s"""$cooccurPairsSql
        |SELECT p.i, p.j, p.n_both, da.d AS d_i, db.d AS d_j,
        |  CAST(FLOOR(p.n_both * CAST(1000000.0 AS DOUBLE)
        |             / (da.d + db.d - p.n_both)) AS BIGINT) AS jac_q6
        |FROM pair p
        |JOIN deg da ON da.item = p.i
        |JOIN deg db ON db.item = p.j
        |ORDER BY p.i, p.j""".stripMargin) { (s, d) =>
      cooccurPairs(SparseProduct.capItemsPerKey(userItems(s, d), "user_id", "item"))
        .select(col("i"), col("j"), col("n_both"), col("d_i"), col("d_j"),
          floor(col("n_both") * lit(1000000.0)
            / (col("d_i") + col("d_j") - col("n_both"))).cast("long").as("jac_q6"))
        .orderBy(col("i"), col("j"))
    },

    // Item-based collaborative-filtering serving: recommendation score
    // (u, i) = Σ over u's history items j of the item-item Jaccard weight
    // w(j, i), already-consumed items anti-joined out, top-3 per user
    // with a deterministic (score DESC, item) rank. Every stage is keyed:
    // the similarity table comes from the q_bipartite_cooccur projection
    // (per-user distinct-degree capped at GREATEST(64, 4·⌊√|vocab|⌋) — see
    // SparseProduct.capItemsPerKey; history/scoring/anti-join all use the
    // capped set), scoring is one (item-keyed) join + per-user aggregate,
    // the rank window partitions by user.
    QueryDef.sql(
      "q_item_cf_recs",
      s"""$cooccurPairsSql,
        |simh AS (
        |  SELECT p.i, p.j,
        |    CAST(FLOOR(p.n_both * CAST(1000000.0 AS DOUBLE)
        |               / (da.d + db.d - p.n_both)) AS BIGINT) AS w
        |  FROM pair p JOIN deg da ON da.item = p.i JOIN deg db ON db.item = p.j),
        |sim AS (SELECT i, j, w FROM simh UNION ALL SELECT j, i, w FROM simh),
        |score AS (
        |  SELECT u.user_id, s.j AS item, CAST(SUM(s.w) AS BIGINT) AS score,
        |    CAST(COUNT(*) AS BIGINT) AS n_neighbors
        |  FROM ui u JOIN sim s ON s.i = u.item
        |  GROUP BY u.user_id, s.j),
        |filtered AS (
        |  SELECT sc.user_id, sc.item, sc.score, sc.n_neighbors
        |  FROM score sc LEFT JOIN ui h
        |    ON h.user_id = sc.user_id AND h.item = sc.item
        |  WHERE h.item IS NULL),
        |top AS (
        |  SELECT user_id, item, score, n_neighbors,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY score DESC, item) AS rk
        |  FROM filtered)
        |SELECT user_id, CAST(rk AS BIGINT) AS rk, item, score, n_neighbors
        |FROM top WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin) { (s, d) =>
      val ui = QueryScope.persisted(
        SparseProduct.capItemsPerKey(userItems(s, d), "user_id", "item"))
      val simh = cooccurPairs(ui)
        .select(col("i"), col("j"),
          floor(col("n_both") * lit(1000000.0)
            / (col("d_i") + col("d_j") - col("n_both"))).cast("long").as("w"))
      val sim = SparseProduct.symmetric(simh, "i", "j", "i", "j", "w")
      val score = ui.join(sim, ui("item") === sim("i"))
        .groupBy(col("user_id"), col("j").as("ritem"))
        .agg(sum(col("w")).as("score"), count(lit(1)).as("n_neighbors"))
      val filtered = score.join(ui.select(col("user_id"), col("item").as("ritem")),
          Seq("user_id", "ritem"), "left_anti")
      val wU = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("score").desc, col("ritem"))
      filtered.withColumn("rk", row_number().over(wU).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("user_id"), col("rk"), col("ritem").as("item"),
          col("score"), col("n_neighbors"))
        .orderBy(col("user_id"), col("rk"))
    },

    // 3 unrolled power-iteration rounds; top 20 authorities
    QueryDef.sql(
      "q_pagerank",
      pageRankSql(ringEdgesSql("edges"))) { (s, d) =>
      pageRank(Tables.documents(s, d), iters = 3)
        .orderBy(col("rank_q6").desc, col("doc_id"))
        .limit(20)
    },

    // HITS hubs & authorities, 2 unrolled rounds (4 half-iterations),
    // max-normalized to q6 each half so the recursion stays integer
    // exact; top 20 authorities with both scores.
    QueryDef.sql(
      "q_hits",
      s"""WITH ${ringEdgesSql("edges")},
         |nodes AS (SELECT doc_id FROM documents),
         |h0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS s FROM nodes),
         |${hitsHalfSql("h0", "src", "dst", "a1")},
         |${hitsHalfSql("a1", "dst", "src", "h1")},
         |${hitsHalfSql("h1", "src", "dst", "a2")},
         |${hitsHalfSql("a2", "dst", "src", "h2")}
         |SELECT a2.doc_id, a2.s AS auth_q6, h2.s AS hub_q6
         |FROM a2 JOIN h2 ON h2.doc_id = a2.doc_id
         |ORDER BY auth_q6 DESC, a2.doc_id LIMIT 20""".stripMargin) { (s, d) =>
      hits(Tables.documents(s, d), rounds = 2)
        .orderBy(col("auth_q6").desc, col("doc_id"))
        .limit(20)
    },

    // Community detection: 2 synchronous min-tie-break label-propagation
    // rounds over the undirected link graph; communities reported as a
    // size histogram (top 25 by size). Deterministic mode update, so the
    // oracle replays both rounds as GROUP BY + ROW_NUMBER CTEs.
    QueryDef.sql(
      "q_label_propagation",
      s"""WITH ${ringEdgesSql("e0")},
         |${communitySizesSql("e0")}""".stripMargin) { (s, d) =>
      communitySizes(labelPropagation(Tables.documents(s, d), rounds = 2))
    },

    // 3-core peeling census, 4 synchronous rounds: per-round survivor
    // count + id checksum. The oracle unrolls each peel as a
    // semi-join + HAVING CTE.
    QueryDef.sql(
      "q_kcore",
      s"""WITH ${ringEdgesSql("e0")},
         |${kCoreCensusSql("e0")}""".stripMargin) { (s, d) =>
      kCoreCensus(Tables.documents(s, d), k = 3, rounds = 4)
        .orderBy(col("round"))
    },

    // ---- power-law (hot-vertex) variants ------------------------------
    // The ring graph above has uniform degree; real link/interaction
    // graphs are power-law, and the failure mode that only appears there
    // is hot-vertex shuffle skew in the per-round joins/aggregates. These
    // three variants run the SAME iterative machinery over a
    // deterministic Zipf-like graph (dst = N div u − 1 over a uniform
    // hash u, so node 0 receives ~half of all edges at any scale) with
    // the same unrolled-CTE oracles. Engine-side hot-vertex posture:
    // PageRank's per-round dst-sum and label-prop's winner pick are
    // combiner-backed aggregates (map-side partials bound the hub's
    // shuffle rows by the map-partition count), and k-core's peel is
    // semi-join + combiner degree count — no per-vertex window anywhere.
    QueryDef.sql(
      "q_pagerank_skew",
      pageRankSql(skewEdgesSql)) { (s, d) =>
      val docs = Tables.documents(s, d)
      pageRankOn(docs.select(col("doc_id")), skewedEdges(docs), iters = 3)
        .orderBy(col("rank_q6").desc, col("doc_id"))
        .limit(20)
    },

    QueryDef.sql(
      "q_kcore_skew",
      s"""WITH $skewEdgesSql,
         |${kCoreCensusSql("edges")}""".stripMargin) { (s, d) =>
      kCoreCensusOn(skewedUndirectedEdges(Tables.documents(s, d)),
        k = 3, rounds = 4)
        .orderBy(col("round"))
    },

    QueryDef.sql(
      "q_label_prop_skew",
      s"""WITH $skewEdgesSql,
         |${communitySizesSql("edges")}""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      communitySizes(labelPropagationOn(docs.select(col("doc_id").as("v")),
        skewedUndirectedEdges(docs), rounds = 2))
    }
  )
}
