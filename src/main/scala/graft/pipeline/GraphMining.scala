package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Neighborhood-structure mining over the power-law document graph
  * (common-neighbor link prediction, per-vertex local clustering),
  * connected components (through [[TextPipeline.dedupClusters]], the
  * repo's one CC implementation), personalized PageRank (through
  * [[Graphs.pageRankOn]]) and the HyperANF ball-growth census.
  *
  * The two neighborhood operators run against
  * [[Graphs.skewedUndirectedEdges]] — the Zipf-like generator whose node
  * 0 receives ~half of ALL edges — because that hub is exactly where
  * naive formulations explode:
  *
  *   - Common-neighbor counting enumerates a wedge per (center, u, w)
  *     triple, which is quadratic in the hub's degree. There is no exact
  *     escape (the hub genuinely HAS ~deg²/2 wedges), so the operator is
  *     DEFINED over degree-capped neighborhoods —
  *     [[SparseProduct.capItemsPerKey]] truncates every center to its
  *     GREATEST(64, 4·⌊√|V|⌋) smallest neighbors, applied identically in
  *     the DuckDB oracle, the same contract the bipartite-projection
  *     family uses. Per-center fanout is then cap² ≤ max(64², 16·|V|) —
  *     linear in vocabulary growth, under any skew (see its scale contract).
  *   - Per-vertex triangle counting reuses the degree-ordered orientation
  *     (every edge directed from its lower-(deg, id) endpoint): out-degree
  *     is O(√m) on any graph, the hub's edges all point INTO it, and each
  *     triangle is found exactly once at its apex — no cap needed, exact
  *     counts (reference analogy: burst adjacency health checks in
  *     build_frame_db.py; the method is the standard oriented wedge join).
  */
object GraphMining {

  private val cappedAdjSql: String =
    s"""ue AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM edges WHERE src <> dst),
       |adj0 AS (
       |  SELECT a AS v, b AS u FROM ue
       |  UNION ALL SELECT b AS v, a AS u FROM ue),
       |nv AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS nv FROM adj0),
       |adj AS MATERIALIZED (
       |  SELECT v, u FROM (
       |    SELECT v, u,
       |      ROW_NUMBER() OVER (PARTITION BY v ORDER BY u) AS rn_cap
       |    FROM adj0) x CROSS JOIN nv
       |  WHERE x.rn_cap <= ${SparseProduct.capSql("nv.nv")})""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // Common-neighbor link prediction: for every non-adjacent vertex pair
    // sharing at least one (capped-neighborhood) common neighbor, score by
    // the common-neighbor count and the Jaccard of the truncated
    // neighborhoods. One wedge self-join on the center key + a combiner
    // groupBy on the pair; the anti-join against existing edges and the
    // degree joins are all keyed equi-joins. Per-center fanout is bounded
    // by max(64, 4·⌊√|V|⌋)² ≤ max(64², 16·|V|) regardless of skew, so the
    // hub's candidate-pair output grows linearly with the vocabulary.
    QueryDef.sql(
      "q_link_prediction",
      s"""WITH ${Graphs.skewEdgesSql},
         |$cappedAdjSql,
         |deg AS MATERIALIZED (
         |  SELECT u AS x, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
         |cand AS (
         |  SELECT x.u AS p, y.u AS q, CAST(COUNT(*) AS BIGINT) AS cn
         |  FROM adj x JOIN adj y ON y.v = x.v AND x.u < y.u
         |  GROUP BY x.u, y.u),
         |nonedge AS (
         |  SELECT c.p, c.q, c.cn FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM ue WHERE ue.a = c.p AND ue.b = c.q))
         |SELECT ne.p, ne.q, ne.cn,
         |  (ne.cn * 1000000) // (dp.d + dq.d - ne.cn) AS jaccard_q6
         |FROM nonedge ne
         |JOIN deg dp ON dp.x = ne.p
         |JOIN deg dq ON dq.x = ne.q
         |ORDER BY cn DESC, jaccard_q6 DESC, p, q LIMIT 50""".stripMargin) { (s, d) =>
      import org.apache.spark.storage.StorageLevel
      val docs = Tables.documents(s, d)
      val ue = Graphs.skewedUndirectedEdges(docs)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val adj = SparseProduct.capItemsPerKey(
          ue.select(col("a").as("v"), col("b").as("u"))
            .unionAll(ue.select(col("b").as("v"), col("a").as("u"))),
          "v", "u", k = 64L, mult = 4L)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the pairs that already are edges leave before the degree joins
      val names = SparseProduct.Names("p", "q", "cn", "dp", "dq")
      val nonEdge = SparseProduct.pairs(adj, Seq("v"), "u", names)
        .join(ue, col("a") === col("p") && col("b") === col("q"), "left_anti")
      SparseProduct.withDiagonal(nonEdge, adj, "u", names)
        .select(col("p"), col("q"), col("cn"),
          expr("(cn * 1000000) div (dp + dq - cn)").as("jaccard_q6"))
        .orderBy(col("cn").desc, col("jaccard_q6").desc, col("p"), col("q"))
        .limit(50)
    },

    // Per-vertex local clustering coefficient: exact triangle counts from
    // the degree-ordered oriented wedge join (each triangle materializes
    // once at its apex, then credits all three corners), divided by the
    // vertex's wedge count d(d−1)/2. The orientation bounds the wedge
    // join's fanout by O(√m) out-degree even at the hub — no caps, exact.
    QueryDef.sql(
      "q_local_clustering",
      s"""WITH ${Graphs.skewEdgesSql},
         |ue AS MATERIALIZED (
         |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |deg AS MATERIALIZED (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
         |    SELECT a AS v FROM ue UNION ALL SELECT b AS v FROM ue)
         |  GROUP BY v),
         |oriented AS MATERIALIZED (
         |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND ue.a < ue.b)
         |           THEN ue.a ELSE ue.b END AS u,
         |         CASE WHEN da.d < db.d OR (da.d = db.d AND ue.a < ue.b)
         |           THEN ue.b ELSE ue.a END AS w
         |  FROM ue
         |  JOIN deg da ON da.v = ue.a
         |  JOIN deg db ON db.v = ue.b),
         |tri AS MATERIALIZED (
         |  SELECT e1.u AS x, e1.w AS y, e2.w AS z
         |  FROM oriented e1
         |  JOIN oriented e2 ON e2.u = e1.u AND e1.w <> e2.w
         |  JOIN oriented e3 ON e3.u = e1.w AND e3.w = e2.w),
         |pertri AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
         |    SELECT x AS v FROM tri
         |    UNION ALL SELECT y AS v FROM tri
         |    UNION ALL SELECT z AS v FROM tri)
         |  GROUP BY v)
         |SELECT deg.v, deg.d AS degree, COALESCE(p.n_tri, 0) AS n_tri,
         |  (COALESCE(p.n_tri, 0) * 2000000) // (deg.d * (deg.d - 1)) AS lcc_q6
         |FROM deg LEFT JOIN pertri p ON p.v = deg.v
         |WHERE deg.d >= 2
         |ORDER BY lcc_q6 DESC, n_tri DESC, deg.v LIMIT 50""".stripMargin) { (s, d) =>
      import org.apache.spark.storage.StorageLevel
      val ue = Graphs.skewedUndirectedEdges(Tables.documents(s, d))
        .localCheckpoint(true)
      val deg = ue.select(col("a").as("v"))
        .unionAll(ue.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      // localCheckpoint (not persist): the wedge join references `oriented`
      // three times and the credit union references `tri` three times, so a
      // cached-but-lineaged plan serializes the ue/deg subtree 9+ ways into
      // every task binary (observed 6-9 MiB tasks). Truncating lineage here
      // keeps the final stages' closures kilobyte-sized.
      val oriented = Graphs.orientByDegree(ue, deg, "d")
        .localCheckpoint(true)
      val tri = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e2.u") === col("e1.u") && col("e1.w") =!= col("e2.w"))
        .join(oriented.as("e3"),
          col("e3.u") === col("e1.w") && col("e3.w") === col("e2.w"))
        .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
        .localCheckpoint(true)
      val perTri = tri.select(col("x").as("v"))
        .unionAll(tri.select(col("y").as("v")))
        .unionAll(tri.select(col("z").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
      // The d >= 2 restriction is folded behind its own checkpoint: as a
      // visible Filter it makes InjectRuntimeFilter build bloom filters
      // for the final join (3 x bounded-size bloom in every task binary),
      // yet it keeps ~every vertex (an edge endpoint with d = 1 is rare),
      // so the runtime filter can never prune anything. One extra |V|-row
      // materialization buys bloom-free kilobyte task closures.
      val degF = deg.filter(col("d") >= 2).localCheckpoint(true)
      degF.join(perTri, Seq("v"), "left")
        .select(col("v"), col("d").as("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          expr("(coalesce(n_tri, 0) * 2000000) div (d * (d - 1))").as("lcc_q6"))
        .orderBy(col("lcc_q6").desc, col("n_tri").desc, col("v"))
        .limit(50)
    },

    // Connected components of the doc-id path cut into 97-vertex
    // segments (edge i→i+1 absent when (i+1) % 97 = 0 or i+1 is missing),
    // through TextPipeline.dedupClusters: partition-local union-find
    // contraction, then min-label propagation with pointer jumping over
    // the cross-partition quotient graph, looped to a checked fixpoint (it
    // throws rather than return unconverged labels). Each component is
    // labeled by its minimum id; the readout is a combiner count per label.
    //
    // The oracle does NOT replay the iteration: on a path-segment graph
    // the components are analytically the maximal runs of consecutive
    // present ids within a segment, i.e. a gaps-and-islands derivation —
    // an independent closed form the engine's general-purpose CC must
    // reproduce exactly (the q_burst_physics analytic-replay pattern).
    QueryDef.sql(
      "q_connected_components",
      """WITH ids AS (SELECT doc_id AS v FROM documents),
        |mk AS (
        |  SELECT v, CASE WHEN v % 97 = 0
        |      OR LAG(v) OVER (ORDER BY v) IS DISTINCT FROM v - 1
        |    THEN 1 ELSE 0 END AS brk
        |  FROM ids),
        |isl AS (
        |  SELECT v, SUM(brk) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS g
        |  FROM mk)
        |SELECT CAST(MIN(v) AS BIGINT) AS component,
        |  CAST(COUNT(*) AS BIGINT) AS size
        |FROM isl GROUP BY g ORDER BY component""".stripMargin) { (s, d) =>
      val ids = Tables.documents(s, d).select(col("doc_id"))
        .localCheckpoint(true)
      val fwd = ids.filter(pmod(col("doc_id") + 1, lit(97)) =!= 0)
        .select(col("doc_id").as("doc1"), (col("doc_id") + 1).as("doc2"))
        .join(ids.select(col("doc_id").as("doc2")), Seq("doc2"), "left_semi")
      TextPipeline.dedupClusters(ids, fwd)
        .groupBy(col("canonical_id").as("component"))
        .agg(count(lit(1)).as("size"))
        .orderBy(col("component"))
    },

    // Personalized PageRank: the teleport vector concentrates on the seed
    // set doc_id % 100 = 0 (~1% of the corpus) instead of spreading
    // uniformly — the "related to THESE documents" ranking that powers
    // seed-expansion retrieval, over the same power-law graph as
    // q_pagerank_skew (the hub is where proximity mass piles up and where
    // a naive per-vertex formulation would skew). pageRankOn with the
    // teleport on the seeds: seeds reset to 150000 per round, every
    // other vertex's reset is 0, contributions floor(r·0.85/3); the
    // per-round dst-sum is a combiner aggregate, so the hot vertex
    // partial-aggregates map-side. Non-seed vertices the seeds never
    // reach stay at exactly 0 and are excluded from the readout.
    QueryDef.sql(
      "q_ppr",
      s"""WITH nodes AS (SELECT doc_id FROM documents),
         |${Graphs.skewEdgesSql},
         |r0 AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN doc_id % 100 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS r
         |  FROM nodes),
         |${pprIterSql("r0", "r1")},
         |${pprIterSql("r1", "r2")},
         |${pprIterSql("r2", "r3")}
         |SELECT doc_id, CAST(r AS BIGINT) AS rank_q6
         |FROM r3 WHERE r > 0
         |ORDER BY rank_q6 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Graphs.pageRankOn(docs.select(col("doc_id")), Graphs.skewedEdges(docs), iters = 3,
          teleport = m =>
            when(pmod(col("doc_id"), lit(100)) === 0, lit(m)).otherwise(lit(0L)))
        .filter(col("rank_q6") > 0)
        .orderBy(col("rank_q6").desc, col("doc_id"))
        .limit(20)
    },

    // Approximate neighborhood function (HyperANF): per vertex, an HLL
    // sketch of its r-hop out-ball, advanced one hop per round by
    // register-wise max-merge over the out-edges — THE way to read
    // ball-growth / effective-diameter off a graph too big for exact
    // reachability (exact is |V|·|ball| state; this is ≤ 64 registers
    // per vertex, and the per-round merge is one keyed join + combiner
    // max-groupBy, the same shuffle shape as PageRank). Register state
    // is SPARSE (only touched buckets exist; an absent bucket is rho 0),
    // so round 0 is exactly one row per vertex. The readout sums
    // per-vertex floor-quantized HLL estimates — each per-vertex z is a
    // sum of ≤ 64 negative powers of two plus an integer (every partial
    // sum exactly representable in a double), so the oracle replays the
    // registers AND the estimates bit-for-bit. Shares hllMix/rhoOf with
    // the sketch family (one hash definition everywhere).
    //
    // Readout honesty: sum_ball_est is the RAW HLL estimate, which is
    // upward-biased when balls are small relative to m = 64 (the fixture
    // regime); deployments apply linear counting below 2.5m, but ln is
    // not correctly rounded in either engine so it cannot join the
    // cross-engine contract. sum_present / sum_rho carry the exact
    // register-level growth curve, which is the monotone ball-growth
    // signal at any scale.
    QueryDef.sql(
      "q_anf", {
        val (bSql, rhoSql) = Sketches.rhoSqlOf("hv")
        def stepSql(prev: String, cur: String): String =
          s"""$cur AS MATERIALIZED (
             |  SELECT v, b, MAX(rho) AS rho FROM (
             |    SELECT v, b, rho FROM $prev
             |    UNION ALL
             |    SELECT e.src AS v, r.b, r.rho
             |    FROM edges e JOIN $prev r ON r.v = e.dst) u
             |  GROUP BY v, b)""".stripMargin
        def estSql(src: String, round: Int): String =
          s"""SELECT CAST($round AS BIGINT) AS round,
             |  CAST(COUNT(*) AS BIGINT) AS n_vertices,
             |  CAST(SUM(np) AS BIGINT) AS sum_present,
             |  CAST(SUM(srho) AS BIGINT) AS sum_rho,
             |  CAST(SUM(est) AS BIGINT) AS sum_ball_est
             |FROM (
             |  SELECT v, CAST(COUNT(*) AS BIGINT) AS np,
             |    CAST(SUM(rho) AS BIGINT) AS srho,
             |    CAST(FLOOR(0.709 * 64 * 64 /
             |    (SUM(1.0 / CAST((CAST(1 AS BIGINT) << rho) AS DOUBLE))
             |     + (64 - COUNT(*)) * 1.0)) AS BIGINT) AS est
             |  FROM $src GROUP BY v) x""".stripMargin
        s"""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
           |edges AS MATERIALIZED (
           |  SELECT doc_id AS src, (doc_id * 7 + j) % n.n_docs AS dst
           |  FROM documents CROSS JOIN n CROSS JOIN UNNEST(RANGE(1, 4)) AS u(j)),
           |${Sketches.hllMixCtes("documents", "doc_id", "doc_id,")},
           |r0 AS MATERIALIZED (
           |  SELECT doc_id AS v, $bSql AS b, $rhoSql AS rho FROM h),
           |${stepSql("r0", "s1")},
           |${stepSql("s1", "s2")},
           |${stepSql("s2", "s3")}
           |SELECT * FROM (
           |  ${estSql("r0", 0)}
           |  UNION ALL ${estSql("s1", 1)}
           |  UNION ALL ${estSql("s2", 2)}
           |  UNION ALL ${estSql("s3", 3)}) z
           |ORDER BY round""".stripMargin
      }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // every round's register join probes the edges by dst
      val edges = Graphs.keyed(Graphs.syntheticEdges(docs), "dst")
      val (bCol, rhoCol) = Sketches.rhoOf(Sketches.hllMix(col("doc_id")))
      val r0 = docs.select(col("doc_id").as("v"), bCol.as("b"), rhoCol.as("rho"))
        .localCheckpoint(true)
      // the readout reads every round, so each round is checkpointed
      (1 to 3).scanLeft(r0) { (cur, _) =>
        cur
          .unionAll(edges
            .join(cur.select(col("v").as("dst"), col("b"), col("rho")), Seq("dst"))
            .select(col("src").as("v"), col("b"), col("rho")))
          .groupBy(col("v"), col("b")).agg(max(col("rho")).as("rho"))
          .localCheckpoint(true)
      }.zipWithIndex.map { case (regs, i) =>
        regs.groupBy(col("v"))
          .agg(count(lit(1)).as("np"), sum(col("rho")).as("srho"),
            (sum(lit(1.0) /
              expr("cast(shiftleft(cast(1 as bigint), cast(rho as int)) as double)"))
              + (lit(64) - count(lit(1))) * lit(1.0)).as("z"))
          .select(col("np"), col("srho"),
            floor(lit(0.709) * 64 * 64 / col("z")).cast("long").as("est"))
          .agg(count(lit(1)).as("n_vertices"), sum(col("np")).as("sum_present"),
            sum(col("srho")).as("sum_rho"), sum(col("est")).as("sum_ball_est"))
          .select(lit(i.toLong).as("round"), col("n_vertices"),
            col("sum_present"), col("sum_rho"), col("sum_ball_est"))
      }.reduce(_ unionAll _)
        .orderBy(col("round"))
    }
  )

  /** One personalized-PageRank round as an oracle CTE: seed reset 150000,
    * non-seed reset 0, contributions floor(r·0.85/3) — the seeded twin of
    * Graphs.iterSql. */
  private def pprIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT nd.doc_id,
       |    CASE WHEN nd.doc_id % 100 = 0 THEN 150000 ELSE 0 END
       |      + COALESCE(SUM(c.c), 0) AS r
       |  FROM nodes nd LEFT JOIN (
       |    SELECT e.dst AS doc_id,
       |      CAST(FLOOR(p.r * 850000.0 / 3000000.0) AS BIGINT) AS c
       |    FROM edges e JOIN $prev p ON p.doc_id = e.src) c
       |    ON c.doc_id = nd.doc_id
       |  GROUP BY nd.doc_id)""".stripMargin
}
