package graft.pipeline

import graft.{QueryDef, QueryScope, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K-means (Lloyd's algorithm) over the `embeddings` table — the clustering
  * step behind corpus curation (topic balancing, IVF codebook training,
  * semantic dedup partitioning).
  *
  * Determinism contract: elements are floor-quantized to integers
  * (`floor(x·10⁶)`), so distances are exact 64-bit sums of squared integer
  * differences and the argmin tie-breaks on centroid id; centroid updates
  * are `floor(sum·1.0/count)` — one exact integer sum, one correctly-rounded
  * IEEE division, one floor — identical in Spark and DuckDB. Initial
  * centroids are the k lowest vec_ids. The whole loop therefore replays
  * bit-for-bit as unrolled SQL CTEs (q_kmeans's oracle).
  *
  * Scale posture: centroids are k whole arrays, BROADCAST to every task;
  * assignment is one codegen'd fold per (vector, centroid) under a
  * broadcast nested-loop — the corpus never shuffles by element. The only
  * shuffles are the per-(cluster, dimension) centroid update (combiner-
  * backed groupBy over n·dim rows) and the argmin (combiner-backed
  * min(struct) per vec_id). Each round's centroid table is
  * localCheckpoint-ed: k·dim longs, cuts the otherwise per-round-nesting
  * lineage (same rationale as TextPipeline.dedupClusters).
  */
object Clustering {

  /** (vec_id, q: array<long>) floor-quantized vectors. */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), x => floor(x.cast("double") * 1000000).cast("long"))
        .as("q"))

  /** Squared L2 distance between two quantized arrays — a single codegen'd
    * zip_with + fold, no element explosion. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** Assign each vector to its nearest centroid (ties → lowest cid).
    * Input: qv (vec_id, q), cent (cid, cq). Output (vec_id, cid, dist). */
  def assign(qv: DataFrame, cent: DataFrame): DataFrame =
    qv.crossJoin(broadcast(cent)) // k rows — the intended broadcast NLJ
      .select(col("vec_id"), col("cid"), sqDist(col("q"), col("cq")).as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))

  /** Recompute centroids as the element-wise floor-mean of members.
    * Input: members (vec_id, cid), qv (vec_id, q). Output (cid, cq). */
  def recompute(members: DataFrame, qv: DataFrame): DataFrame =
    qv.join(members.select(col("vec_id"), col("cid")), Seq("vec_id"))
      .select(col("cid"), posexplode(col("q")).as(Seq("i", "qe")))
      .groupBy(col("cid"), col("i"))
      .agg(floor(sum(col("qe")) * lit(1.0) / count(lit(1))).cast("long").as("qc"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("qc")))),
        _.getField("qc")).as("cq"))

  /** `iters` Lloyd rounds from the k lowest-id vectors. Returns the final
    * (members, centroids): members carry the distance to the PREVIOUS
    * round's centroid (the assignment that produced the final update). */
  def kmeans(emb: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(k >= 1 && iters >= 1, s"k=$k iters=$iters")
    val qv = quantized(emb)
    // the ACTUAL k lowest ids, not `vec_id < k`: a frame whose ids don't
    // start at 0 would otherwise silently seed fewer than k centroids and
    // return an empty result
    var cent = qv.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
    var members = assign(qv, cent)
    for (_ <- 1 until iters) {
      // k·dim longs: eager checkpoint cuts the per-round plan nesting
      cent = QueryScope.checkpointed(recompute(members, qv))
      members = assign(qv, cent)
    }
    (members, recompute(members, qv))
  }

  /** Oracle helpers: exploded quantized elements + quantized list CTEs. */
  private val qvSql =
    """qv AS (
      |  SELECT vec_id,
      |    LIST_TRANSFORM(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS q
      |  FROM embeddings),
      |qe AS (
      |  SELECT vec_id, GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS i,
      |    CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qe
      |  FROM embeddings)""".stripMargin

  private def distSql(q1: String, q2: String): String =
    s"""CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP($q1, $q2),
       |      p -> (STRUCT_EXTRACT(p,1) - STRUCT_EXTRACT(p,2))
       |         * (STRUCT_EXTRACT(p,1) - STRUCT_EXTRACT(p,2)))) AS BIGINT)""".stripMargin

  /** Lloyd round 1's inputs: the first 4 vectors as centroids `c0` and
    * every vector's squared distance to each (`d1`). */
  private val firstRoundDistSql =
    s"""$qvSql,
       |c0 AS (SELECT vec_id AS cid, q AS cq FROM qv WHERE vec_id < 4),
       |d1 AS (
       |  SELECT v.vec_id, c.cid,
       |    ${distSql("v.q", "c.cq")} AS dist
       |  FROM qv v CROSS JOIN c0 c)""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // 2 Lloyd rounds, k = 4: report per-cluster membership, total inertia
    // of the final assignment, and the updated centroid's squared norm —
    // the exact integer replay of Clustering.kmeans(emb, 4, 2)
    QueryDef.sql(
      "q_kmeans",
      s"""WITH $firstRoundDistSql,
         |m1 AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT vec_id, cid, dist,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1) WHERE rn = 1),
         |e1 AS (
         |  SELECT m.cid, u.i, CAST(FLOOR(SUM(u.qe) * CAST(1.0 AS DOUBLE) / COUNT(*)) AS BIGINT) AS qc
         |  FROM m1 m JOIN qe u USING (vec_id) GROUP BY m.cid, u.i),
         |c1 AS (SELECT cid, LIST(qc ORDER BY i) AS cq FROM e1 GROUP BY cid),
         |d2 AS (
         |  SELECT v.vec_id, c.cid,
         |    ${distSql("v.q", "c.cq")} AS dist
         |  FROM qv v CROSS JOIN c1 c),
         |m2 AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT vec_id, cid, dist,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d2) WHERE rn = 1),
         |e2 AS (
         |  SELECT m.cid, u.i, CAST(FLOOR(SUM(u.qe) * CAST(1.0 AS DOUBLE) / COUNT(*)) AS BIGINT) AS qc
         |  FROM m2 m JOIN qe u USING (vec_id) GROUP BY m.cid, u.i)
         |SELECT m.cid, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  CAST(SUM(m.dist) AS BIGINT) AS inertia,
         |  MAX(n.norm2) AS centroid_norm2
         |FROM m2 m JOIN (
         |  SELECT cid, CAST(SUM(qc*qc) AS BIGINT) AS norm2 FROM e2 GROUP BY cid) n
         |  USING (cid)
         |GROUP BY m.cid ORDER BY m.cid""".stripMargin) { (s, d) =>
      val (members, cent) = kmeans(Tables.embeddings(s, d), k = 4, iters = 2)
      val norms = cent.select(col("cid"),
        aggregate(col("cq"), lit(0L), (acc, x) => acc + x * x).as("norm2"))
      members.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("inertia"))
        .join(broadcast(norms), Seq("cid"))
        .select(col("cid"), col("n_members"), col("inertia"),
          col("norm2").as("centroid_norm2"))
        .orderBy(col("cid"))
    },

    // SemDeDup-style semantic dedup (Abbas et al. 2023 shape): k-means
    // partitions the embedding space, then near-duplicates are pruned
    // WITHIN each cluster only — the clustering is what makes semantic
    // dedup tractable at corpus scale, shrinking the candidate space from
    // O(n²) global to Σ O(|cluster|²) with |cluster| ≈ n/k (a production
    // run grows k with n and splits outlier clusters, so the per-cluster
    // quadratic stays bounded; with the fixed k=8 codebook this query
    // demonstrates, the differential runs on the deterministic
    // vec_id < 4096 slice — the same bounded-slice convention as
    // q_crossmodal_dedup — so cluster size cannot grow with the corpus
    // and the oracle replay stays linear-ish at any SF). Keeper policy is
    // the greedy keep-lowest-id: a vector is dropped iff some LOWER-id
    // member of its cluster sits above the cosine threshold —
    // deterministic, and equal to SemDeDup's "keep one representative per
    // near-dup neighborhood". Assignment is the q_ann_ivf broadcast
    // pattern (8 whole-array centroids, one codegen'd dot each, argmax
    // via min(struct)); the within-cluster pair join is
    // cluster-key-partitioned, never global.
    QueryDef.sql(
      "q_semdedup",
      s"""WITH $qvSql,
         |slice AS (SELECT vec_id, i, qe FROM qe WHERE vec_id < 4096),
         |cent AS (SELECT vec_id AS cid, i, qe FROM slice WHERE vec_id < 8),
         |dots AS (
         |  SELECT v.vec_id, c.cid, CAST(SUM(v.qe*c.qe) AS BIGINT) AS dot
         |  FROM slice v JOIN cent c ON v.i = c.i
         |  GROUP BY v.vec_id, c.cid),
         |assigned AS (
         |  SELECT vec_id, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
         |  FROM dots),
         |members AS (SELECT vec_id, cid AS cluster FROM assigned WHERE rn = 1),
         |norms AS (SELECT vec_id, CAST(SUM(qe*qe) AS BIGINT) AS n2
         |          FROM slice GROUP BY vec_id),
         |pairs AS (
         |  SELECT m1.cluster, m1.vec_id AS v1, m2.vec_id AS v2,
         |    CAST(SUM(a.qe*b.qe) AS BIGINT) AS dot
         |  FROM members m1 JOIN members m2
         |    ON m1.cluster = m2.cluster AND m1.vec_id < m2.vec_id
         |  JOIN slice a ON a.vec_id = m1.vec_id
         |  JOIN slice b ON b.vec_id = m2.vec_id AND b.i = a.i
         |  GROUP BY m1.cluster, m1.vec_id, m2.vec_id),
         |dropped AS (
         |  SELECT DISTINCT cluster, v2 AS vec_id
         |  FROM pairs JOIN norms n1 ON n1.vec_id = v1
         |             JOIN norms n2t ON n2t.vec_id = v2
         |  WHERE FLOOR(dot / SQRT(CAST(n1.n2 AS DOUBLE) * n2t.n2) * 1000000) >= 300000)
         |SELECT m.cluster,
         |  CAST(COUNT(*) AS BIGINT) AS n_members,
         |  CAST(COUNT(dr.vec_id) AS BIGINT) AS n_dropped,
         |  CAST(COUNT(*) - COUNT(dr.vec_id) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN m.vec_id ELSE 0 END) AS BIGINT)
         |    AS kept_id_sum
         |FROM members m LEFT JOIN dropped dr
         |  ON dr.cluster = m.cluster AND dr.vec_id = m.vec_id
         |GROUP BY m.cluster ORDER BY m.cluster""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.QDot.qdot
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") < 4096)
      val cent = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("dot").desc, col("cid"))
      val members = QueryScope.persisted(emb.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"), qdot(col("embedding"), col("ce")).as("dot"))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("cluster")))
      // each member row carries its own squared norm (one codegen'd pass,
      // computed once per vector, never joined or broadcast — a norm
      // TABLE would grow with the corpus)
      val withVec = members.join(emb, Seq("vec_id"))
        .withColumn("n2", qdot(col("embedding"), col("embedding")))
      // pair arrays cluster-locally; each dot is one codegen'd pass over
      // the two unsafe arrays — no per-element join, no element shuffle
      val dropped = withVec
        .select(col("cluster"), col("vec_id").as("v1"), col("embedding").as("e1"),
          col("n2").as("n21"))
        .join(withVec
            .select(col("cluster"), col("vec_id").as("v2"), col("embedding").as("e2"),
              col("n2").as("n22")),
          Seq("cluster"))
        .filter(col("v1") < col("v2"))
        .select(col("cluster"), col("v1"), col("v2"),
          qdot(col("e1"), col("e2")).as("dot"), col("n21"), col("n22"))
        .filter(floor(col("dot") / sqrt(col("n21").cast("double") * col("n22")) * 1000000)
          >= 300000)
        .select(col("cluster"), col("v2").as("vec_id")).distinct()
        .withColumn("is_dropped", lit(1L))
      members.join(dropped, Seq("cluster", "vec_id"), "left")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          count(col("is_dropped")).as("n_dropped"),
          (count(lit(1)) - count(col("is_dropped"))).as("n_kept"),
          sum(when(col("is_dropped").isNull, col("vec_id")).otherwise(lit(0L)))
            .cast("long").as("kept_id_sum"))
        .orderBy(col("cluster"))
    },

    // Product quantization: the 64-dim vector splits into 4 blocks of 16;
    // each block is coded by its nearest sub-codebook entry (codebook =
    // the first 4 vectors' blocks — the fixed-codebook assign stage, as
    // in q_ann_ivf; training the codebook IS Clustering.kmeans per
    // block). Output: the 4 codes (a 64-dim float vector compressed to
    // 4 bytes) plus the exact reconstruction error. The codebook is
    // 16 sub-vectors broadcast to every task; coding is 16 codegen'd
    // folds per vector, no element shuffle anywhere.
    QueryDef.sql(
      "q_pq_codes", {
        val blockDist =
          """CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v.sub, c.sub),
            |        p -> (STRUCT_EXTRACT(p,1) - STRUCT_EXTRACT(p,2))
            |           * (STRUCT_EXTRACT(p,1) - STRUCT_EXTRACT(p,2)))) AS BIGINT)""".stripMargin
        s"""WITH qv AS (
           |  SELECT vec_id,
           |    LIST_TRANSFORM(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS q
           |  FROM embeddings),
           |blocks AS (
           |  SELECT vec_id, b, q[1 + 16*b : 16 + 16*b] AS sub
           |  FROM qv CROSS JOIN UNNEST(RANGE(0, 4)) AS u(b)),
           |cb AS (SELECT vec_id AS code, b, sub FROM blocks WHERE vec_id < 4),
           |dists AS (
           |  SELECT v.vec_id, v.b, c.code, $blockDist AS dist
           |  FROM blocks v JOIN cb c USING (b)),
           |best AS (
           |  SELECT vec_id, b, code, dist FROM (
           |    SELECT vec_id, b, code, dist,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id, b ORDER BY dist, code) AS rn
           |    FROM dists) WHERE rn = 1)
           |SELECT vec_id,
           |  CAST(MAX(CASE WHEN b = 0 THEN code END) AS BIGINT) AS code0,
           |  CAST(MAX(CASE WHEN b = 1 THEN code END) AS BIGINT) AS code1,
           |  CAST(MAX(CASE WHEN b = 2 THEN code END) AS BIGINT) AS code2,
           |  CAST(MAX(CASE WHEN b = 3 THEN code END) AS BIGINT) AS code3,
           |  CAST(SUM(dist) AS BIGINT) AS recon_err
           |FROM best GROUP BY vec_id ORDER BY vec_id LIMIT 500""".stripMargin
      }) { (s, d) =>
      val qv = quantized(Tables.embeddings(s, d))
      val blocks = qv.select(col("vec_id"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("b"), slice(col("q"), 1 + 16 * b, 16).as("sub"))): _*))
            .as("blk"))
        .select(col("vec_id"), col("blk.b").as("b"), col("blk.sub").as("sub"))
      val cb = blocks.filter(col("vec_id") < 4)
        .select(col("vec_id").as("code"), col("b"), col("sub").as("csub"))
      val dists = blocks.join(broadcast(cb), Seq("b"))
        .select(col("vec_id"), col("b"), col("code"),
          aggregate(zip_with(col("sub"), col("csub"), (x, y) => (x - y) * (x - y)),
            lit(0L), _ + _).as("dist"))
      val best = dists.groupBy(col("vec_id"), col("b"))
        .agg(min(struct(col("dist"), col("code"))).as("m"))
        .select(col("vec_id"), col("b"), col("m.code").as("code"), col("m.dist").as("dist"))
      best.groupBy(col("vec_id"))
        .agg(
          max(when(col("b") === 0, col("code"))).cast("long").as("code0"),
          max(when(col("b") === 1, col("code"))).cast("long").as("code1"),
          max(when(col("b") === 2, col("code"))).cast("long").as("code2"),
          max(when(col("b") === 3, col("code"))).cast("long").as("code3"),
          sum(col("dist")).as("recon_err"))
        .orderBy(col("vec_id")).limit(500)
    },

    // Cluster keyword summarization (c-TF-IDF shape, BERTopic's labeling
    // step re-expressed log-free): assign embeddings to the k = 4 seed
    // centroids (one Lloyd assignment — the same broadcast-NLJ argmin as
    // q_kmeans round 1), pair clusters with their documents (vec_id ↔
    // doc_id), and rank each cluster's tokens by an integer-exact lift
    // score tf_c · N_total · 10⁶ / (N_c · tf_global) — term
    // over-representation in the cluster vs the corpus, the same ratio
    // family as q_pmi_bigrams. Top-5 terms per cluster, support ≥ 3.
    // Scale: token stats key by (cid, t) and t (vocabulary-sized,
    // combiner-backed); the cluster-total side broadcasts (k rows); the
    // global-tf join shuffles on the bounded vocabulary, never raw text.
    QueryDef.sql(
      "q_cluster_terms",
      s"""WITH $firstRoundDistSql,
         |m1 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1) WHERE rn = 1),
         |dt AS (
         |  SELECT m.cid, d.text FROM m1 m
         |  JOIN documents d ON d.doc_id = m.vec_id),
         |tokc AS (
         |  SELECT cid, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS t
         |  FROM dt),
         |ctf AS (
         |  SELECT cid, t, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tokc GROUP BY cid, t HAVING COUNT(*) >= 3),
         |ctot AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_c FROM tokc GROUP BY cid),
         |gtf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS g FROM tokc GROUP BY t),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tokc),
         |scored AS (
         |  SELECT c.cid, c.t, c.tf,
         |    CAST(FLOOR(c.tf * CAST(1.0 AS DOUBLE) * tot.n * 1000000.0
         |      / (ct.n_c * CAST(1.0 AS DOUBLE) * g.g)) AS BIGINT) AS lift_q6
         |  FROM ctf c
         |  JOIN ctot ct ON ct.cid = c.cid
         |  JOIN gtf g ON g.t = c.t
         |  CROSS JOIN tot)
         |SELECT cid, CAST(rk AS BIGINT) AS rk, t AS term, tf, lift_q6 FROM (
         |  SELECT cid, t, tf, lift_q6,
         |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY lift_q6 DESC, t) AS rk
         |  FROM scored) WHERE rk <= 5
         |ORDER BY cid, rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val qv = quantized(Tables.embeddings(s, d))
      val cent = qv.orderBy(col("vec_id")).limit(4)
        .select(col("vec_id").as("cid"), col("q").as("cq"))
      val members = assign(qv, cent).select(col("vec_id"), col("cid"))
      val dt = members
        .join(Tables.documents(s, d), col("doc_id") === col("vec_id"))
      val tokc = dt.select(col("cid"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("t"))
      val ctf = tokc.groupBy(col("cid"), col("t")).agg(count(lit(1)).as("tf"))
        .filter(col("tf") >= 3)
      val ctot = tokc.groupBy(col("cid")).agg(count(lit(1)).as("n_c"))
      val gtf = tokc.groupBy(col("t")).agg(count(lit(1)).as("g"))
      val tot = tokc.agg(count(lit(1)).as("n"))
      val scored = ctf
        .join(broadcast(ctot), Seq("cid"))
        .join(gtf, Seq("t"))
        .crossJoin(broadcast(tot))
        .select(col("cid"), col("t"), col("tf"),
          floor(col("tf") * lit(1.0) * col("n") * lit(1000000.0)
            / (col("n_c") * lit(1.0) * col("g"))).cast("long").as("lift_q6"))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cid")).orderBy(col("lift_q6").desc, col("t"))).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("cid"), col("rk"), col("t").as("term"), col("tf"), col("lift_q6"))
        .orderBy(col("cid"), col("rk"))
    }
  )
}
