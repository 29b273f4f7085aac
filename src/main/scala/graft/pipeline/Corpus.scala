package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Corpus-shaping operators a large-scale training-data pipeline runs
  * between ingest and dedup: relevance scoring (TF-IDF), inverted-index
  * construction, repetition-based quality filtering (the Gopher-style
  * signals), PII scrubbing, per-domain caps, and URL/domain extraction.
  *
  * All pure Column arithmetic (whole-stage codegen, zero UDFs). The one
  * numerically delicate piece is IDF: `ln` is not guaranteed identically
  * rounded across engines, so relevance uses the BM25 idf *odds ratio*
  * (N - df + 0.5)/(df + 0.5) — the argument of BM25's log — quantized from
  * one exact double division (IEEE-correctly-rounded in both engines).
  * Monotone in df exactly like the log form, so rankings are identical.
  *
  * Scale posture: every per-token aggregate is a combiner-backed groupBy
  * (never a window over a raw token stream — the hottest token of a 100 TB
  * corpus would serialize onto one reducer); per-document signals reduce
  * the exploded token stream immediately (map-side partial aggregation);
  * the per-source cap joins ranked rows against a pre-aggregated size
  * table rather than running a count window over the corpus.
  */
object Corpus {

  /** word tokens, lowercased: the shared tokenizer of the family */
  private[pipeline] val tokSparkPat = "[a-z0-9]+"
  private val toksSql =
    """tok AS (
      |  SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS t
      |  FROM documents)""".stripMargin

  /** Integer BM25 term scores (doc_id, s) of the tokens that pass
    * `terms`, as q_bm25_search defines them. */
  private[pipeline] def bm25TermScores(s: org.apache.spark.sql.SparkSession, d: String,
      terms: org.apache.spark.sql.Column) = {
    val toks = tokRows(s, d)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val g = dl.agg(sum(col("dl")).as("sumdl"), count(lit(1)).as("n"))
    val tf = toks.filter(terms)
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val nn = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dft), Seq("t"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(nn)).crossJoin(broadcast(g))
      .select(col("doc_id"),
        (floor((col("n_docs") - col("df") + 0.5) * lit(1000000.0)
            / (col("df") + 0.5)).cast("long")
          * expr("(22 * tf * sumdl * 1000000) div (10 * sumdl * tf + 3 * sumdl + 9 * dl * n)"))
          .as("s"))
  }

  /** Oracle twin of [[bm25TermScores]]: CTEs up to `scored` (doc_id, s)
    * over the tokens that pass the SQL predicate `terms`. */
  private[pipeline] def bm25TermScoresSql(terms: String): String =
    s"""$toksSql,
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
       |g AS (SELECT CAST(SUM(dl) AS BIGINT) AS sumdl,
       |             CAST(COUNT(*) AS BIGINT) AS n FROM dl),
       |tf AS (
       |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
       |  WHERE $terms GROUP BY doc_id, t),
       |df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id,
       |    CAST(FLOOR((nn.n_docs - df.df + 0.5) * CAST(1000000.0 AS DOUBLE)
       |               / (df.df + 0.5)) AS BIGINT)
       |      * ((22 * tf.tf * g.sumdl * 1000000)
       |         // (10 * g.sumdl * tf.tf + 3 * g.sumdl + 9 * d2.dl * g.n)) AS s
       |  FROM tf JOIN df USING (t) JOIN dl d2 ON d2.doc_id = tf.doc_id
       |  CROSS JOIN nn CROSS JOIN g)""".stripMargin

  /** Per-(doc, token) count and token length: the Gopher signals' base. */
  private val tokenCountsSql =
    s"""$toksSql,
       |tc AS (
       |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    CAST(LENGTH(t) AS BIGINT) AS wlen
       |  FROM tok GROUP BY doc_id, t)""".stripMargin

  private[pipeline] def tokRows(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit(tokSparkPat), lit(0))).as("t"))

  /** Shared CTE prefix of the sparse-cosine family: 5-gram shingle tf
    * vectors in the rare subspace (2 ≤ df ≤ max(20, n_docs/25)),
    * postings-joined dots, and the quantized cosine — through the
    * `scored` relation (doc1, doc2, dot, cos_q6). The df cap scales
    * with the corpus (a FIXED cap silently empties the subspace under
    * duplication-heavy growth — every clone multiplies df — which the
    * 32× rehearsal caught as a 0-row result); it still excludes the
    * stop-shingle head, which is what keeps the posting self-join
    * postings-bounded. See q_sparse_cosine_topk for the full posture. */
  private val sparseCosSql =
    """toks AS (
      |  SELECT doc_id, REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk) - 3),
      |      i -> ARRAY_TO_STRING(tk[i:i+4], ' '))) AS t
      |  FROM toks WHERE LEN(tk) >= 5),
      |tf AS (
      |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM g GROUP BY doc_id, t),
      |df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
      |cap AS (SELECT GREATEST(20, COUNT(*) // 25) AS df_cap FROM documents),
      |vec AS (
      |  SELECT tf.doc_id, tf.t, tf.tf FROM tf JOIN df USING (t) CROSS JOIN cap
      |  WHERE df.df BETWEEN 2 AND cap.df_cap),
      |norms AS (
      |  SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nsq
      |  FROM vec GROUP BY doc_id),
      |dots AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
      |    CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      |  FROM vec a JOIN vec b ON a.t = b.t AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |scored AS (
      |  SELECT d.doc1, d.doc2, d.dot,
      |    CAST(FLOOR(d.dot * CAST(1000000.0 AS DOUBLE)
      |      / SQRT(CAST(n1.nsq * n2.nsq AS DOUBLE))) AS BIGINT) AS cos_q6
      |  FROM dots d
      |  JOIN norms n1 ON n1.doc_id = d.doc1
      |  JOIN norms n2 ON n2.doc_id = d.doc2)""".stripMargin

  /** Spark side of [[sparseCosSql]]: all scored pairs (doc1 < doc2).
    *
    * Scale shape (the q_edit_distance lesson, re-applied): duplicate-heavy
    * corpora make doc-pair counts quadratic in the clone factor while the
    * DISTINCT-text count stays flat — so the postings join runs between
    * distinct-text REPRESENTATIVES only, and verdicts expand back through
    * the doc↔rep map. Identical-text pairs never enter the join at all:
    * within a clone set cosine is self-cosine by definition (dot = ‖v‖²),
    * emitted directly. df keeps NAIVE semantics (clone multiplicity
    * counts) by weighting each rep's postings with its copy count. The
    * oracle keeps the naive per-doc SQL — same result through a different
    * computation is exactly what the differential pins. Measured at the
    * 32× rehearsal: 50 s naive → rep-collapsed runs on 1/32 of the
    * vector data with zero clone-pair join fanout.
    */
  private def sparseCosScored(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // distinct-text representatives and the doc→rep map (keyed by the
    // actual text, not a hash: a hash collision would silently merge
    // different vectors)
    val reps = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies"))
    val m = docs.join(reps, Seq("text")).select(col("doc_id"), col("rep"))
    val repDocs = reps.select(col("rep"), col("text"), col("n_copies"))

    val toks = repDocs
      .select(col("rep"),
        regexp_extract_all(lower(col("text")), lit(tokSparkPat), lit(0)).as("tk"),
        col("n_copies"))
      .filter(size(col("tk")) >= 5)
    val g = toks.select(col("rep"), col("n_copies"),
      explode(transform(sequence(lit(1), size(col("tk")) - 4),
        i => concat_ws(" ", slice(col("tk"), i, lit(5))))).as("t"))
    val tf = g.groupBy(col("rep"), col("t"))
      .agg(count(lit(1)).as("tf"), max(col("n_copies")).as("n_copies"))
    // df = number of DOCS containing t (naive semantics): clone-weighted
    val dfreq = tf.groupBy(col("t")).agg(sum(col("n_copies")).as("df"))
    val cap = Tables.documents(s, d)
      .agg(greatest(lit(20L), expr("count(*) div 25")).as("df_cap"))
    val rare = dfreq.crossJoin(broadcast(cap)) // 1-row cap — never a driver action
      .filter(col("df").between(lit(2), col("df_cap"))).select(col("t"))
    val vec = tf.select(col("rep"), col("t"), col("tf")).join(rare, Seq("t"))
    val norms = vec.groupBy(col("rep")).agg(sum(col("tf") * col("tf")).as("nsq"))

    // rep-level dots: postings join over DISTINCT vectors only
    val scoredRep = SparseProduct.product(vec, Seq("t"), "rep",
      SparseProduct.Names("rep1", "rep2", "dot"), weight = Some("tf"))

    // expand cross-rep verdicts through the doc sets of both reps
    val cross = scoredRep
      .join(m.select(col("rep").as("rep1"), col("doc_id").as("da")), Seq("rep1"))
      .join(m.select(col("rep").as("rep2"), col("doc_id").as("db")), Seq("rep2"))
      .select(least(col("da"), col("db")).as("doc1"),
        greatest(col("da"), col("db")).as("doc2"),
        col("dot"), col("n1"), col("n2"))
    // identical-text pairs: dot = ‖v‖² by definition, no join needed
    // (reps whose rare vector is empty have no norms row and, like the
    // naive plan, produce no pair)
    val within = m.as("x")
      .join(m.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .join(norms.select(col("rep").as("nrep"), col("nsq")),
        col("x.rep") === col("nrep"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"),
        col("nsq").as("dot"), col("nsq").as("n1"), col("nsq").as("n2"))

    cross.unionByName(within)
      .select(col("doc1"), col("doc2"), col("dot"),
        floor(col("dot") * lit(1000000.0)
          / sqrt((col("n1") * col("n2")).cast("double"))).cast("long").as("cos_q6"))
  }

  val queries: Seq[QueryDef] = Seq(

    // Source-overlap matrix: pairwise 8-gram Jaccard and containment
    // between SOURCES (strata), the redundancy report that decides
    // whether a new crawl adds information or re-scrapes what another
    // source already covers. The unit is the distinct (source, gram)
    // set — combiner-reduced immediately — and the pair join fans out
    // per gram to at most #sources·(#sources−1)/2 rows, so cost is
    // postings-bounded, never doc-quadratic. Ratios are single floored
    // IEEE divisions of exact integer counts.
    QueryDef.sql(
      "q_source_overlap",
      """WITH toks AS (
        |  SELECT source, REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT source,
        |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk) - 6),
        |      i -> ARRAY_TO_STRING(tk[i:i+7], ' '))) AS gram
        |  FROM toks WHERE LEN(tk) >= 8),
        |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY source),
        |common AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT c.src_a, c.src_b, sa.n AS n_a, sb.n AS n_b, c.n_common,
        |  CAST(FLOOR(c.n_common * CAST(1000000.0 AS DOUBLE)
        |    / (sa.n + sb.n - c.n_common)) AS BIGINT) AS jaccard_q6,
        |  CAST(FLOOR(c.n_common * CAST(1000000.0 AS DOUBLE)
        |    / LEAST(sa.n, sb.n)) AS BIGINT) AS containment_q6
        |FROM common c
        |JOIN sizes sa ON sa.source = c.src_a
        |JOIN sizes sb ON sb.source = c.src_b
        |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
      // identical texts within a source add no distinct grams — collapse
      // BEFORE tokenizing, so duplicate-heavy sources shingle each text
      // once (the rep-collapse lesson, applied pre-explode)
      val toks = Tables.documents(s, d)
        .select(col("source"), col("text")).distinct()
        .select(col("source"),
          regexp_extract_all(lower(col("text")), lit(tokSparkPat), lit(0)).as("tk"))
        .filter(size(col("tk")) >= 8)
      val g = toks.select(col("source"),
          explode(transform(sequence(lit(1), size(col("tk")) - 7),
            i => concat_ws(" ", slice(col("tk"), i, lit(8))))).as("gram"))
        .distinct()
      SparseProduct.product(g, Seq("gram"), "source",
          SparseProduct.Names("src_a", "src_b", "n_common", "n_a", "n_b"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
          floor(col("n_common") * lit(1000000.0)
            / (col("n_a") + col("n_b") - col("n_common"))).cast("long").as("jaccard_q6"),
          floor(col("n_common") * lit(1000000.0)
            / least(col("n_a"), col("n_b"))).cast("long").as("containment_q6"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // Systematic probability-proportional-to-size sampling, stratified
    // by source: k = 10 docs per stratum, selection probability ∝
    // n_chars — the size-weighted corpus subsample a pipeline draws for
    // eval/inspection. A row is chosen iff the k·cumw/W grid advances
    // across its weight span: ⌊cumw·k/W⌋ > ⌊(cumw−w)·k/W⌋ — pure int64
    // arithmetic, so the draw is reproducible, join-stable, and
    // cross-engine exact (NEVER rand()). Prefix sums run per stratum
    // (windows partitioned by source, never global), so reducer load is
    // bounded by the largest stratum, not the corpus.
    QueryDef.sql(
      "q_pps_sample",
      """WITH w AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents),
        |c AS (
        |  SELECT source, doc_id, wt,
        |    SUM(wt) OVER (PARTITION BY source ORDER BY doc_id) AS cumw,
        |    SUM(wt) OVER (PARTITION BY source) AS w_tot
        |  FROM w)
        |SELECT source, doc_id, wt, CAST(cumw AS BIGINT) AS cumw,
        |  CAST((cumw * 10) // w_tot AS BIGINT) AS sel_idx
        |FROM c
        |WHERE (cumw * 10) // w_tot > ((cumw - wt) * 10) // w_tot
        |ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("wt"))
      val c = w
        .withColumn("cumw",
          sum(col("wt")).over(Window.partitionBy(col("source")).orderBy(col("doc_id"))))
        .withColumn("w_tot", sum(col("wt")).over(Window.partitionBy(col("source"))))
      c.filter(expr("(cumw * 10) div w_tot > ((cumw - wt) * 10) div w_tot"))
        .select(col("source"), col("doc_id"), col("wt"), col("cumw"),
          expr("(cumw * 10) div w_tot").as("sel_idx"))
        .orderBy(col("source"), col("doc_id"))
    },

    // Sparse-vector cosine similarity through the inverted index — the
    // document-similarity engine of a retrieval/dedup pipeline, computed
    // the only way it scales: score pairs BY TERM through the postings
    // lists, never doc-by-doc. The term space is token 5-gram SHINGLES
    // (single words are useless here — and at scale, stop-word-like:
    // the hottest unigram of any corpus joins quadratically), and
    // vectors live in the RARE-shingle subspace (2 ≤ df ≤ 20): the df
    // cap bounds every posting self-join to df·(df−1)/2 ≤ 190 pairs per
    // shingle, df ≥ 2 drops shingles that cannot contribute to a pair.
    // Dot products are exact integer sums of tf products; cosine =
    // dot / √(n1·n2) runs as two correctly-rounded IEEE ops (sqrt,
    // divide) identical across engines, then floor-quantized. Norms are
    // over the same rare subspace, so cosine is well-defined against
    // the scored vectors.
    QueryDef.sql(
      "q_sparse_cosine_topk",
      s"""WITH $sparseCosSql
         |SELECT doc1, doc2, dot, cos_q6 FROM scored
         |ORDER BY cos_q6 DESC, doc1, doc2 LIMIT 100""".stripMargin) { (s, d) =>
      sparseCosScored(s, d)
        .orderBy(col("cos_q6").desc, col("doc1"), col("doc2"))
        .limit(100)
    },

    // The kNN-graph artifact built from the same postings-bounded pair
    // set: each document's top-3 neighbors by cosine, edges symmetrized
    // first (a pair is a candidate for BOTH endpoints) — the input a
    // graph-dedup / label-propagation / semdedup stage consumes. The
    // ranking window runs over candidate pair rows (postings-bounded),
    // never the corpus.
    QueryDef.sql(
      "q_knn_graph",
      s"""WITH $sparseCosSql,
         |sym AS (
         |  SELECT doc1 AS doc_id, doc2 AS nbr, cos_q6 FROM scored
         |  UNION ALL
         |  SELECT doc2, doc1, cos_q6 FROM scored),
         |ranked AS (
         |  SELECT doc_id, nbr, cos_q6,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY cos_q6 DESC, nbr) AS rk
         |  FROM sym)
         |SELECT doc_id, CAST(rk AS BIGINT) AS rk, nbr, cos_q6
         |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val scored = sparseCosScored(s, d)
      val sym = SparseProduct.symmetric(scored, "doc1", "doc2", "doc_id", "nbr", "cos_q6")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("cos_q6").desc, col("nbr"))
      sym.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("nbr"), col("cos_q6"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // TF-IDF top terms per document. tf = in-doc term count; idf = the
    // BM25 odds ratio (see scaladoc) quantized to q6; score = tf · idf_q6
    // (exact bigint). Ranking window runs over the PRE-AGGREGATED
    // (doc, term, score) rows — one row per distinct term per doc, never
    // the raw token stream.
    QueryDef.sql(
      "q_tfidf_top_terms",
      s"""WITH $toksSql,
         |tf AS (
         |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY doc_id, t),
         |df AS (
         |  SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.t, tf.tf, df.df,
         |    tf.tf * CAST(FLOOR((n.n_docs - df.df + 0.5) * CAST(1000000.0 AS DOUBLE) / (df.df + 0.5)) AS BIGINT)
         |      AS score
         |  FROM tf JOIN df USING (t) CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, t, tf, df, score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, t) AS rk
         |  FROM scored)
         |SELECT doc_id, CAST(rk AS BIGINT) AS rk, t, tf, df, score
         |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tf = tokRows(s, d).groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, Seq("t"))
        .crossJoin(broadcast(n)) // 1-row corpus size — never a driver action
        .select(col("doc_id"), col("t"), col("tf"), col("df"),
          (col("tf") * floor((col("n_docs") - col("df") + 0.5) * lit(1000000.0)
            / (col("df") + 0.5)).cast("long")).as("score"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("t"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("t"), col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // BM25 retrieval: score the corpus against a 3-term query and return
    // the top 20 documents — the SEARCH complement of the per-doc TF-IDF
    // view above. idf is the same odds-ratio q6; the length-normalized
    // term factor is BM25's tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
    // k1 = 6/5, b = 3/4 MULTIPLIED THROUGH by 10·sumdl into one integer
    // ratio (22·tf·sumdl·10⁶) div (10·sumdl·tf + 3·sumdl + 9·dl·n) — no
    // IEEE accumulation anywhere, so both engines agree exactly at any
    // magnitude (terms ≤ 9·10¹⁷ at 32× scale, within int64). Per-term
    // work is postings-sized (docs containing a query term), the dl/df
    // sides are broadcast aggregates — the scatter-gather shape of a
    // distributed search head.
    QueryDef.sql(
      "q_bm25_search",
      s"""WITH ${bm25TermScoresSql("t IN ('table', 'hash', 'stream')")}
         |SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score,
         |  CAST(COUNT(*) AS BIGINT) AS n_terms
         |FROM scored GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      bm25TermScores(s, d, col("t").isin("table", "hash", "stream"))
        .groupBy(col("doc_id"))
        .agg(sum(col("s")).as("score"), count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
    },

    // Inverted index: per term, document frequency plus the head of the
    // posting list (first 10 doc_ids — the truncated-postings shape an
    // impact-ordered index ships). The postings string is built from a
    // SORTED collected array, so it is deterministic despite collect
    // order. At 100 TB the collect_list is bounded by the slice: a full
    // index would instead write (t, doc_id) rows sorted within term —
    // this query is the per-term summary view of that table.
    QueryDef.sql(
      "q_inverted_index",
      s"""WITH $toksSql,
         |dt AS (SELECT DISTINCT doc_id, t FROM tok)
         |SELECT t, CAST(COUNT(*) AS BIGINT) AS df,
         |  ARRAY_TO_STRING(LIST_SORT(LIST(doc_id))[1:10], ',') AS postings_head
         |FROM dt GROUP BY t ORDER BY t""".stripMargin) { (s, d) =>
      val dt = tokRows(s, d).distinct()
      dt.groupBy(col("t"))
        .agg(count(lit(1)).as("df"),
          concat_ws(",",
            transform(slice(array_sort(collect_list(col("doc_id"))), 1, 10),
              _.cast("string"))).as("postings_head"))
        .orderBy(col("t"))
    },

    // Gopher-style repetition/quality signals: distinct-token ratio,
    // top-token share, mean token length — with the keep/drop verdict a
    // filtering pipeline ships. The exploded token stream reduces to one
    // row per (doc, token) immediately (combiner-backed), then to one row
    // per doc; no window ever sees raw tokens.
    QueryDef.sql(
      "q_quality_gopher",
      s"""WITH $tokenCountsSql,
         |sig AS (
         |  SELECT doc_id,
         |    CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |    CAST(MAX(cnt) AS BIGINT) AS top_cnt,
         |    CAST(SUM(wlen * cnt) AS BIGINT) AS sum_len
         |  FROM tc GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  CAST(FLOOR(n_distinct * CAST(1000000.0 AS DOUBLE) / n_tokens) AS BIGINT) AS distinct_ratio_q6,
         |  CAST(FLOOR(top_cnt * CAST(1000000.0 AS DOUBLE) / n_tokens) AS BIGINT) AS top_share_q6,
         |  CAST(FLOOR(sum_len * CAST(1000000.0 AS DOUBLE) / n_tokens) AS BIGINT) AS mean_wlen_q6,
         |  CAST(n_tokens >= 20
         |    AND FLOOR(n_distinct * CAST(1000000.0 AS DOUBLE) / n_tokens) >= 200000
         |    AND FLOOR(top_cnt * CAST(1000000.0 AS DOUBLE) / n_tokens) <= 200000 AS BOOLEAN) AS keep
         |FROM sig ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tc = tokRows(s, d).groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("cnt"), length(col("t")).cast("long").as("wlen"))
      val sig = tc.groupBy(col("doc_id")).agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"),
        sum(col("wlen") * col("cnt")).as("sum_len"))
      val distinctRatio = floor(col("n_distinct") * lit(1000000.0) / col("n_tokens")).cast("long")
      val topShare = floor(col("top_cnt") * lit(1000000.0) / col("n_tokens")).cast("long")
      sig.select(col("doc_id"), col("n_tokens"),
          distinctRatio.as("distinct_ratio_q6"),
          topShare.as("top_share_q6"),
          floor(col("sum_len") * lit(1000000.0) / col("n_tokens")).cast("long")
            .as("mean_wlen_q6"),
          (col("n_tokens") >= 20 && distinctRatio >= 200000 && topShare <= 200000)
            .as("keep"))
        .orderBy(col("doc_id"))
    },

    // PII scrubbing: synthesize contact strings carrying an email and a
    // phone per customer, then redact both patterns and count the hits —
    // the regex-scrub pass every shipped corpus runs. Redaction and
    // counting are single codegen'd regex ops per row.
    QueryDef.sql(
      "q_pii_redact",
      """WITH msgs AS (
        |  SELECT c_custkey,
        |    'Contact ' || c_name || ' <user' || c_custkey ||
        |    '@mail-' || (c_custkey % 7) || '.example.com> or call +1-' ||
        |    LPAD(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0') || '-' ||
        |    LPAD(CAST((c_custkey * 7) % 900 + 100 AS VARCHAR), 3, '0') || '-' ||
        |    LPAD(CAST((c_custkey * 31) % 10000 AS VARCHAR), 4, '0') ||
        |    ' re: ' || c_mktsegment AS msg
        |  FROM customer)
        |SELECT c_custkey,
        |  REGEXP_REPLACE(REGEXP_REPLACE(msg,
        |    '[A-Za-z0-9][A-Za-z0-9.#-]*@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(msg, '[A-Za-z0-9][A-Za-z0-9.#-]*@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(msg, '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones
        |FROM msgs WHERE c_custkey < 100 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val emailPat = "[A-Za-z0-9][A-Za-z0-9.#-]*@[A-Za-z0-9.-]+"
      val phonePat = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val msgs = Tables.customer(s, d).select(col("c_custkey"),
        concat(lit("Contact "), col("c_name"), lit(" <user"), col("c_custkey"),
          lit("@mail-"), pmod(col("c_custkey"), lit(7)), lit(".example.com> or call +1-"),
          lpad((pmod(col("c_custkey"), lit(900)) + 100).cast("string"), 3, "0"), lit("-"),
          lpad((pmod(col("c_custkey") * 7, lit(900)) + 100).cast("string"), 3, "0"), lit("-"),
          lpad(pmod(col("c_custkey") * 31, lit(10000)).cast("string"), 4, "0"),
          lit(" re: "), col("c_mktsegment")).as("msg"))
      msgs.filter(col("c_custkey") < 100)
        .select(col("c_custkey"),
          regexp_replace(regexp_replace(col("msg"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>").as("redacted"),
          size(regexp_extract_all(col("msg"), lit(emailPat), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("msg"), lit(phonePat), lit(0)))
            .cast("long").as("n_phones"))
        .orderBy(col("c_custkey"))
    },

    // Per-domain cap: keep the first 10 documents per source (deterministic
    // by doc_id) — the standard over-represented-domain guard. Group sizes
    // come from a combiner-backed aggregate joined back, NOT a count
    // window over the corpus.
    QueryDef.sql(
      "q_domain_cap",
      """WITH sizes AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source FROM documents GROUP BY source),
        |ranked AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk, s.n_source
        |FROM ranked r JOIN sizes s USING (source)
        |WHERE r.rk <= 10 ORDER BY r.source, r.rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val sizes = docs.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      docs.select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .join(sizes, Seq("source"))
        .select(col("doc_id"), col("source"), col("rk"), col("n_source"))
        .orderBy(col("source"), col("rk"))
    },

    // URL/domain extraction: synthesize crawl-style URLs, pull host / TLD /
    // path depth with anchored regexes (identical engines' regex syntax),
    // aggregate per TLD — the domain-distribution report behind crawl caps.
    QueryDef.sql(
      "q_url_extract",
      """WITH urls AS (
        |  SELECT p_partkey,
        |    'https://cdn' || (p_partkey % 5) || '.shop-' || LOWER(REPLACE(p_brand, '#', '')) ||
        |    (CASE p_partkey % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END) ||
        |    '/parts/' || (p_partkey % 50) || '/item' ||
        |    (CASE WHEN p_partkey % 4 = 0 THEN '?ref=feed' ELSE '' END) AS url
        |  FROM part),
        |parsed AS (
        |  SELECT p_partkey, url,
        |    REGEXP_EXTRACT(url, '^https://([^/]+)/', 1) AS host,
        |    REGEXP_EXTRACT(url, '\.([a-z]+)(/|$)', 1) AS tld,
        |    CAST(LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(url, '^https://[^/]+', ''), '[^/]', '', 'g')) AS BIGINT) AS depth,
        |    CAST(url LIKE '%?%' AS BOOLEAN) AS has_query
        |  FROM urls)
        |SELECT tld, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
        |  CAST(SUM(depth) AS BIGINT) AS sum_depth,
        |  CAST(SUM(CASE WHEN has_query THEN 1 ELSE 0 END) AS BIGINT) AS n_with_query
        |FROM parsed GROUP BY tld ORDER BY tld""".stripMargin) { (s, d) =>
      val urls = Tables.part(s, d).select(col("p_partkey"),
        concat(lit("https://cdn"), pmod(col("p_partkey"), lit(5)),
          lit(".shop-"), lower(regexp_replace(col("p_brand"), "#", "")),
          when(pmod(col("p_partkey"), lit(3)) === 0, ".com")
            .when(pmod(col("p_partkey"), lit(3)) === 1, ".org").otherwise(".net"),
          lit("/parts/"), pmod(col("p_partkey"), lit(50)), lit("/item"),
          when(pmod(col("p_partkey"), lit(4)) === 0, "?ref=feed").otherwise(""))
          .as("url"))
      val parsed = urls.select(col("p_partkey"), col("url"),
        regexp_extract(col("url"), "^https://([^/]+)/", 1).as("host"),
        regexp_extract(col("url"), "\\.([a-z]+)(/|$)", 1).as("tld"),
        length(regexp_replace(regexp_replace(col("url"), "^https://[^/]+", ""), "[^/]", ""))
          .cast("long").as("depth"),
        col("url").contains("?").as("has_query"))
      parsed.groupBy(col("tld")).agg(
          count(lit(1)).as("n_urls"),
          countDistinct(col("host")).as("n_hosts"),
          sum(col("depth")).as("sum_depth"),
          sum(when(col("has_query"), 1).otherwise(0)).as("n_with_query"))
        .orderBy(col("tld"))
    },

    // Benchmark decontamination: flag training documents sharing any token
    // 8-gram with the held-out eval split (doc_id % 50 = 0 — the
    // benchmark-set stand-in). The eval gram set is small by construction,
    // so its Bloom fingerprint prefilters the training gram stream BEFORE
    // the exact join (BloomJoin machinery): no false negatives, false
    // positives killed by the join — at 100 TB the prefilter is what makes
    // this a map-side scan of the corpus instead of a full-shuffle join.
    QueryDef.sql(
      "q_decontaminate",
      """WITH toks AS (
        |  SELECT doc_id, REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk) - 6),
        |      i -> ARRAY_TO_STRING(tk[i:i+7], ' '))) AS gram
        |  FROM toks WHERE LEN(tk) >= 8),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
        |FROM tr JOIN ev USING (gram)
        |GROUP BY tr.doc_id ORDER BY n_shared_grams DESC, tr.doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_extract_all(lower(col("text")), lit(tokSparkPat), lit(0)).as("tk"))
        .filter(size(col("tk")) >= 8)
      val g = toks.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("tk")) - 7),
          i => concat_ws(" ", slice(col("tk"), i, lit(8))))).as("gram"))
      val ev = g.filter(col("doc_id") % 50 === 0).select(col("gram")).distinct()
      val tr = g.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("gram")).distinct()
      // Bloom of the eval grams (the small side), probed per training gram
      // before any shuffle; the exact join then removes false positives
      val bloom = graft.operators.BloomJoin.bloomOf(ev, col("gram"), 100000L)
      tr.filter(graft.operators.BloomJoin.mightContain(bloom, col("gram")))
        .join(ev, Seq("gram"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_grams"))
        .orderBy(col("n_shared_grams").desc, col("doc_id"))
    },

    // N-gram novelty decay: per document, the fraction of its DISTINCT
    // token 8-grams that first occur in it (first = lowest doc_id — the
    // ingest-order stand-in). The curve of novelty against position is
    // what corpus curators watch to decide when more of a source stops
    // adding information. One combiner-backed min per gram, one
    // gram-partitioned join back, one count per doc — no pairwise
    // anything; the gram table is the same inverted-index shape the
    // decontamination op already scales by.
    QueryDef.sql(
      "q_gram_novelty",
      """WITH toks AS (
        |  SELECT doc_id, REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tk) - 6),
        |      i -> ARRAY_TO_STRING(tk[i:i+7], ' '))) AS gram
        |  FROM toks WHERE LEN(tk) >= 8),
        |first_seen AS (
        |  SELECT gram, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(FLOOR(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    * CAST(1000000.0 AS DOUBLE) / COUNT(*)) AS BIGINT) AS novelty_q6
        |FROM g JOIN first_seen f USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (s, d) =>
      // One wide shuffle, not four: per-doc gram dedup happens INSIDE the
      // array domain (array_distinct over the row's own 8-gram array), so
      // n_grams is a map-side size() with no shuffle; the only gram-keyed
      // exchange is the min-combined first_seen build (map-side partial
      // min ⇒ shuffle volume ≈ distinct grams per partition, not the full
      // posting list); and n_novel comes from first_seen ALONE (a gram is
      // novel in exactly its min doc), killing the string-keyed join-back
      // of the full gram table that dominated at 32x (42 s → the doc-keyed
      // remainder is a broadcast-size join). Semantics identical to the
      // oracle's DISTINCT + MIN + join formulation.
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_extract_all(lower(col("text")), lit(tokSparkPat), lit(0)).as("tk"))
        .filter(size(col("tk")) >= 8)
      // persisted because two branches read it (n_grams map-side, the
      // exploded first_seen build) and the gram-string construction is the
      // CPU hog — without the cache Catalyst evaluates the subtree once
      // per branch (measured 2.6x slower than the old distinct()-reuse
      // plan at sf0.1). Released by the runner's clearCache (QueryDef
      // runner contract). At 100 TB this is the materialize-the-inverted-
      // index-once pattern of the shared gram tables.
      val docGrams = toks.select(col("doc_id"),
        array_distinct(transform(sequence(lit(1), size(col("tk")) - 7),
          i => concat_ws(" ", slice(col("tk"), i, lit(8))))).as("garr"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nGrams = docGrams.select(col("doc_id"),
        size(col("garr")).cast("long").as("n_grams"))
      val firstSeen = docGrams
        .select(col("doc_id"), explode(col("garr")).as("gram"))
        .groupBy(col("gram"))
        .agg(min(col("doc_id")).cast("long").as("first_doc"))
      val novelCounts = firstSeen.groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("nv"))
      nGrams.join(novelCounts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("nv"), lit(0L)).as("n_novel"),
          floor(coalesce(col("nv"), lit(0L)) * lit(1000000.0) / col("n_grams"))
            .cast("long").as("novelty_q6"))
        .orderBy(col("doc_id"))
    },

    // Source-mixture sampling: per-source keep rates (‰, derived from the
    // source id) applied via the Knuth multiplicative hash of doc_id —
    // NEVER rand(): resampling a 100 TB corpus must be reproducible and
    // join-stable. Reports achieved vs target rate per source.
    QueryDef.sql(
      "q_source_mixture",
      """WITH rated AS (
        |  SELECT doc_id, source,
        |    200 + (CAST(SUBSTR(source, 4) AS BIGINT) * 137) % 700 AS rate,
        |    (doc_id * 2654435761) % 1000 AS h
        |  FROM documents)
        |SELECT source, CAST(MAX(rate) AS BIGINT) AS target_permille,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(FLOOR(SUM(CASE WHEN h < rate THEN 1 ELSE 0 END) * CAST(1000000.0 AS DOUBLE) / COUNT(*)) AS BIGINT)
        |    AS kept_ratio_q6
        |FROM rated GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val rated = Tables.documents(s, d).select(col("doc_id"), col("source"),
        (lit(200) + pmod(substring(col("source"), 4, 10).cast("long") * 137, lit(700)))
          .as("rate"),
        pmod(col("doc_id") * 2654435761L, lit(1000)).as("h"))
      val kept = sum(when(col("h") < col("rate"), 1).otherwise(0))
      rated.groupBy(col("source")).agg(
          max(col("rate")).cast("long").as("target_permille"),
          count(lit(1)).as("n_docs"),
          kept.cast("long").as("n_kept"),
          floor(kept * lit(1000000.0) / count(lit(1))).cast("long").as("kept_ratio_q6"))
        .orderBy(col("source"))
    },

    // Temperature-scaled mixture sampling (the multilingual p_i ∝ c_i^α
    // rule, α = 0.5): low-resource sources are UP-weighted relative to
    // their raw share, high-resource ones down-weighted, within a fixed
    // post-sampling budget B = ⌊total/2⌋. Integer-exact cross-engine:
    // w_i = ⌊√c_i·10⁶⌋ (IEEE sqrt is correctly rounded, floor pins it),
    // rate_i‰ = min(999, ⌊(w_i·B·1000) / (Σw·c_i)⌋) — the numerator stays
    // in exact 64-bit integers, the one division is double with both
    // operands exact below 2⁵³ — and the keep decision reuses the Knuth
    // multiplicative doc hash (NEVER rand(): resampling must be
    // reproducible and join-stable). Only the per-source count table
    // (#sources rows) is broadcast; the corpus is touched by one
    // combiner-backed groupBy and one broadcast-join pass.
    QueryDef.sql(
      "q_mixture_temperature",
      """WITH c AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_docs,
        |    CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS wt
        |  FROM c),
        |tot AS (
        |  SELECT CAST(SUM(wt) AS BIGINT) AS s_wt,
        |    CAST(FLOOR(SUM(n_docs) / 2) AS BIGINT) AS budget
        |  FROM w),
        |rates AS (
        |  SELECT source, n_docs, wt,
        |    CAST(FLOOR(wt * CAST(1000000.0 AS DOUBLE) / s_wt) AS BIGINT) AS share_q6,
        |    LEAST(999, CAST(FLOOR((wt * budget * 1000)
        |      / (CAST(s_wt AS DOUBLE) * n_docs)) AS BIGINT)) AS rate_permille
        |  FROM w CROSS JOIN tot)
        |SELECT r.source, r.n_docs, r.wt, r.share_q6, r.rate_permille,
        |  CAST(SUM(CASE WHEN (d.doc_id * 2654435761) % 1000 < r.rate_permille
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN rates r USING (source)
        |GROUP BY r.source, r.n_docs, r.wt, r.share_q6, r.rate_permille
        |ORDER BY r.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("wt",
          floor(sqrt(col("n_docs").cast("double")) * 1000000).cast("long"))
      val tot = counts.agg(sum(col("wt")).as("s_wt"),
        floor(sum(col("n_docs")) / 2).cast("long").as("budget"))
      val rates = counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("wt"),
          floor(col("wt") * lit(1000000.0) / col("s_wt")).cast("long").as("share_q6"),
          least(lit(999), floor((col("wt") * col("budget") * 1000)
            / (col("s_wt").cast("double") * col("n_docs"))).cast("long"))
            .as("rate_permille"))
      docs.select(col("doc_id"), col("source"))
        .join(broadcast(rates), Seq("source"))
        .groupBy(col("source"), col("n_docs"), col("wt"), col("share_q6"),
          col("rate_permille"))
        .agg(sum(when(pmod(col("doc_id") * 2654435761L, lit(1000))
            < col("rate_permille"), 1).otherwise(0)).cast("long").as("n_kept"))
        .orderBy(col("source"))
    },

    // End-to-end corpus curation gate — the COMPOSITION the individual
    // operators exist for: per source, how many docs survive language-ID
    // (en), Gopher-style quality, and exact-dedup keeper selection, and
    // the final retained share. Each stage is the exact same logic its
    // standalone query oracles (q_text_langid / q_quality_gopher /
    // q_dedup_keep), joined per doc on the compact id — proving the
    // operators COMPOSE, not just run alone.
    QueryDef.sql(
      "q_corpus_gate",
      s"""WITH $tokenCountsSql,
         |sig AS (
         |  SELECT doc_id,
         |    CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |    CAST(MAX(cnt) AS BIGINT) AS top_cnt
         |  FROM tc GROUP BY doc_id),
         |q AS (
         |  SELECT doc_id,
         |    CASE WHEN n_tokens >= 20
         |      AND FLOOR(n_distinct * CAST(1000000.0 AS DOUBLE) / n_tokens) >= 200000
         |      AND FLOOR(top_cnt * CAST(1000000.0 AS DOUBLE) / n_tokens) <= 200000
         |    THEN 1 ELSE 0 END AS is_q
         |  FROM sig),
         |lx AS (
         |${Eval.scoresSql("doc_id")}),
         |ln AS (
         |  SELECT doc_id, CASE WHEN s_en + s_de + s_fr + s_es > 0
         |    AND s_en >= GREATEST(s_de, s_fr, s_es) THEN 1 ELSE 0 END AS is_en
         |  FROM lx),
         |kp AS (
         |  SELECT LOWER(SUBSTR(text, 1, 40)) AS nk, MIN(doc_id) AS kid
         |  FROM documents GROUP BY LOWER(SUBSTR(text, 1, 40))),
         |f AS (
         |  SELECT d.source, ln.is_en, COALESCE(q.is_q, 0) AS is_q,
         |    CASE WHEN kp.kid = d.doc_id THEN 1 ELSE 0 END AS is_k
         |  FROM documents d
         |  JOIN ln ON ln.doc_id = d.doc_id
         |  LEFT JOIN q ON q.doc_id = d.doc_id
         |  JOIN kp ON kp.nk = LOWER(SUBSTR(d.text, 1, 40)))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(is_en) AS BIGINT) AS n_en,
         |  CAST(SUM(is_q) AS BIGINT) AS n_quality,
         |  CAST(SUM(is_k) AS BIGINT) AS n_keeper,
         |  CAST(SUM(is_en * is_q * is_k) AS BIGINT) AS n_final,
         |  CAST((SUM(is_en * is_q * is_k) * 1000000) // COUNT(*) AS BIGINT)
         |    AS final_share_q6
         |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sig = tokRows(s, d).groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("n_distinct"),
          max(col("cnt")).as("top_cnt"))
      val isQ = sig.select(col("doc_id"),
        when(col("n_tokens") >= 20
          && floor(col("n_distinct") * lit(1000000.0) / col("n_tokens")) >= 200000
          && floor(col("top_cnt") * lit(1000000.0) / col("n_tokens")) <= 200000,
          1L).otherwise(0L).as("is_q"))
      val lang = Eval.scored(docs, Seq("doc_id"))
        .select(col("doc_id"),
          when(col("s_en") + col("s_de") + col("s_fr") + col("s_es") > 0
            && col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")),
            1L).otherwise(0L).as("is_en"))
      val keepers = docs
        .groupBy(lower(substring(col("text"), 1, 40)).as("nk"))
        .agg(min(col("doc_id")).as("kid"))
      docs.select(col("doc_id"), col("source"),
          lower(substring(col("text"), 1, 40)).as("nk"))
        .join(lang, Seq("doc_id"))
        .join(isQ, Seq("doc_id"), "left")
        .join(keepers, Seq("nk"))
        .select(col("source"), col("is_en"),
          coalesce(col("is_q"), lit(0L)).as("is_q"),
          when(col("kid") === col("doc_id"), 1L).otherwise(0L).as("is_k"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("is_en")).as("n_en"),
          sum(col("is_q")).as("n_quality"), sum(col("is_k")).as("n_keeper"),
          sum(col("is_en") * col("is_q") * col("is_k")).as("n_final"),
          expr("(sum(is_en * is_q * is_k) * 1000000) div count(*)")
            .as("final_share_q6"))
        .orderBy(col("source"))
    }
  )
}
