package graft.pipeline

import graft.{QueryDef, QueryScope, Tables}
import org.apache.spark.sql.functions._

/** Tokenizer-induction and string-distance operators of the corpus family:
  * BPE pair statistics and the iterative merge-training loop, the shared
  * WordPiece machinery (vocabulary build + greedy longest-match walk) with
  * its apply/fertility queries, and the edit-distance / Jaro-Winkler
  * record-linkage scorers. Split from Corpus.scala along its comment-group
  * seam (byte-identical query moves); the shared word tokenizer stays in
  * [[Corpus]] and is imported below so the two families can never drift.
  *
  * Scale posture matches the parent file: per-round BPE state is persisted
  * (bounded lineage), every window partitions by doc_id, and the only
  * global steps are 1-row argmax broadcasts.
  */
object CorpusTokenizers {
  import Corpus.{tokSparkPat, tokRows}

  /** One BPE training round over (doc_id, i, t) token rows: global argmax
    * pair (ties to the lexicographically smallest), greedy left-to-right
    * non-overlapping apply, returning (stat row, merged tokens). The
    * greedy apply is pure window algebra — overlapping candidate
    * boundaries force equal tokens, so each island of consecutive
    * matching boundaries merges exactly its even offsets (CorpusSpec
    * fuzz-proves ≡ the sequential greedy scan). Positions stay
    * monotonic-not-dense. Public so the spec can drive single rounds. */
  def bpeMergeRound(r: Int, toks: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    // pairs feeds best AND applied — persist or the lineage (hence plan
    // size + recompute) multiplies ~4× per round, the 2^rounds blowup
    // q_hits hit
    val pairs = QueryScope.persisted(toks
      .withColumn("nt", lead(col("t"), 1).over(w))
      .withColumn("rn", row_number().over(w)))
    val best = pairs.filter(col("nt").isNotNull)
      .groupBy(col("t"), col("nt")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t"), col("nt")).limit(1)
      .select(col("t").as("bt"), col("nt").as("bnt"), col("n").as("bn"))
    // offset-within-island computed join-free as
    // rn − (running max rn of the last NON-match) − 1
    // applied feeds BOTH the n_tokens_after count and the next round's
    // windows — unpersisted, the 3-window apply pass ran twice per round
    // (r15; freed by the runner's QueryScope)
    val applied = QueryScope.persisted(pairs
      .crossJoin(broadcast(best))
      .withColumn("isM",
        (col("nt").isNotNull && col("t") === col("bt") && col("nt") === col("bnt")).cast("int"))
      .withColumn("lnm",
        max(when(col("isM") === 0, col("rn"))).over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("mrg",
        when(col("isM") === 1 &&
          (col("rn") - coalesce(col("lnm"), lit(0L)) - 1) % 2 === 0, 1).otherwise(0))
      .withColumn("pm", lag(col("mrg"), 1, 0).over(w))
      .filter(col("pm") === 0)
      .select(col("doc_id"), col("i"),
        when(col("mrg") === 1, concat(col("t"), col("nt"))).otherwise(col("t")).as("t")))
    val stat = best
      .crossJoin(broadcast(applied.agg(count(lit(1)).as("n_tokens_after"))))
      .select(lit(r.toLong).as("round"), col("bt").as("lhs"), col("bnt").as("rhs"),
        col("bn").as("n_pair"), col("n_tokens_after"))
    (stat, applied)
  }


  /** Shared WordPiece machinery SQL (vocabulary build + longest-match
    * greedy walk) — used by both q_wordpiece_apply and
    * q_wordpiece_fertility so the two oracles can never drift. */
  private val wpWalkSql =
    """tok AS (
      |  SELECT UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |wf AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok
      |  WHERE LENGTH(w) <= 20 GROUP BY w),
      |thr AS (SELECT GREATEST(20, CAST(SUM(c) AS BIGINT) // 5000) AS t FROM wf),
      |vw AS (SELECT w AS e FROM wf CROSS JOIN thr
      |       WHERE c >= thr.t AND LENGTH(w) <= 10),
      |vc AS (
      |  SELECT DISTINCT SUBSTR(w, CAST(i AS INTEGER), 1) AS e
      |  FROM wf, UNNEST(RANGE(1, LENGTH(w) + 1)) AS u(i)),
      |vocab AS (SELECT DISTINCT e FROM
      |  (SELECT e FROM vw UNION ALL SELECT e FROM vc)),
      |cand AS (
      |  SELECT f.w, CAST(p.i AS BIGINT) AS pos, CAST(l.j AS BIGINT) AS L,
      |    SUBSTR(f.w, CAST(p.i AS INTEGER), CAST(l.j AS INTEGER)) AS sub
      |  FROM wf f
      |  CROSS JOIN UNNEST(RANGE(1, 21)) AS p(i)
      |  CROSS JOIN UNNEST(RANGE(1, 11)) AS l(j)
      |  WHERE CAST(p.i AS BIGINT) + CAST(l.j AS BIGINT) - 1 <= LENGTH(f.w)),
      |best AS (
      |  SELECT c.w, c.pos, CAST(MAX(c.L) AS BIGINT) AS L
      |  FROM cand c JOIN vocab v ON v.e = c.sub
      |  GROUP BY c.w, c.pos),
      |walk(w, pos, piece) AS (
      |  SELECT b.w, 1 + b.L, SUBSTR(b.w, 1, CAST(b.L AS INTEGER))
      |  FROM best b WHERE b.pos = 1
      |  UNION ALL
      |  SELECT t.w, t.pos + b.L,
      |    SUBSTR(t.w, CAST(t.pos AS INTEGER), CAST(b.L AS INTEGER))
      |  FROM walk t JOIN best b ON b.w = t.w AND b.pos = t.pos),
      |pm AS (SELECT w, piece, CAST(COUNT(*) AS BIGINT) AS mult
      |       FROM walk GROUP BY w, piece)""".stripMargin

  /** Engine side of the shared WordPiece machinery: returns
    * (wf: (w, c) word frequencies, pm: (w, piece, mult) segmentation). */
  private def wordPieceTables(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val wf = QueryScope.persisted(tokRows(s, d)
      .filter(length(col("t")) <= 20)
      .groupBy(col("t").as("w")).agg(count(lit(1)).as("c")))
    val thr = wf.agg(greatest(lit(20L), expr("sum(c) div 5000")).as("thr"))
    val vw = wf.crossJoin(broadcast(thr))
      .filter(col("c") >= col("thr") && length(col("w")) <= 10)
      .select(col("w").as("sub"))
    val vc = wf
      .select(col("w"), explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(expr("substring(w, i, 1)").as("sub"))
    val vocab = vw.unionAll(vc).distinct()
    val cand = wf.select(col("w"))
      .select(col("w"), explode(sequence(lit(1), length(col("w")))).as("pos"))
      .select(col("w"), col("pos"),
        explode(sequence(lit(1),
          least(lit(10), length(col("w")) - col("pos") + 1))).as("L"))
      .select(col("w"), col("pos").cast("long").as("pos"),
        col("L").cast("long").as("L"), expr("substring(w, pos, L)").as("sub"))
    val best = QueryScope.persisted(cand.join(vocab, Seq("sub"))
      .groupBy(col("w"), col("pos")).agg(max(col("L")).as("L")))
    // greedy chain: bounded rounds over the vocabulary-sized word set,
    // each round eagerly materialized (the kCore census lesson).
    // (r15 negative result: replacing checkpoint+isEmpty with
    // persist+count — one action per round instead of two — measured
    // ~0.5 s SLOWER per wordpiece query; the checkpoint's plan
    // truncation beats the saved job.)
    var cur = QueryScope.checkpointed(best.filter(col("pos") === 1)
      .select(col("w"), (lit(1L) + col("L")).as("npos"),
        expr("substring(w, 1, L)").as("piece")))
    val acc = scala.collection.mutable.ListBuffer(
      cur.select(col("w"), col("piece")))
    var round = 1
    while (round < 20 && !cur.isEmpty) {
      cur = QueryScope.checkpointed(cur.select(col("w"), col("npos").as("pos"))
        .join(best, Seq("w", "pos"))
        .select(col("w"), (col("pos") + col("L")).as("npos"),
          expr("substring(w, pos, L)").as("piece")))
      acc += cur.select(col("w"), col("piece"))
      round += 1
    }
    val pm = acc.reduce(_ unionAll _)
      .groupBy(col("w"), col("piece")).agg(count(lit(1)).as("mult"))
    (wf, pm)
  }


  val queries: Seq[QueryDef] = Seq(


    // Tokenizer induction, round 0: adjacent character-pair frequencies
    // over the normalized prefix — the statistic the first BPE merge
    // maximizes. Multiset counts (not per-doc distinct), top 25.
    QueryDef.sql(
      "q_bpe_pairs",
      """WITH t AS (
        |  SELECT doc_id, LOWER(SUBSTR(text, 1, 200)) AS p FROM documents
        |  WHERE LENGTH(LOWER(SUBSTR(text, 1, 200))) >= 2),
        |pairs AS (
        |  SELECT SUBSTR(p, CAST(i AS INTEGER), 2) AS pair
        |  FROM t, UNNEST(RANGE(1, LENGTH(p))) AS u(i))
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 25""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), lower(substring(col("text"), 1, 200)).as("p"))
        .filter(length(col("p")) >= 2)
      t.select(explode(sequence(lit(1), length(col("p")) - 1)).as("i"), col("p"))
        .select(substring(col("p"), col("i"), lit(2)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(25)
    },

    // Tokenizer induction, rounds 1..3: the actual BPE merge loop on top
    // of the q_bpe_pairs statistic — per round, count adjacent token
    // pairs, take the global argmax (ties to the lexicographically
    // smallest pair), APPLY the merge left-to-right non-overlapping, and
    // recount. The greedy apply looks sequential but is not: overlapping
    // candidate boundaries require equal tokens ((a,b) then (b,c) both
    // matching forces a = b), so within each ISLAND of consecutive
    // matching boundaries the greedy scan merges exactly the even
    // offsets — a gaps-and-islands window computation, identical on both
    // engines, never a per-row fold. Every window partitions by doc_id;
    // the only global step is the top-1 pair (TakeOrdered + 1-row
    // broadcast). Emits per round: merged pair, its count at selection
    // time, and the surviving token count.
    QueryDef.sql(
      "q_bpe_merges",
      """WITH t0 AS (
        |  SELECT doc_id, LOWER(SUBSTR(text, 1, 100)) AS p FROM documents
        |  WHERE LENGTH(LOWER(SUBSTR(text, 1, 100))) >= 2),
        |tok1 AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    SUBSTR(p, CAST(i AS INTEGER), 1) AS t
        |  FROM t0, UNNEST(RANGE(1, LENGTH(p) + 1)) AS u(i)),
        |pairs1 AS (
        |  SELECT doc_id, i, t,
        |    LEAD(t) OVER (PARTITION BY doc_id ORDER BY i) AS nt,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS rn
        |  FROM tok1),
        |cnt1 AS (
        |  SELECT t, nt, COUNT(*) AS n FROM pairs1
        |  WHERE nt IS NOT NULL GROUP BY t, nt),
        |best1 AS (
        |  SELECT t AS bt, nt AS bnt, n AS bn FROM cnt1
        |  ORDER BY n DESC, t, nt LIMIT 1),
        |match1 AS (
        |  SELECT p.doc_id, p.i, p.rn,
        |    p.rn - ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY p.rn) AS grp
        |  FROM pairs1 p, best1 b
        |  WHERE p.nt IS NOT NULL AND p.t = b.bt AND p.nt = b.bnt),
        |merge1 AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY i) - 1 AS off
        |    FROM match1) q WHERE off % 2 = 0),
        |app1 AS (
        |  SELECT doc_id, i, t FROM (
        |    SELECT p.doc_id, p.i,
        |      CASE WHEN m.i IS NOT NULL THEN p.t || p.nt ELSE p.t END AS t,
        |      LAG(CASE WHEN m.i IS NOT NULL THEN 1 ELSE 0 END, 1, 0)
        |        OVER (PARTITION BY p.doc_id ORDER BY p.i) AS pm
        |    FROM pairs1 p LEFT JOIN merge1 m
        |      ON m.doc_id = p.doc_id AND m.i = p.i) q
        |  WHERE pm = 0),
        |tok2 AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS i, t
        |  FROM app1),
        |pairs2 AS (
        |  SELECT doc_id, i, t,
        |    LEAD(t) OVER (PARTITION BY doc_id ORDER BY i) AS nt,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS rn
        |  FROM tok2),
        |cnt2 AS (
        |  SELECT t, nt, COUNT(*) AS n FROM pairs2
        |  WHERE nt IS NOT NULL GROUP BY t, nt),
        |best2 AS (
        |  SELECT t AS bt, nt AS bnt, n AS bn FROM cnt2
        |  ORDER BY n DESC, t, nt LIMIT 1),
        |match2 AS (
        |  SELECT p.doc_id, p.i, p.rn,
        |    p.rn - ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY p.rn) AS grp
        |  FROM pairs2 p, best2 b
        |  WHERE p.nt IS NOT NULL AND p.t = b.bt AND p.nt = b.bnt),
        |merge2 AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY i) - 1 AS off
        |    FROM match2) q WHERE off % 2 = 0),
        |app2 AS (
        |  SELECT doc_id, i, t FROM (
        |    SELECT p.doc_id, p.i,
        |      CASE WHEN m.i IS NOT NULL THEN p.t || p.nt ELSE p.t END AS t,
        |      LAG(CASE WHEN m.i IS NOT NULL THEN 1 ELSE 0 END, 1, 0)
        |        OVER (PARTITION BY p.doc_id ORDER BY p.i) AS pm
        |    FROM pairs2 p LEFT JOIN merge2 m
        |      ON m.doc_id = p.doc_id AND m.i = p.i) q
        |  WHERE pm = 0),
        |tok3 AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS i, t
        |  FROM app2),
        |pairs3 AS (
        |  SELECT doc_id, i, t,
        |    LEAD(t) OVER (PARTITION BY doc_id ORDER BY i) AS nt,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS rn
        |  FROM tok3),
        |cnt3 AS (
        |  SELECT t, nt, COUNT(*) AS n FROM pairs3
        |  WHERE nt IS NOT NULL GROUP BY t, nt),
        |best3 AS (
        |  SELECT t AS bt, nt AS bnt, n AS bn FROM cnt3
        |  ORDER BY n DESC, t, nt LIMIT 1),
        |match3 AS (
        |  SELECT p.doc_id, p.i, p.rn,
        |    p.rn - ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY p.rn) AS grp
        |  FROM pairs3 p, best3 b
        |  WHERE p.nt IS NOT NULL AND p.t = b.bt AND p.nt = b.bnt),
        |merge3 AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY i) - 1 AS off
        |    FROM match3) q WHERE off % 2 = 0),
        |app3 AS (
        |  SELECT doc_id, i, t FROM (
        |    SELECT p.doc_id, p.i,
        |      CASE WHEN m.i IS NOT NULL THEN p.t || p.nt ELSE p.t END AS t,
        |      LAG(CASE WHEN m.i IS NOT NULL THEN 1 ELSE 0 END, 1, 0)
        |        OVER (PARTITION BY p.doc_id ORDER BY p.i) AS pm
        |    FROM pairs3 p LEFT JOIN merge3 m
        |      ON m.doc_id = p.doc_id AND m.i = p.i) q
        |  WHERE pm = 0),
        |tok4 AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS i, t
        |  FROM app3)
        |SELECT CAST(1 AS BIGINT) AS round, bt AS lhs, bnt AS rhs,
        |  CAST(bn AS BIGINT) AS n_pair,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM tok2) AS n_tokens_after
        |FROM best1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), bt, bnt, CAST(bn AS BIGINT),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM tok3) FROM best2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), bt, bnt, CAST(bn AS BIGINT),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM tok4) FROM best3
        |ORDER BY round""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), lower(substring(col("text"), 1, 100)).as("p"))
        .filter(length(col("p")) >= 2)
      val tok0 = docs
        .select(col("doc_id"), explode(sequence(lit(1L), length(col("p")).cast("long"))).as("i"), col("p"))
        .select(col("doc_id"), col("i"), col("p").substr(col("i").cast("int"), lit(1)).as("t"))
      val (s1, t1) = bpeMergeRound(1, tok0)
      val (s2, t2) = bpeMergeRound(2, t1)
      val (s3, _) = bpeMergeRound(3, t2)
      s1.unionByName(s2).unionByName(s3).orderBy(col("round"))
    },

    // Edit-distance near-dup signal: candidates bucket on the first 8
    // normalized chars (an equality join — never all-pairs; a typo in the
    // head escapes this blocker, which is why it runs alongside the
    // MinHash family, not instead of it), then exact Levenshtein over the
    // 40-char prefixes scores each candidate pair. Both engines ship the
    // same classic DP levenshtein.
    //
    // Scale shape (learned from the 32× rehearsal, where a single task
    // burned 15+ min in levenshteinDistance): the DP runs per DISTINCT
    // string pair, never per doc pair. Duplicate-heavy corpora make doc
    // blocks quadratically larger while adding no new strings — at 32×,
    // 33.2M doc pairs collapse to 25.5k distinct-string pairs (1300×).
    // Identical-prefix doc pairs are emitted as distance 0 directly (no
    // DP), different-string verdicts are joined back to their doc sets,
    // and TakeOrdered keeps the top 200 without a global sort. The oracle
    // keeps the naive per-doc-pair SQL — same result through a different
    // computation is exactly what the differential should pin.
    QueryDef.sql(
      "q_edit_distance",
      """WITH np AS (
        |  SELECT doc_id, LOWER(SUBSTR(text, 1, 40)) AS p40,
        |    LOWER(SUBSTR(text, 1, 8)) AS b8
        |  FROM documents),
        |cand AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.p40 AS p1, b.p40 AS p2
        |  FROM np a JOIN np b ON a.b8 = b.b8 AND a.doc_id < b.doc_id)
        |SELECT doc1, doc2,
        |  CAST(LEVENSHTEIN(p1, p2) AS BIGINT) AS edit_dist
        |FROM cand WHERE LEVENSHTEIN(p1, p2) <= 10
        |ORDER BY edit_dist, doc1, doc2 LIMIT 200""".stripMargin) { (s, d) =>
      val np = Tables.documents(s, d).select(col("doc_id"),
        lower(substring(col("text"), 1, 40)).as("p40"),
        lower(substring(col("text"), 1, 8)).as("b8"))
      // identical prefixes: distance 0 by definition — a (b8, p40)-keyed
      // self-join, no DP; duplicate-heavy groups only generate rows here
      val zero = np.as("a")
        .join(np.as("b"), col("a.b8") === col("b.b8")
          && col("a.p40") === col("b.p40") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
          lit(0L).as("edit_dist"))
      // the DP runs once per distinct ORDERED string pair within a block
      val strs = np.select(col("b8"), col("p40")).distinct()
      val verdicts = strs.as("x")
        .join(strs.as("y"), col("x.b8") === col("y.b8") && col("x.p40") < col("y.p40"))
        .select(col("x.b8").as("b8"), col("x.p40").as("pa"), col("y.p40").as("pb"),
          levenshtein(col("x.p40"), col("y.p40")).cast("long").as("edit_dist"))
        .filter(col("edit_dist") <= 10)
      // expand surviving string pairs back to their doc sets; least/greatest
      // restores the doc1 < doc2 orientation the naive join emits
      val diff = verdicts
        .join(np.select(col("b8"), col("p40").as("pa"), col("doc_id").as("da")),
          Seq("b8", "pa"))
        .join(np.select(col("b8"), col("p40").as("pb"), col("doc_id").as("db")),
          Seq("b8", "pb"))
        .select(least(col("da"), col("db")).as("doc1"),
          greatest(col("da"), col("db")).as("doc2"), col("edit_dist"))
      zero.unionByName(diff)
        .orderBy(col("edit_dist"), col("doc1"), col("doc2"))
        .limit(200)
    },

    // Fuzzy name matching (entity resolution): brand-blocked part-name
    // pairs scored with the native codegen'd Jaro-Winkler expression
    // (functions/JaroWinkler.scala — semantics byte-pinned to the
    // oracle's scorer), threshold 0.9. Same scale shape as
    // q_edit_distance: the scorer runs once per DISTINCT ordered name
    // pair within a block (identical names are 1.0 by definition and
    // never enter the join), verdicts expand back through the name→key
    // map, and TakeOrdered keeps the top 200 without a global sort.
    // The oracle keeps the naive per-row-pair SQL.
    QueryDef.sql(
      "q_jaro_names",
      """WITH nm AS (
        |  SELECT p_partkey AS pk, p_brand AS brand, LOWER(p_name) AS nm
        |  FROM part)
        |SELECT a.pk AS p1, b.pk AS p2,
        |  CAST(FLOOR(JARO_WINKLER_SIMILARITY(a.nm, b.nm) * 1000000) AS BIGINT)
        |    AS jw_q6
        |FROM nm a JOIN nm b ON a.brand = b.brand AND a.pk < b.pk
        |WHERE FLOOR(JARO_WINKLER_SIMILARITY(a.nm, b.nm) * 1000000) >= 900000
        |ORDER BY jw_q6 DESC, p1, p2 LIMIT 200""".stripMargin) { (s, d) =>
      import graft.functions.JaroWinkler.jaroWinkler
      val nm = Tables.part(s, d).select(col("p_partkey").as("pk"),
        col("p_brand").as("brand"), lower(col("p_name")).as("nm"))
      // identical names: similarity 1.0 by definition — no scorer call
      val ones = nm.as("a")
        .join(nm.as("b"), col("a.brand") === col("b.brand") &&
          col("a.nm") === col("b.nm") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("p1"), col("b.pk").as("p2"),
          lit(1000000L).as("jw_q6"))
      // scorer runs once per distinct ordered name pair per block
      val reps = nm.select(col("brand"), col("nm")).distinct()
      val verdicts = reps.as("x")
        .join(reps.as("y"),
          col("x.brand") === col("y.brand") && col("x.nm") < col("y.nm"))
        .select(col("x.brand").as("brand"), col("x.nm").as("nm1"),
          col("y.nm").as("nm2"),
          floor(jaroWinkler(col("x.nm"), col("y.nm")) * 1000000)
            .cast("long").as("jw_q6"))
        .filter(col("jw_q6") >= 900000)
      val diff = verdicts
        .join(nm.select(col("brand"), col("nm").as("nm1"), col("pk").as("pka")),
          Seq("brand", "nm1"))
        .join(nm.select(col("brand"), col("nm").as("nm2"), col("pk").as("pkb")),
          Seq("brand", "nm2"))
        .select(least(col("pka"), col("pkb")).as("p1"),
          greatest(col("pka"), col("pkb")).as("p2"), col("jw_q6"))
      ones.unionByName(diff)
        .orderBy(col("jw_q6").desc, col("p1"), col("p2"))
        .limit(200)
    },

    // WordPiece-style tokenizer APPLY (the greedy longest-match
    // counterpart to the BPE trainer): vocab = frequent whole words
    // (corpus-scaling threshold, length ≤ 10) ∪ every single character,
    // each DISTINCT word segmented by repeated longest-vocab-prefix
    // match, subword stats weighted back by word frequency. The greedy
    // walk is precomputed as a (word, pos) → longest-match table via one
    // EQUI join of enumerated substrings against the vocab (never a
    // theta join), then chained: the engine iterates ≤20 bounded rounds
    // over the VOCABULARY-sized word table (segmentation cost scales
    // with the dictionary, not the corpus), the oracle replays the same
    // chain as a recursive CTE over the same best table. Single chars
    // guarantee progress, so the walk always terminates.
    QueryDef.sql(
      "q_wordpiece_apply",
      s"""WITH RECURSIVE $wpWalkSql,
         |st AS (
         |  SELECT pm.piece AS subword, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(SUM(pm.mult * wf.c) AS BIGINT) AS total_count
         |  FROM pm JOIN wf ON wf.w = pm.w GROUP BY pm.piece)
         |SELECT subword, n_words, total_count
         |FROM st ORDER BY total_count DESC, subword LIMIT 100""".stripMargin) { (s, d) =>
      val (wf, pm) = wordPieceTables(s, d)
      pm.join(wf, Seq("w"))
        .groupBy(col("piece").as("subword"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("mult") * col("c")).as("total_count"))
        .orderBy(col("total_count").desc, col("subword"))
        .limit(100)
    },

    // Tokenizer fertility — pieces emitted per word, the standard
    // tokenizer-quality readout (fertility near 1 = the vocabulary fits
    // the corpus; high fertility = words shatter): per source, total
    // WordPiece pieces over total words, from the SAME shared
    // segmentation machinery as q_wordpiece_apply (one implementation,
    // two readouts). Per-word piece counts are vocabulary-sized; the
    // fact-scale work is the per-(source, word) count.
    QueryDef.sql(
      "q_wordpiece_fertility",
      s"""WITH RECURSIVE $wpWalkSql,
         |np AS (
         |  SELECT w, CAST(SUM(mult) AS BIGINT) AS n_pieces
         |  FROM pm GROUP BY w),
         |stok AS (
         |  SELECT source, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS w
         |  FROM documents),
         |sw AS (
         |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM stok WHERE LENGTH(w) <= 20 GROUP BY source, w)
         |SELECT sw.source, CAST(SUM(sw.c) AS BIGINT) AS n_words,
         |  CAST(SUM(sw.c * np.n_pieces) AS BIGINT) AS n_pieces,
         |  CAST((SUM(sw.c * np.n_pieces) * 1000000) // SUM(sw.c) AS BIGINT)
         |    AS fertility_q6
         |FROM sw JOIN np ON np.w = sw.w
         |GROUP BY sw.source ORDER BY sw.source""".stripMargin) { (s, d) =>
      val (_, pm) = wordPieceTables(s, d)
      val np = pm.groupBy(col("w")).agg(sum(col("mult")).as("n_pieces"))
      val sw = Tables.documents(s, d)
        .select(col("source"),
          explode(regexp_extract_all(lower(col("text")), lit(tokSparkPat), lit(0)))
            .as("w"))
        .filter(length(col("w")) <= 20)
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      sw.join(np, Seq("w"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_words"),
          sum(col("c") * col("n_pieces")).as("n_pieces"),
          expr("(sum(c * n_pieces) * 1000000) div sum(c)").as("fertility_q6"))
        .orderBy(col("source"))
    },
  )
}
