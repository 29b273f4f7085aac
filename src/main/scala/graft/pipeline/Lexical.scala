package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical statistics for corpus curation: PMI collocations, within-doc
  * repetition (the Gopher "repeated n-gram fraction" signal family), and
  * vocabulary coverage against a frequency-ranked token list.
  *
  * Shares the Corpus tokenizer (`[a-z0-9]+` over lowercased text) so both
  * engines split identically. All counts are exact BIGINTs reduced by
  * combiner-backed groupBys over the exploded token stream; the only
  * floating step per query is one shared IEEE ratio, floor-quantized.
  *
  * Scale posture: every aggregate is keyed by token / bigram / doc —
  * never a global window over raw tokens. The bigram↔unigram marginal
  * join is keyed by word (shuffle join on the bounded vocabulary, NOT
  * broadcast: a 100 TB corpus's unigram table is dictionary-sized but
  * not provably driver-sized). Vocabulary coverage broadcasts only the
  * fixed top-k list (k rows by construction).
  */
object Lexical {

  private val tokPat = "[a-z0-9]+"

  /** (doc_id, tk ARRAY<string>) token arrays — shared splitter. */
  private def tokArr(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit(tokPat), lit(0)).as("tk"))

  /** (doc_id, t) exploded token stream. */
  private def toks(s: SparkSession, d: String): DataFrame =
    tokArr(s, d).select(col("doc_id"), explode(col("tk")).as("t"))

  private val toksSql =
    """tok AS (
      |  SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS t
      |  FROM documents)""".stripMargin

  /** [[toksSql]] plus the per-(doc, token) count `c` as CTE `cte`. */
  private def tokenCountsSql(cte: String): String =
    s"""$toksSql,
       |$cte AS (
       |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM tok GROUP BY doc_id, t)""".stripMargin

  /** One row per DISTINCT text (rep-collapse): r = its smallest doc id,
    * ids = all its doc ids, w = their count, tk = its token array. */
  private def textReps(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("r"), collect_list(col("doc_id")).as("ids"),
        count(lit(1)).as("w"))
      .select(col("r"), col("ids"), col("w"),
        regexp_extract_all(lower(col("text")), lit(tokPat), lit(0)).as("tk"))

  val queries: Seq[QueryDef] = Seq(

    // PMI collocation mining: score(x,y) ∝ P(x,y)/(P(x)P(y)) over
    // adjacent-token bigrams, computed as one IEEE ratio of exact BIGINT
    // counts shared by both engines. Top-100 by quantized score. The
    // c_xy >= 5 support floor keeps the ranked set stable and the
    // numerator counts meaningful.
    QueryDef.sql(
      "q_pmi_bigrams",
      """WITH tk AS (
        |  SELECT doc_id, REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT tk[CAST(i AS INTEGER)] AS w1, tk[CAST(i AS INTEGER) + 1] AS w2
        |  FROM tk, UNNEST(RANGE(1, LEN(tk))) AS u(i)
        |  WHERE LEN(tk) >= 2),
        |uni AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS t
        |    FROM documents) GROUP BY t),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM bg),
        |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_u FROM uni),
        |pair AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
        |  FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= 5),
        |scored AS (
        |  SELECT p.w1, p.w2, p.c_xy,
        |    CAST(FLOOR(p.c_xy * CAST(1.0 AS DOUBLE) * n_u * n_u * 1000000.0
        |      / (u1.c * CAST(1.0 AS DOUBLE) * u2.c * n_b)) AS BIGINT) AS pmi_q6
        |  FROM pair p
        |  JOIN uni u1 ON u1.t = p.w1
        |  JOIN uni u2 ON u2.t = p.w2
        |  CROSS JOIN nb CROSS JOIN nu),
        |ranked AS (
        |  SELECT w1, w2, c_xy, pmi_q6,
        |    ROW_NUMBER() OVER (ORDER BY pmi_q6 DESC, w1, w2) AS rk
        |  FROM scored)
        |SELECT CAST(rk AS BIGINT) AS rk, w1, w2, c_xy, pmi_q6
        |FROM ranked WHERE rk <= 100 ORDER BY rk""".stripMargin) { (s, d) =>
      val tk = tokArr(s, d).filter(size(col("tk")) >= 2)
      val bg = tk.select(explode(sequence(lit(1), size(col("tk")) - 1)).as("i"), col("tk"))
        .select(element_at(col("tk"), col("i")).as("w1"),
          element_at(col("tk"), col("i") + 1).as("w2"))
      val uni = toks(s, d).groupBy(col("t")).agg(count(lit(1)).as("c"))
      val pair = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      val nB = bg.agg(count(lit(1)).as("n_b"))
      val nU = uni.agg(sum(col("c")).as("n_u"))
      val scored = pair
        .join(uni.withColumnRenamed("t", "w1").withColumnRenamed("c", "c1"), Seq("w1"))
        .join(uni.withColumnRenamed("t", "w2").withColumnRenamed("c", "c2"), Seq("w2"))
        .crossJoin(broadcast(nB)).crossJoin(broadcast(nU))
        .select(col("w1"), col("w2"), col("c_xy"),
          floor(col("c_xy") * lit(1.0) * col("n_u") * col("n_u") * lit(1000000.0)
            / (col("c1") * lit(1.0) * col("c2") * col("n_b"))).cast("long").as("pmi_q6"))
      // top-100 via TakeOrdered first; the ranking window then runs over
      // 100 rows, never the full scored-pair set
      val top = scored.orderBy(col("pmi_q6").desc, col("w1"), col("w2")).limit(100)
      val w = Window.orderBy(col("pmi_q6").desc, col("w1"), col("w2"))
      top.withColumn("rk", row_number().over(w).cast("long"))
        .select(col("rk"), col("w1"), col("w2"), col("c_xy"), col("pmi_q6"))
        .orderBy(col("rk"))
    },

    // Within-doc repetition: share (ppm) of the doc's word trigrams
    // claimed by its single most repeated trigram — the Gopher-style
    // "fraction of characters in the most common n-gram" dup signal.
    // Keyed entirely by doc: the trigram histogram reduces per
    // (doc, trigram), then per doc. keep = repetition below 20%.
    QueryDef.sql(
      "q_repetition_ratio",
      """WITH tk AS (
        |  SELECT doc_id, REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+') AS tk
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1]
        |      || ' ' || tk[CAST(i AS INTEGER) + 2] AS g
        |  FROM tk, UNNEST(RANGE(1, LEN(tk) - 1)) AS u(i)
        |  WHERE LEN(tk) >= 3),
        |h AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tri GROUP BY doc_id, g),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tri,
        |    CAST(MAX(c) AS BIGINT) AS max_c
        |  FROM h GROUP BY doc_id)
        |SELECT doc_id, n_tri, max_c,
        |  CAST(FLOOR(max_c * CAST(1000000.0 AS DOUBLE) / n_tri) AS BIGINT) AS rep_q6,
        |  CAST(FLOOR(max_c * CAST(1000000.0 AS DOUBLE) / n_tri) < 200000 AS BOOLEAN) AS keep
        |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
      // repetition is a pure function of the text, so the trigram explode
      // runs once per DISTINCT text (rep-collapse, as q_text_fingerprint):
      // one groupBy(text) collapses clones map-side, the histogram keys on
      // the compact rep id, and verdicts fan back out through the carried
      // doc-id list. Clone-heavy growth then scales with distinct texts.
      val reps = Tables.documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("r"), collect_list(col("doc_id")).as("ids"))
        .select(col("r"), col("ids"),
          regexp_extract_all(lower(col("text")), lit(tokPat), lit(0)).as("tk"))
        .filter(size(col("tk")) >= 3)
        .persist()
      val tri = reps.select(col("r"),
          explode(sequence(lit(1), size(col("tk")) - 2)).as("i"), col("tk"))
        .select(col("r"),
          concat_ws(" ", element_at(col("tk"), col("i")),
            element_at(col("tk"), col("i") + 1),
            element_at(col("tk"), col("i") + 2)).as("g"))
      val h = tri.groupBy(col("r"), col("g")).agg(count(lit(1)).as("c"))
      val agg = h.groupBy(col("r"))
        .agg(sum(col("c")).as("n_tri"), max(col("c")).as("max_c"))
      val rep = floor(col("max_c") * lit(1000000.0) / col("n_tri")).cast("long")
      reps.select(col("r"), explode(col("ids")).as("doc_id"))
        .join(agg, Seq("r"))
        .select(col("doc_id"), col("n_tri"), col("max_c"),
          rep.as("rep_q6"), (rep < 200000).as("keep"))
        .orderBy(col("doc_id"))
    },

    // Vocabulary coverage: per doc, the ppm of token occurrences covered
    // by the corpus top-500 frequency vocabulary (tokenizer-economics
    // readout: what OOV rate would a k-word vocab give?). The vocab is
    // fixed-size by construction → broadcast; the per-doc token
    // histogram reduces before the join so the probe side is (doc,
    // distinct token), not raw tokens.
    QueryDef.sql(
      "q_vocab_coverage",
      s"""WITH ${tokenCountsSql("dt")},
        |freq AS (SELECT t, CAST(SUM(c) AS BIGINT) AS cf FROM dt GROUP BY t),
        |vocab AS (
        |  SELECT t FROM freq ORDER BY cf DESC, t LIMIT 500),
        |cov AS (
        |  SELECT dt.doc_id, CAST(SUM(dt.c) AS BIGINT) AS n_tok,
        |    CAST(SUM(CASE WHEN v.t IS NOT NULL THEN dt.c ELSE 0 END) AS BIGINT) AS n_in
        |  FROM dt LEFT JOIN vocab v ON v.t = dt.t
        |  GROUP BY dt.doc_id)
        |SELECT doc_id, n_tok, n_in,
        |  CAST(FLOOR(n_in * CAST(1000000.0 AS DOUBLE) / n_tok) AS BIGINT) AS cov_q6
        |FROM cov ORDER BY doc_id""".stripMargin) { (s, d) =>
      // rep-collapse: the token histogram is a pure function of the text,
      // so it reduces once per DISTINCT text; the corpus frequency table
      // weights each rep histogram by its clone count (clone-weighted ==
      // the naive per-doc semantics), and per-doc coverage fans back out
      // through the carried doc-id list.
      val reps = textReps(s, d)
        .persist()
      val dt = reps.select(col("r"), col("w"), explode(col("tk")).as("t"))
        .groupBy(col("r"), col("w"), col("t")).agg(count(lit(1)).as("c"))
      val freq = dt.groupBy(col("t")).agg(sum(col("c") * col("w")).as("cf"))
      // top-k via orderBy+limit (TakeOrdered — a distributed heap, never
      // a single-reducer global window over the full vocabulary)
      val vocab = freq.orderBy(col("cf").desc, col("t")).limit(500).select(col("t"))
      val cov = dt.join(broadcast(vocab.withColumn("inv", lit(1))), Seq("t"), "left")
        .groupBy(col("r"))
        .agg(sum(col("c")).as("n_tok"),
          sum(when(col("inv").isNotNull, col("c")).otherwise(0L)).as("n_in"))
      reps.select(col("r"), explode(col("ids")).as("doc_id"))
        .join(cov, Seq("r"))
        .select(col("doc_id"), col("n_tok"), col("n_in"),
          floor(col("n_in") * lit(1000000.0) / col("n_tok")).cast("long").as("cov_q6"))
        .orderBy(col("doc_id"))
    },

    // Lexical diversity as Gini impurity of the per-doc token histogram:
    // gini = 1 - Σ(c/n)² computed from the exact integer cross terms
    // (n² - Σc²)/n² — no per-token ratio, one IEEE division per doc.
    // Low diversity (few token types dominating) flags boilerplate /
    // machine-generated text the repetition ratio misses when the
    // repeats are unigrams rather than trigram runs.
    QueryDef.sql(
      "q_token_gini",
      s"""WITH ${tokenCountsSql("hist")},
        |g AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(c * c) AS BIGINT) AS ss
        |  FROM hist GROUP BY doc_id)
        |SELECT doc_id, n_tok, n_types,
        |  CAST(FLOOR((n_tok * n_tok - ss) * CAST(1000000.0 AS DOUBLE)
        |             / (n_tok * n_tok)) AS BIGINT) AS gini_q6
        |FROM g WHERE n_tok >= 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      // rep-collapse (naive DuckDB oracle above, collapsed engine): the
      // histogram is a pure function of the text, so it reduces once per
      // DISTINCT text and fans back out through the carried doc-id list.
      val reps = Tables.documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("r"), collect_list(col("doc_id")).as("ids"))
        .select(col("r"), col("ids"),
          regexp_extract_all(lower(col("text")), lit(tokPat), lit(0)).as("tk"))
        .filter(size(col("tk")) >= 1)
        .persist()
      val hist = reps.select(col("r"), explode(col("tk")).as("t"))
        .groupBy(col("r"), col("t")).agg(count(lit(1)).as("c"))
      val g = hist.groupBy(col("r"))
        .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_types"),
          sum(col("c") * col("c")).as("ss"))
      reps.select(col("r"), explode(col("ids")).as("doc_id"))
        .join(g, Seq("r"))
        .select(col("doc_id"), col("n_tok"), col("n_types"),
          floor((col("n_tok") * col("n_tok") - col("ss")) * lit(1000000.0)
            / (col("n_tok") * col("n_tok"))).cast("long").as("gini_q6"))
        .orderBy(col("doc_id"))
    },

    // Corpus bigram language model scoring each doc by its mean q6
    // transition probability — the integer-exact stand-in for the
    // CCNet/KenLM perplexity filter: docs whose word transitions are
    // unusual for the corpus score low. The model table (bigram count /
    // context count) is corpus-wide and vocabulary-keyed; the per-doc
    // score is the integer mean of its bigrams' q6 probabilities.
    QueryDef.sql(
      "q_bigram_lm",
      """WITH tk AS (
        |  SELECT doc_id, REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, tk[CAST(i AS INTEGER)] AS w1,
        |    tk[CAST(i AS INTEGER) + 1] AS w2
        |  FROM tk, UNNEST(RANGE(1, LEN(tk))) AS u(i)
        |  WHERE LEN(tk) >= 2),
        |cbg AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bg
        |  FROM bg GROUP BY w1, w2),
        |cu AS (
        |  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_u FROM bg GROUP BY w1),
        |p AS (
        |  SELECT c.w1, c.w2,
        |    CAST(FLOOR(c.c_bg * CAST(1000000.0 AS DOUBLE) / u.c_u) AS BIGINT) AS p_q6
        |  FROM cbg c JOIN cu u ON u.w1 = c.w1),
        |ds AS (
        |  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
        |    CAST(SUM(p.p_q6) AS BIGINT) AS tot
        |  FROM bg b JOIN p ON p.w1 = b.w1 AND p.w2 = b.w2
        |  GROUP BY b.doc_id)
        |SELECT doc_id, n_bg, CAST(tot // n_bg AS BIGINT) AS lm_q6
        |FROM ds ORDER BY doc_id""".stripMargin) { (s, d) =>
      // rep-collapse with clone weights (naive oracle above): bigram
      // histograms reduce once per DISTINCT text; the corpus model counts
      // weight each rep histogram by its clone count so the model equals
      // the naive per-doc semantics; scores fan back out via doc-id
      // lists. Model joins are keyed by bigram/word — vocabulary-sized
      // shuffle joins, never broadcast (a 100 TB corpus's bigram table
      // is dictionary-scale but not provably driver-sized).
      val reps = textReps(s, d)
        .filter(size(col("tk")) >= 2)
        .persist()
      val rb = reps
        .select(col("r"), col("w"),
          explode(sequence(lit(1), size(col("tk")) - 1)).as("i"), col("tk"))
        .select(col("r"), col("w"),
          element_at(col("tk"), col("i")).as("w1"),
          element_at(col("tk"), col("i") + 1).as("w2"))
        .groupBy(col("r"), col("w"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
        .persist()
      val cbg = rb.groupBy(col("w1"), col("w2")).agg(sum(col("c") * col("w")).as("c_bg"))
      val cu = rb.groupBy(col("w1")).agg(sum(col("c") * col("w")).as("c_u"))
      val p = cbg.join(cu, Seq("w1"))
        .select(col("w1"), col("w2"),
          floor(col("c_bg") * lit(1000000.0) / col("c_u")).cast("long").as("p_q6"))
      val ds = rb.join(p, Seq("w1", "w2"))
        .groupBy(col("r"))
        .agg(sum(col("c")).as("n_bg"), sum(col("c") * col("p_q6")).as("tot"))
      reps.select(col("r"), explode(col("ids")).as("doc_id"))
        .join(ds, Seq("r"))
        .select(col("doc_id"), col("n_bg"),
          expr("tot div n_bg").cast("long").as("lm_q6"))
        .orderBy(col("doc_id"))
    },

    // RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    // maximal runs of 1–4 consecutive non-stopword tokens (gaps-and-
    // islands on the token position grid, per doc); each word scores
    // degree/frequency where degree sums the lengths of the phrases it
    // appears in, and a phrase scores the sum of its words' scores. The
    // division is integer q6 so both engines agree exactly. Word stats
    // are keyed by word (vocabulary-bounded shuffle join, same posture
    // as the PMI marginals); phrase text is rebuilt with an array_sort
    // on (pos, token) structs — never collect_list order. Top 20 by
    // (score DESC, phrase) with a deterministic limit.
    QueryDef.sql(
      "q_rake_keywords",
      s"""WITH tk AS (
         |  SELECT doc_id, REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+') AS arr
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, GENERATE_SUBSCRIPTS(arr, 1) AS pos, UNNEST(arr) AS t
         |  FROM tk),
         |nonstop AS (
         |  SELECT doc_id, pos, t,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM tok
         |  WHERE t NOT IN ('the', 'a', 'of', 'to', 'and')),
         |phr AS (
         |  SELECT doc_id, island,
         |    STRING_AGG(t, ' ' ORDER BY pos) AS phrase,
         |    CAST(COUNT(*) AS BIGINT) AS len
         |  FROM nonstop GROUP BY doc_id, island
         |  HAVING COUNT(*) <= 4),
         |member AS (
         |  SELECT p.doc_id, p.island, p.phrase, p.len, n.t
         |  FROM phr p JOIN nonstop n
         |    ON n.doc_id = p.doc_id AND n.island = p.island),
         |wstat AS (
         |  SELECT t, CAST(COUNT(*) AS BIGINT) AS freq,
         |    CAST(SUM(len) AS BIGINT) AS degree
         |  FROM member GROUP BY t),
         |pscore AS (
         |  SELECT m.doc_id, m.island, m.phrase,
         |    CAST(SUM((w.degree * 1000000) // w.freq) AS BIGINT) AS score_q6
         |  FROM member m JOIN wstat w ON w.t = m.t
         |  GROUP BY m.doc_id, m.island, m.phrase),
         |agg AS (
         |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |    MAX(score_q6) AS score_q6
         |  FROM pscore GROUP BY phrase)
         |SELECT phrase, n_occ, score_q6 FROM agg
         |ORDER BY score_q6 DESC, phrase LIMIT 20""".stripMargin) { (s, d) =>
      val tok = tokArr(s, d)
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos0", "t")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("t"))
      val nonstop = tok
        .filter(!col("t").isin("the", "a", "of", "to", "and"))
        .withColumn("island", col("pos") -
          row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      val phr = nonstop
        .groupBy(col("doc_id"), col("island"))
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("t")))),
            x => x.getField("t")), " ").as("phrase"),
          count(lit(1)).as("len"))
        .filter(col("len") <= 4)
      val member = phr.join(nonstop.select(col("doc_id"), col("island"), col("t")),
        Seq("doc_id", "island"))
      val wstat = member.groupBy(col("t"))
        .agg(count(lit(1)).as("freq"), sum(col("len")).as("degree"))
      val pscore = member.join(wstat, Seq("t"))
        .groupBy(col("doc_id"), col("island"), col("phrase"))
        .agg(sum(expr("(degree * 1000000) div freq")).as("score_q6"))
      pscore.groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occ"), max(col("score_q6")).as("score_q6"))
        .orderBy(col("score_q6").desc, col("phrase"))
        .limit(20)
    },

    // URL canonicalization before dedup (every web-corpus pipeline's
    // first dedup key): synthesize the messy variants a crawler sees
    // (case-shifted hosts, tracking queries, fragments, trailing
    // slashes) from the part table, then normalize — strip query +
    // fragment, lowercase the host, drop the trailing slash — and count
    // how many raw spellings and rows collapse onto each canonical URL.
    // Pure per-row regexp work + one combiner-backed groupBy; the
    // anchored patterns behave identically under Spark's replace-all
    // and DuckDB's replace-first because each can match at most once.
    QueryDef.sql(
      "q_url_normalize",
      """WITH raw AS (
        |  SELECT p_partkey,
        |    CASE p_partkey % 4
        |      WHEN 0 THEN 'https://Shop' || (p_partkey % 20) || '.com/items/' || (p_partkey % 100)
        |      WHEN 1 THEN 'https://shop' || (p_partkey % 20) || '.com/items/' || (p_partkey % 100) || '/'
        |      WHEN 2 THEN 'https://shop' || (p_partkey % 20) || '.com/items/' || (p_partkey % 100) || '?utm_source=feed&ref=x'
        |      ELSE 'https://SHOP' || (p_partkey % 20) || '.com/items/' || (p_partkey % 100) || '#section-2'
        |    END AS url
        |  FROM part),
        |norm AS (
        |  SELECT url,
        |    'https://' || LOWER(REGEXP_EXTRACT(REGEXP_REPLACE(url, '[#?].*$', ''), '^https://([^/]+)', 1))
        |      || REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(url, '[#?].*$', ''), '^https://[^/]+', ''), '/$', '')
        |      AS canon
        |  FROM raw)
        |SELECT canon, CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM norm GROUP BY canon ORDER BY canon""".stripMargin) { (s, d) =>
      val k = col("p_partkey")
      val base = concat(lit("https://"),
        when(pmod(k, lit(4)) === 0, "Shop")
          .when(pmod(k, lit(4)) === 3, "SHOP").otherwise("shop"),
        pmod(k, lit(20)), lit(".com/items/"), pmod(k, lit(100)))
      val raw = Tables.part(s, d).select(
        concat(base, when(pmod(k, lit(4)) === 1, "/")
          .when(pmod(k, lit(4)) === 2, "?utm_source=feed&ref=x")
          .when(pmod(k, lit(4)) === 3, "#section-2").otherwise("")).as("url"))
      val stripped = regexp_replace(col("url"), "[#?].*$", "")
      val norm = raw.select(col("url"),
        concat(lit("https://"),
          lower(regexp_extract(stripped, "^https://([^/]+)", 1)),
          regexp_replace(regexp_replace(stripped, "^https://[^/]+", ""), "/$", ""))
          .as("canon"))
      norm.groupBy(col("canon"))
        .agg(countDistinct(col("url")).as("n_raw_forms"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("canon"))
    },

    // Lexical richness per source: type-token ratio + hapax-legomena
    // share — the corpus-curation readout that separates genuinely
    // diverse sources from template/boilerplate-heavy ones. All counts
    // exact BIGINTs off the (source, token) frequency table (combiner-
    // backed, vocabulary-sized — raw tokens never shuffle twice);
    // ratios are integer q6 divisions, bit-identical on both engines.
    QueryDef.sql(
      "q_hapax_ttr",
      """WITH tok AS (
        |  SELECT source, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS t
        |  FROM documents),
        |tf AS (
        |  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tok GROUP BY source, t)
        |SELECT source,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST((COUNT(*) * 1000000) // SUM(c) AS BIGINT) AS ttr_q6,
        |  CAST((SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
        |    AS BIGINT) AS hapax_q6
        |FROM tf GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(col("source"),
          explode(regexp_extract_all(lower(col("text")), lit(tokPat), lit(0))).as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          expr("(n_types * 1000000) div n_tokens").as("ttr_q6"),
          expr("(n_hapax * 1000000) div n_types").as("hapax_q6"))
        .orderBy(col("source"))
    },

    // Zipf rank-frequency fit: bucket the vocabulary by floor(log2 freq)
    // — computed EXACTLY as length(bin(c)) − 1 in both engines, no
    // runtime log — then an integer-moment OLS of floor(log2 #types) on
    // the bucket index. A natural-text corpus slopes steeply negative; a
    // deduplicated template corpus flattens — the drift signal for
    // corpus mixing. One output row: exact moment sums + the single
    // floor-quantized slope division (zero-variance guarded).
    QueryDef.sql(
      "q_zipf_slope",
      """WITH tok AS (
        |  SELECT UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS t
        |  FROM documents),
        |uni AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t),
        |pts AS (
        |  SELECT CAST(LENGTH(BIN(c)) - 1 AS BIGINT) AS x,
        |    CAST(LENGTH(BIN(COUNT(*))) - 1 AS BIGINT) AS y
        |  FROM uni GROUP BY LENGTH(BIN(c)) - 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
        |  FROM pts)
        |SELECT n AS n_buckets, sx, sy, sxy, sxx,
        |  CASE WHEN (n*sxx - sx*sx) = 0 THEN NULL
        |  ELSE CAST(FLOOR((n*sxy - sx*sy) * CAST(1000000.0 AS DOUBLE)
        |    / (n*sxx - sx*sx)) AS BIGINT) END AS slope_q6
        |FROM m""".stripMargin) { (s, d) =>
      val uni = Tables.documents(s, d)
        .select(explode(regexp_extract_all(lower(col("text")), lit(tokPat), lit(0))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val pts = uni
        .groupBy((length(bin(col("c"))) - 1).cast("long").as("x"))
        .agg((length(bin(count(lit(1)))) - 1).cast("long").as("y"))
      val m = pts.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      val varx = col("n") * col("sxx") - col("sx") * col("sx")
      m.select(col("n").as("n_buckets"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        when(varx === 0, lit(null))
          .otherwise(floor((col("n") * col("sxy") - col("sx") * col("sy")) * lit(1000000.0)
            / varx).cast("long")).as("slope_q6"))
    },

    // Simpson concentration / Gini–Simpson diversity of each source's
    // language mix — the corpus-balance readout next to the mixture
    // operators. Pure integer: Simpson = Σc(c−1)/(N(N−1)) as one q6
    // integer division (no IEEE anywhere), over a (source × lang) cell
    // aggregate bounded by the vocabulary. Sources with N < 2 drop (the
    // index is undefined).
    QueryDef.sql(
      "q_simpson_diversity",
      """WITH c AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY source, lang),
        |t AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_langs,
        |    CAST(SUM(c * (c - 1)) AS BIGINT) AS s2
        |  FROM c GROUP BY source)
        |SELECT source, n AS n_docs, n_langs,
        |  CAST((s2 * 1000000) // (n * (n - 1)) AS BIGINT) AS simpson_q6,
        |  CAST(1000000 - (s2 * 1000000) // (n * (n - 1)) AS BIGINT) AS gini_simpson_q6
        |FROM t WHERE n >= 2 ORDER BY source""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val t = c.groupBy(col("source"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_langs"),
          sum(col("c") * (col("c") - 1)).as("s2"))
      t.filter(col("n") >= 2)
        .select(col("source"), col("n").as("n_docs"), col("n_langs"),
          expr("(s2 * 1000000) div (n * (n - 1))").as("simpson_q6"),
          (lit(1000000L) - expr("(s2 * 1000000) div (n * (n - 1))"))
            .cast("long").as("gini_simpson_q6"))
        .orderBy(col("source"))
    },

    // Stupid-backoff bigram scoring of HELD-OUT documents: the LM trains
    // on the even-doc_id half and scores the odd half, so unseen bigrams
    // genuinely back off (score = 0.4 · c(w)/N in q6) and unseen words
    // count as OOV — the perplexity-style quality filter a corpus
    // pipeline runs against a held-out LM. All scores are integer q6
    // (counts div context / 0.4e6·c div N), so both engines agree
    // bit-for-bit. Scale shape = q_bigram_lm: bigram histograms reduce
    // once per DISTINCT text (train counts clone-weighted by the text's
    // even-doc multiplicity), model joins key on the bigram/word
    // vocabulary, per-doc results fan back out through the rep map.
    QueryDef.sql(
      "q_stupid_backoff",
      """WITH tk AS (
        |  SELECT doc_id, REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+') AS tk
        |  FROM documents),
        |trbg AS (
        |  SELECT tk[CAST(i AS INTEGER)] AS w1, tk[CAST(i AS INTEGER) + 1] AS w2
        |  FROM tk, UNNEST(RANGE(1, LEN(tk))) AS u(i)
        |  WHERE doc_id % 2 = 0 AND LEN(tk) >= 2),
        |cbg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bg
        |        FROM trbg GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_ctx
        |        FROM trbg GROUP BY w1),
        |tru AS (
        |  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS c_u
        |  FROM (SELECT UNNEST(tk) AS t FROM tk WHERE doc_id % 2 = 0)
        |  GROUP BY t),
        |nt AS (SELECT CAST(SUM(c_u) AS BIGINT) AS n FROM tru),
        |tebg AS (
        |  SELECT doc_id, tk[CAST(i AS INTEGER)] AS w1, tk[CAST(i AS INTEGER) + 1] AS w2
        |  FROM tk, UNNEST(RANGE(1, LEN(tk))) AS u(i)
        |  WHERE doc_id % 2 = 1 AND LEN(tk) >= 2),
        |sc AS (
        |  SELECT te.doc_id,
        |    CASE WHEN cbg.c_bg IS NOT NULL THEN (cbg.c_bg * 1000000) // ctx.c_ctx
        |         WHEN tru.c_u IS NOT NULL THEN (tru.c_u * 400000) // nt.n
        |         ELSE 0 END AS s_q6,
        |    CASE WHEN cbg.c_bg IS NULL AND tru.c_u IS NOT NULL THEN 1 ELSE 0 END AS is_backoff,
        |    CASE WHEN cbg.c_bg IS NULL AND tru.c_u IS NULL THEN 1 ELSE 0 END AS is_oov
        |  FROM tebg te
        |  LEFT JOIN cbg ON cbg.w1 = te.w1 AND cbg.w2 = te.w2
        |  LEFT JOIN ctx ON ctx.w1 = te.w1
        |  LEFT JOIN tru ON tru.w = te.w2
        |  CROSS JOIN nt)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
        |  CAST(SUM(is_backoff) AS BIGINT) AS n_backoff,
        |  CAST(SUM(is_oov) AS BIGINT) AS n_oov,
        |  CAST(SUM(s_q6) // COUNT(*) AS BIGINT) AS lm_q6
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val reps = Tables.documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("r"),
          sum(when(pmod(col("doc_id"), lit(2)) === 0, 1L).otherwise(0L)).as("wt"),
          collect_list(when(pmod(col("doc_id"), lit(2)) === 1, col("doc_id")))
            .as("test_ids"))
        .select(col("r"), col("wt"), col("test_ids"),
          regexp_extract_all(lower(col("text")), lit(tokPat), lit(0)).as("tk"))
        .persist()
      // per-rep bigram histogram (the clone-collapse)
      val rb = reps.filter(size(col("tk")) >= 2)
        .select(col("r"), col("wt"),
          explode(sequence(lit(1), size(col("tk")) - 1)).as("i"), col("tk"))
        .select(col("r"), col("wt"),
          element_at(col("tk"), col("i")).as("w1"),
          element_at(col("tk"), col("i") + 1).as("w2"))
        .groupBy(col("r"), col("wt"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
        .persist()
      val cbg = rb.groupBy(col("w1"), col("w2"))
        .agg(sum(col("c") * col("wt")).as("c_bg")).filter(col("c_bg") > 0)
      val ctx = rb.groupBy(col("w1"))
        .agg(sum(col("c") * col("wt")).as("c_ctx")).filter(col("c_ctx") > 0)
      val ru = reps.select(col("wt"), explode(col("tk")).as("w"))
        .groupBy(col("w")).agg(sum(col("wt")).as("c_u")).filter(col("c_u") > 0)
      val nt = ru.agg(sum(col("c_u")).as("n"))
      val sc = rb
        .join(cbg, Seq("w1", "w2"), "left")
        .join(ctx, Seq("w1"), "left")
        .join(ru.withColumnRenamed("w", "w2"), Seq("w2"), "left")
        .crossJoin(broadcast(nt))
        .select(col("r"), col("c"),
          when(col("c_bg").isNotNull, expr("(c_bg * 1000000) div c_ctx"))
            .when(col("c_u").isNotNull, expr("(c_u * 400000) div n"))
            .otherwise(0L).as("s_q6"),
          when(col("c_bg").isNull && col("c_u").isNotNull, 1L).otherwise(0L).as("is_backoff"),
          when(col("c_bg").isNull && col("c_u").isNull, 1L).otherwise(0L).as("is_oov"))
        .groupBy(col("r"))
        .agg(sum(col("c")).as("n_bg"),
          sum(col("c") * col("is_backoff")).as("n_backoff"),
          sum(col("c") * col("is_oov")).as("n_oov"),
          sum(col("c") * col("s_q6")).as("tot"))
      reps.select(col("r"), explode(col("test_ids")).as("doc_id"))
        .join(sc, Seq("r"))
        .select(col("doc_id"), col("n_bg"), col("n_backoff"), col("n_oov"),
          expr("tot div n_bg").cast("long").as("lm_q6"))
        .orderBy(col("doc_id"))
    },

    // Flesch reading-ease per source (the readability lane of corpus
    // quality scoring): words = [a-z0-9]+ tokens, sentences = [.!?]+
    // runs, syllables ≈ vowel-group runs — three regex counts per doc,
    // reduced to exact per-source BIGINT sums, then ONE shared IEEE
    // tree (206.835 − 1.015·W/S − 84.6·Y/W) floor-quantized to q3.
    // Degenerate sources (no sentences/words) clamp via GREATEST(1,·)
    // per doc, so the ratios never divide by zero.
    QueryDef.sql(
      "q_readability",
      """WITH d AS (
        |  SELECT source,
        |    GREATEST(1, CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS BIGINT)) AS w,
        |    GREATEST(1, CAST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')) AS BIGINT)) AS sen,
        |    GREATEST(1, CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiouy]+')) AS BIGINT)) AS sy
        |  FROM documents),
        |a AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(w) AS BIGINT) AS words, CAST(SUM(sen) AS BIGINT) AS sents,
        |    CAST(SUM(sy) AS BIGINT) AS sylls
        |  FROM d GROUP BY source)
        |SELECT source, n_docs, words, sents, sylls,
        |  CAST(FLOOR((CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE) * (words * CAST(1.0 AS DOUBLE) / sents)
        |    - CAST(84.6 AS DOUBLE) * (sylls * CAST(1.0 AS DOUBLE) / words))
        |    * 1000.0) AS BIGINT) AS flesch_q3
        |FROM a ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"),
          greatest(lit(1L), size(regexp_extract_all(lower(col("text")),
            lit("[a-z0-9]+"), lit(0))).cast("long")).as("w"),
          greatest(lit(1L), size(regexp_extract_all(col("text"),
            lit("[.!?]+"), lit(0))).cast("long")).as("sen"),
          greatest(lit(1L), size(regexp_extract_all(lower(col("text")),
            lit("[aeiouy]+"), lit(0))).cast("long")).as("sy"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
          sum(col("sen")).as("sents"), sum(col("sy")).as("sylls"))
        .select(col("source"), col("n_docs"), col("words"), col("sents"),
          col("sylls"),
          floor((lit(206.835)
            - lit(1.015) * (col("words") * lit(1.0) / col("sents"))
            - lit(84.6) * (col("sylls") * lit(1.0) / col("words")))
            * lit(1000.0)).cast("long").as("flesch_q3"))
        .orderBy(col("source"))
    },

    // Word burstiness (Katz dispersion): the variance-to-mean ratio of a
    // word's per-document count, zeros included — content words cluster
    // (VMR > the Poisson 1), function words spread evenly. Zeros never
    // materialize: with per-doc counts c over N docs, VMR =
    // (N·Σc² − (Σc)²)/(N·Σc) from the present-doc moments alone. The
    // engine side reduces once per DISTINCT text (rep-collapse: the
    // histogram is a pure function of the text) and fans out through the
    // multiplicity w; the frequency floor scales with the corpus
    // (Σc·100 ≥ N), so clone factors can't empty or explode the output.
    QueryDef.sql(
      "q_word_burstiness",
      s"""WITH ${tokenCountsSql("hist")},
        |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tok),
        |w AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c*c) AS BIGINT) AS s2
        |  FROM hist GROUP BY t)
        |SELECT t AS word, df, s1 AS total_count,
        |  CAST(FLOOR((n*s2 - s1*s1) * CAST(1000000.0 AS DOUBLE) / (n*s1))
        |    AS BIGINT) AS vmr_q6
        |FROM w CROSS JOIN nd WHERE s1 * 100 >= n
        |ORDER BY word""".stripMargin) { (s, d) =>
      val reps = Tables.documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("r"), count(lit(1)).as("w"))
        .select(col("r"), col("w"),
          regexp_extract_all(lower(col("text")), lit(tokPat), lit(0)).as("tk"))
        .filter(size(col("tk")) >= 1)
      val hist = reps.select(col("r"), col("w"), explode(col("tk")).as("t"))
        .groupBy(col("r"), col("w"), col("t")).agg(count(lit(1)).as("c"))
      val nd = reps.agg(sum(col("w")).as("n"))
      hist.groupBy(col("t"))
        .agg(sum(col("w")).as("df"), sum(col("w") * col("c")).as("s1"),
          sum(col("w") * col("c") * col("c")).as("s2"))
        .crossJoin(broadcast(nd))
        .filter(col("s1") * 100 >= col("n"))
        .select(col("t").as("word"), col("df"), col("s1").as("total_count"),
          floor((col("n") * col("s2") - col("s1") * col("s1"))
            * lit(1000000.0) / (col("n") * col("s1"))).cast("long").as("vmr_q6"))
        .orderBy(col("word"))
    },

    // Emerging terms: tokens whose usage grows most between the first and
    // second half of the corpus (split by doc_id median — the documents
    // table has no timestamps, and the id split is deterministic), with
    // add-one smoothing so new terms rank without dividing by zero, a
    // corpus-scaling support floor, and exact integer growth ratios. The
    // trending-topics readout next to q_drift_weekly's global distance.
    QueryDef.sql(
      "q_emerging_terms",
      """WITH md AS (
        |  SELECT CAST(MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) // 2 AS BIGINT) AS mid,
        |    CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM documents),
        |tok AS (
        |  SELECT CASE WHEN d.doc_id <= md.mid THEN 1 ELSE 2 END AS half,
        |    UNNEST(REGEXP_EXTRACT_ALL(LOWER(d.text), '[a-z0-9]+')) AS t
        |  FROM documents d CROSS JOIN md),
        |tc AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM tok GROUP BY t)
        |SELECT t AS term, c1, c2,
        |  CAST(((c2 + 1) * 1000000) // (c1 + 1) AS BIGINT) AS growth_q6
        |FROM tc CROSS JOIN md
        |WHERE (c1 + c2) * 200 >= md.nd
        |ORDER BY growth_q6 DESC, term LIMIT 25""".stripMargin) { (s, d) =>
      val md = Tables.documents(s, d)
        .agg(expr("min(doc_id) + (max(doc_id) - min(doc_id)) div 2").as("mid"),
          count(lit(1)).as("nd"))
      val tc = Tables.documents(s, d).crossJoin(broadcast(md))
        .select(when(col("doc_id") <= col("mid"), 1).otherwise(2).as("half"),
          explode(regexp_extract_all(lower(col("text")), lit(tokPat), lit(0))).as("t"))
        .groupBy(col("t"))
        .agg(sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("half") === 2, 1L).otherwise(0L)).as("c2"))
      tc.crossJoin(broadcast(md))
        .filter((col("c1") + col("c2")) * 200 >= col("nd"))
        .select(col("t").as("term"), col("c1"), col("c2"),
          expr("((c2 + 1) * 1000000) div (c1 + 1)").as("growth_q6"))
        .orderBy(col("growth_q6").desc, col("term"))
        .limit(25)
    },

    // Distributional divergence of each source from the whole corpus:
    // Bhattacharyya affinity BC = Σ_w √(p_w·q_w) and squared Hellinger
    // H² = 1 − BC over term distributions. Deliberately sqrt-only — IEEE
    // sqrt is correctly rounded in both engines while ln/exp are not, so
    // Hellinger is the divergence this engine can hash-match (the same
    // reason the JS/KL family is absent). Each term's contribution
    // √(c_s·c_g)/√(n_s·n_g) is floor-quantized to q6 BEFORE the per-source
    // sum, so accumulation order is irrelevant; c_s·c_g ≤ n_s·n_g stays
    // an exact int64→double conversion below 2⁵³ up to ~10⁸ corpus
    // tokens per source. Scale shape: one token explode → (source, term)
    // combiner groupBy, a term-keyed shuffle join against the corpus
    // marginal (dictionary-sized, NOT broadcast), one 20-row readout.
    QueryDef.sql(
      "q_hellinger_sources",
      """WITH tok AS (
        |  SELECT source, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS w
        |  FROM documents),
        |cs AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tok GROUP BY source, w),
        |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cs GROUP BY source),
        |cg AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cgl FROM cs GROUP BY w),
        |ng AS (SELECT CAST(SUM(cgl) AS BIGINT) AS n FROM cg),
        |term AS (
        |  SELECT cs.source,
        |    CAST(FLOOR(SQRT(CAST(cs.c * cg.cgl AS DOUBLE)) * 1000000.0
        |      / SQRT(CAST(ns.n AS DOUBLE) * CAST(ng.n AS DOUBLE))) AS BIGINT) AS t_q6
        |  FROM cs
        |  JOIN cg ON cg.w = cs.w
        |  JOIN ns ON ns.source = cs.source
        |  CROSS JOIN ng)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(t_q6) AS BIGINT) AS bc_q6,
        |  1000000 - CAST(SUM(t_q6) AS BIGINT) AS h2_q6
        |FROM term GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val cs = Tables.documents(s, d)
        .select(col("source"),
          explode(regexp_extract_all(lower(col("text")), lit(tokPat), lit(0))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .persist()
      val ns = cs.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val cg = cs.groupBy(col("w")).agg(sum(col("c")).as("cgl"))
      val ng = cg.agg(sum(col("cgl")).as("ng"))
      cs.join(cg, Seq("w"))
        .join(broadcast(ns.select(col("source"), col("n").as("ns"))), Seq("source"))
        .crossJoin(broadcast(ng))
        .select(col("source"),
          floor(sqrt((col("c") * col("cgl")).cast("double")) * lit(1000000.0)
            / sqrt(col("ns").cast("double") * col("ng").cast("double")))
            .cast("long").as("t_q6"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"), sum(col("t_q6")).as("bc_q6"))
        .select(col("source"), col("n_terms"), col("bc_q6"),
          (lit(1000000L) - col("bc_q6")).as("h2_q6"))
        .orderBy(col("source"))
    }
  )
}
