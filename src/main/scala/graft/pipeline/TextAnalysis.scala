package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import TextPipeline.{distinctGrams, grams, gramsSql, normText, P}

/** Text analysis over the `documents` table: SimHash sketches, n-gram
  * Jaccard/containment near-dup, frequent n-grams, token counting,
  * quality scoring, language ID, document fingerprinting, and the
  * multimodal metadata plumbing. Split from [[TextPipeline]] (which keeps
  * the exact/MinHash-LSH dedup family and the shared gram/signature
  * machinery these queries import) — same scale posture: pure Column
  * arithmetic, candidate pruning through rare grams (df <= 20), and the
  * run-scoped materialized distinct-gram table as the shared scan.
  */
object TextAnalysis {

  /** Doc pairs doc1 < doc2 sharing a rare gram (df ≤ 20), with `shared`
    * and each doc's rare-gram count n1, n2: the candidates of the n-gram
    * near-dup queries. */
  private[pipeline] def rareGramPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    // the shared materialized distinct gram table feeds the df aggregate
    // and the semi-join probe side (at 100 TB this materialization is
    // mandatory, not an optimization)
    val dgAll = distinctGrams(s, d).select(col("doc_id"), col("g"))
    // document frequency via groupBy+semi-join, NOT count().over(
    // partitionBy(g)): the window has no map-side combine, so the hottest
    // gram's full row set serializes onto one reducer — the one true
    // straggler at 100 TB. groupBy combines map-side; the semi-join back
    // onto the persisted distinct set keeps only rare grams.
    val rareGrams = dgAll.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 20).select(col("g"))
    // rdg feeds the candidate self-join AND both size lookups — persist
    val rdg = dgAll.join(rareGrams, Seq("g"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    SparseProduct.product(rdg, Seq("g"), "doc_id",
      SparseProduct.Names("doc1", "doc2", "shared"))
  }

  /** Oracle twin of [[rareGramPairs]]: CTEs up to `sizes` and `inter`. */
  private val rareGramPairsSql =
    s"""$gramsSql,
       |dg AS (SELECT DISTINCT doc_id, g FROM grams),
       |rare AS (SELECT g FROM dg GROUP BY g HAVING COUNT(*) <= 20),
       |rdg AS (SELECT dg.doc_id, dg.g FROM dg JOIN rare USING (g)),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM rdg GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(COUNT(*) AS BIGINT) AS shared
       |  FROM rdg a JOIN rdg b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // SimHash: 16-bit sign-aggregated sketch of the gram hashes
    QueryDef.sql(
      "q_dedup_simhash", {
        val bitSums = (0 until 16)
          .map(j => s"CAST(SUM(CASE WHEN (hm >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$j")
          .mkString(",\n    ")
        val bits = (0 until 16)
          .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
          .mkString(" + ")
        s"""WITH $gramsSql,
           |bitsum AS (
           |  SELECT doc_id,
           |    $bitSums
           |  FROM grams GROUP BY doc_id)
           |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
           |FROM bitsum ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val bitAggs = (0 until 16).map { j =>
        sum(when(shiftright(col("hm"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j")
      }
      val simhash = (0 until 16)
        .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      grams(s, d).groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
        .select(col("doc_id"), simhash.cast("long").as("simhash"))
        .orderBy(col("doc_id"))
    },

    // n-gram Jaccard near-dup: candidates through rare grams (df ≤ 20),
    // exact Jaccard over each doc's distinct rare-gram set, top-100 pairs
    QueryDef.sql(
      "q_dedup_ngram_jaccard",
      s"""WITH $rareGramPairsSql
         |SELECT doc1, doc2, shared,
         |  CAST(FLOOR(shared * CAST(1000000.0 AS DOUBLE) / (s1.n + s2.n - shared)) AS BIGINT) AS jaccard_q6
         |FROM inter JOIN sizes s1 ON s1.doc_id = doc1
         |           JOIN sizes s2 ON s2.doc_id = doc2
         |ORDER BY jaccard_q6 DESC, doc1, doc2 LIMIT 100""".stripMargin) { (s, d) =>
      rareGramPairs(s, d)
        .select(col("doc1"), col("doc2"), col("shared"),
          floor(col("shared") * lit(1000000.0) / (col("n1") + col("n2") - col("shared")))
            .cast("long").as("jaccard_q6"))
        .orderBy(col("jaccard_q6").desc, col("doc1"), col("doc2"))
        .limit(100)
    },

    // asymmetric containment C(A→B) = |A∩B| / |A|: catches a short doc
    // quoted inside a long one, which symmetric Jaccard dilutes away
    // (|A∩B|/|A∪B| stays small when |B| >> |A|). Same rare-gram candidate
    // bound as the Jaccard query; both directions reported per pair
    QueryDef.sql(
      "q_ngram_containment",
      s"""WITH $rareGramPairsSql
         |SELECT doc1, doc2, shared,
         |  CAST(FLOOR(shared * CAST(1000000.0 AS DOUBLE) / s1.n) AS BIGINT) AS cont12_q6,
         |  CAST(FLOOR(shared * CAST(1000000.0 AS DOUBLE) / s2.n) AS BIGINT) AS cont21_q6
         |FROM inter JOIN sizes s1 ON s1.doc_id = doc1
         |           JOIN sizes s2 ON s2.doc_id = doc2
         |ORDER BY GREATEST(
         |    CAST(FLOOR(shared * CAST(1000000.0 AS DOUBLE) / s1.n) AS BIGINT),
         |    CAST(FLOOR(shared * CAST(1000000.0 AS DOUBLE) / s2.n) AS BIGINT)) DESC, doc1, doc2
         |LIMIT 100""".stripMargin) { (s, d) =>
      val c12 = floor(col("shared") * lit(1000000.0) / col("n1")).cast("long")
      val c21 = floor(col("shared") * lit(1000000.0) / col("n2")).cast("long")
      rareGramPairs(s, d)
        .select(col("doc1"), col("doc2"), col("shared"),
          c12.as("cont12_q6"), c21.as("cont21_q6"))
        .orderBy(greatest(col("cont12_q6"), col("cont21_q6")).desc,
          col("doc1"), col("doc2"))
        .limit(100)
    },

    // heavy hitters: top-5 grams per language by document frequency —
    // exact two-stage shape: df via combiner-backed groupBy, then the
    // rank window runs over PRE-AGGREGATED (lang, g, df) rows prefiltered
    // to df ≥ 3 (the common-gram mass), so the per-language reducer sees
    // the aggregate tail, never raw gram rows
    QueryDef.sql(
      "q_frequent_ngrams",
      s"""WITH $gramsSql,
         |dg AS (SELECT DISTINCT doc_id, g FROM grams),
         |freq AS (
         |  SELECT d.lang, dg.g, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM dg JOIN documents d USING (doc_id)
         |  GROUP BY d.lang, dg.g
         |  HAVING COUNT(*) >= 3),
         |ranked AS (
         |  SELECT lang, g, df,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY df DESC, g) AS rk
         |  FROM freq)
         |SELECT lang, CAST(rk AS BIGINT) AS rk, g, df
         |FROM ranked WHERE rk <= 5 ORDER BY lang, rk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dg = distinctGrams(s, d).select(col("doc_id"), col("g"))
      val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val freq = dg.join(langs, Seq("doc_id"))
        .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3)
      val w = Window.partitionBy(col("lang")).orderBy(col("df").desc, col("g"))
      freq.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("g"), col("df"))
        .orderBy(col("lang"), col("rk"))
    },

    // Token counting: word tokens + BPE-ish ≤4-char piece count
    QueryDef.sql(
      "q_text_tokens",
      """SELECT doc_id,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]{1,4}')) AS BIGINT) AS n_pieces,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars_actual
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("n_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]{1,4}"), lit(0)))
          .cast("long").as("n_pieces"),
        length(col("text")).cast("long").as("n_chars_actual"))
        .orderBy(col("doc_id"))
    },

    // Quality scoring: stopword ratio, alpha ratio, length prior
    QueryDef.sql(
      "q_text_quality",
      """WITH tok AS (
        |  SELECT doc_id, LOWER(text) AS t,
        |    REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(LEN(toks) AS BIGINT) AS n_tokens,
        |  CAST(LEN(LIST_FILTER(toks, x -> x = 'the' OR x = 'a' OR x = 'of'
        |       OR x = 'to' OR x = 'and')) AS BIGINT) AS n_stop,
        |  CAST(LENGTH(REGEXP_REPLACE(t, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(FLOOR(
        |    (CAST(LEN(LIST_FILTER(toks, x -> x = 'the' OR x = 'a' OR x = 'of'
        |          OR x = 'to' OR x = 'and')) AS DOUBLE)
        |       / GREATEST(LEN(toks), 1) * 0.4
        |     + (1.0 - CAST(LENGTH(REGEXP_REPLACE(t, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |       / GREATEST(LENGTH(t), 1)) * 0.4
        |     + LEAST(LEN(toks), 100) / 100.0 * 0.2) * 1000000) AS BIGINT) AS score_q6
        |FROM tok ORDER BY doc_id""".stripMargin) { (s, d) =>
      val isStop = (x: Column) =>
        x === "the" || x === "a" || x === "of" || x === "to" || x === "and"
      val base = Tables.documents(s, d).select(
        col("doc_id"), lower(col("text")).as("t"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
      base.select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"), isStop)).cast("long").as("n_stop"),
        length(regexp_replace(col("t"), "[a-z0-9 ]", "")).cast("long").as("n_punct"),
        floor((
          size(filter(col("toks"), isStop)).cast("double")
            / greatest(size(col("toks")), lit(1)) * 0.4
            + (lit(1.0) - length(regexp_replace(col("t"), "[a-z0-9 ]", "")).cast("double")
              / greatest(length(col("t")), lit(1))) * 0.4
            + least(size(col("toks")), lit(100)) / 100.0 * 0.2) * 1000000)
          .cast("long").as("score_q6"))
        .orderBy(col("doc_id"))
    },

    // Language ID: marker-word occurrence scoring with a fixed priority argmax
    QueryDef.sql(
      "q_text_langid",
      s"""WITH ${Eval.scoredSql}
        |SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
        |  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'unknown'
        |       WHEN s_en >= GREATEST(s_de, s_fr, s_es) THEN 'en'
        |       WHEN s_de >= GREATEST(s_fr, s_es) THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
      Eval.predicted(Eval.scored(Tables.documents(s, d))).orderBy(col("doc_id"))
    },

    // Document fingerprint: rolling-hash sketch of the gram stream
    QueryDef.sql(
      "q_text_fingerprint",
      s"""WITH $gramsSql
         |SELECT doc_id,
         |  CAST(MIN(hm) AS BIGINT) AS fp_min,
         |  CAST(MAX(hm) AS BIGINT) AS fp_max,
         |  CAST(COUNT(DISTINCT g) AS BIGINT) AS fp_ndistinct,
         |  CAST(SUM(hm) % $P AS BIGINT) AS fp_sum
         |FROM grams GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // the fingerprint is a pure function of the normalized text, so the
      // gram explode (5× corpus bytes) runs once per DISTINCT text — on
      // duplicate-heavy data the hot path shrinks by the clone factor
      // (the rep-collapse pattern; oracle keeps the naive per-doc SQL).
      // Long text strings make bad shuffle keys, so the text shuffles
      // exactly ONCE: one groupBy(text) whose map-side combine collapses
      // clones before the wire, carrying the doc-id list (bounded by the
      // clone factor) so no second text-keyed join is ever needed. The
      // gram aggregation and the fan-back-out join both key on the
      // COMPACT 8-byte rep id.
      val m = Tables.documents(s, d)
        .select(col("doc_id"), normText(col("text")).as("t"))
        .filter(length(col("t")) >= 5)
      val reps = m.groupBy(col("t"))
        .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("ids"))
        .persist()
      val fps = reps.select(col("rep"), col("t"))
        .select(col("rep"), explode(sequence(lit(1), length(col("t")) - 4)).as("i"),
          col("t"))
        .select(col("rep"), substring(col("t"), col("i"), lit(5)).as("g"))
        .withColumn("hm", graft.functions.GramHash.gramHash5(col("g")))
        .groupBy(col("rep")).agg(
          min(col("hm")).as("fp_min"),
          max(col("hm")).as("fp_max"),
          countDistinct(col("g")).as("fp_ndistinct"),
          (sum(col("hm")) % P).as("fp_sum"))
      reps.select(col("rep"), explode(col("ids")).as("doc_id"))
        .join(fps, Seq("rep"))
        .select(col("doc_id"), col("fp_min"), col("fp_max"),
          col("fp_ndistinct"), col("fp_sum"))
        .orderBy(col("doc_id"))
    },

    // Multimodal plumbing: opaque-binary column with typed metadata extraction
    // (binary built from text here; real decode is the stubbed module,
    // pipeline/Multimodal.scala)
    QueryDef.sql(
      "q_multimodal_meta",
      """SELECT doc_id,
        |  CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
        |  HEX(ENCODE(SUBSTR(text, 1, 4))) AS magic,
        |  CAST(ASCII(SUBSTR(text, 1, 1)) AS BIGINT) AS first_cp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        hex(encode(substring(col("text"), 1, 4), "UTF-8")).as("magic"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("first_cp"))
        .orderBy(col("doc_id"))
    }
  )
}
