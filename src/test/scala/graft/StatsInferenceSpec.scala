package graft

import org.apache.spark.sql.functions._
import pipeline.TextPipeline

/** Invariants of the round-11 additions that the DuckDB differential
  * can't phrase: ANOVA's sum-of-squares decomposition against a raw
  * double recomputation, Mann-Whitney against the textbook raw-rank
  * formulation, connected components on a path and on split segments,
  * the PCA iterate being a fixpoint direction of its
  * own covariance matrix, Hellinger band membership, and negative-
  * sampling disjointness/determinism.
  */
class StatsInferenceSpec extends SparkSpec {

  test("anova: moments decomposition matches a raw double recomputation") {
    val r = SparkEntry.queries("q_anova_f")(spark, sf("sf0.01")).collect().head
    val k = r.getAs[Long]("k_groups"); val n = r.getAs[Long]("n_total")
    val ssb = r.getAs[Long]("ssb_q0"); val ssw = r.getAs[Long]("ssw_q0")
    val f = r.getAs[Long]("f_q6")
    // raw recomputation on doubles (different code path: no quantization)
    val rows = Tables.events(spark, sf("sf0.01"))
      .select(col("event_type"), (col("value") * 1000).as("x")).collect()
      .map(x => (x.getString(0), x.getDouble(1)))
    val groups = rows.groupBy(_._1).map { case (_, g) => g.map(_._2) }.toSeq
    assert(k == groups.size && n == rows.length)
    val gm = rows.map(_._2).sum / rows.length
    val ssbRaw = groups.map(g => g.length * math.pow(g.sum / g.length - gm, 2)).sum
    val sswRaw = groups.map(g => { val m = g.sum / g.length; g.map(v => math.pow(v - m, 2)).sum }).sum
    // quantization at q3 perturbs each value < 1 unit; SS agree to ~n units
    assert(math.abs(ssb - ssbRaw) / ssbRaw < 0.01, s"ssb $ssb vs raw $ssbRaw")
    assert(math.abs(ssw - sswRaw) / sswRaw < 0.01, s"ssw $ssw vs raw $sswRaw")
    val fRaw = (ssbRaw / (k - 1)) / (sswRaw / (n - k))
    assert(math.abs(f / 1e6 - fRaw) / fRaw < 0.02, s"F ${f / 1e6} vs raw $fRaw")
  }

  test("mann-whitney: histogram rank-sum equals the textbook raw-rank U") {
    val r = SparkEntry.queries("q_mann_whitney")(spark, sf("sf0.01")).collect().head
    val n0 = r.getAs[Long]("n0"); val n1 = r.getAs[Long]("n1")
    val u2 = r.getAs[Long]("u_x2")
    // textbook formulation: average ranks over raw rows (driver-side)
    val vals = Tables.events(spark, sf("sf0.01"))
      .select(pmod(col("user_id"), lit(2)).as("c"), floor(col("value") * 100).as("v"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(n0 == vals.count(_._1 == 0) && n1 == vals.count(_._1 == 1))
    val ranked = vals.sortBy(_._2).zipWithIndex
    val avgRank = ranked.groupBy(_._1._2).toSeq.flatMap { case (_, block) =>
      val mean = block.map(_._2 + 1.0).sum / block.size
      block.toSeq.map { case ((c, _), _) => (c, mean) }
    }
    val r1 = avgRank.collect { case (1L, rk) => rk }.sum
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    assert(math.abs(u2 - 2.0 * u1) < 1e-6, s"u_x2 $u2 vs raw 2U $u1")
    assert(u2 >= 0 && u2 <= 2 * n0 * n1)
  }

  test("connected components: a 97-path is one component, segments stay apart") {
    import spark.implicits._
    val ids = (0L until 97L).toDF("doc_id")
    val edges = (0L until 96L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    // one partition contracts the whole path; 8 leave a quotient path
    // for the propagation loop
    for (parts <- Seq(None, Some(8))) {
      val full = TextPipeline.dedupClusters(ids, edges, partsOverride = parts).collect()
      assert(full.forall(_.getAs[Long]("canonical_id") == 0L),
        s"parts $parts: the path must reach the minimum everywhere")
    }
    // two segments stay separate components
    val ids2 = (0L until 10L).toDF("doc_id")
    val e2 = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("doc1", "doc2")
    val lbl2 = TextPipeline.dedupClusters(ids2, e2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(lbl2(0L) == 0L && lbl2(1L) == 0L && lbl2(2L) == 0L)
    assert(lbl2(3L) == 3L && lbl2(4L) == 3L)
    assert(lbl2(5L) == 5L, "isolated vertex is its own component")
  }

  test("pca: the returned vector is a fixpoint direction of its covariance") {
    val v = SparkEntry.queries("q_pca_power_iter")(spark, sf("sf0.01")).collect()
      .map(r => r.getAs[Long]("dim") -> r.getAs[Long]("v_q6")).toMap
    assert(v.size == 64 && v.values.map(math.abs).max == 1000000L)
    // rebuild the covariance driver-side from the same q3 quantization
    val rows = Tables.embeddings(spark, sf("sf0.01"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(e => math.floor(e.toDouble * 1000).toLong).toArray)
    val n = rows.length; val dDim = 64
    val sx = Array.tabulate(dDim)(i => rows.map(_(i)).sum)
    val cov = Array.tabulate(dDim, dDim) { (i, j) =>
      val sxy = rows.map(r => r(i) * r(j)).sum
      math.floor((n.toDouble * sxy - sx(i).toDouble * sx(j)) / (n * 16.0))
    }
    val vv = Array.tabulate(dDim)(i => v(i + 1L).toDouble)
    def matVec(x: Array[Double]) =
      Array.tabulate(dDim)(i => (0 until dDim).map(j => cov(i)(j) * x(j)).sum)
    def rayleigh(x: Array[Double]) = {
      val mx = matVec(x)
      x.zip(mx).map { case (a, b) => a * b }.sum / x.map(a => a * a).sum
    }
    val mv = matVec(vv)
    val cosNum = vv.zip(mv).map { case (a, b) => a * b }.sum
    val cosDen = math.sqrt(vv.map(x => x * x).sum) * math.sqrt(mv.map(x => x * x).sum)
    assert(cosNum / cosDen > 0.9999,
      s"M·v must be parallel to v after M^1024 (cos=${cosNum / cosDen})")
    // the top of this spectrum is near-degenerate (λ2/λ1 ≈ 0.99), so the
    // DIRECTION is ill-conditioned — the well-posed claim is variance
    // capture: the iterate's Rayleigh quotient must reach the dominant
    // eigenvalue (estimated by an exhaustive driver-side power run)
    var ref = Array.fill(dDim)(1.0)
    for (_ <- 1 to 2000) {
      val w = matVec(ref); val m = w.map(math.abs).max
      ref = w.map(_ / m)
    }
    val l1 = rayleigh(ref)
    assert(rayleigh(vv) >= 0.999999 * l1,
      s"engine iterate captures ${rayleigh(vv) / l1} of the top eigenvalue")
  }

  test("hellinger: affinity in [0, 1e6], identity for a single-source corpus") {
    val rows = SparkEntry.queries("q_hellinger_sources")(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bc = r.getAs[Long]("bc_q6"); val h2 = r.getAs[Long]("h2_q6")
      assert(bc >= 0 && bc <= 1000000, s"bc out of band: $bc")
      assert(h2 == 1000000 - bc && h2 >= 0)
      // every source shares the corpus support here, so affinity is far from 0
      assert(bc > 100000, s"same-generator sources must overlap the corpus: $bc")
    }
  }

  test("auc-roc: U-identity bounds and rank consistency") {
    val r = SparkEntry.queries("q_auc_roc")(spark, sf("sf0.01")).collect().head
    val n1 = r.getAs[Long]("n_pos"); val n0 = r.getAs[Long]("n_neg")
    val u2 = r.getAs[Long]("u_x2"); val auc = r.getAs[Long]("auc_q6")
    assert(n0 > 0 && n1 > 0 && n0 + n1 == 500)
    assert(u2 >= 0 && u2 <= 2 * n0 * n1, s"U out of range: $u2")
    assert(auc == u2 * 500000 / (n0 * n1))
    assert(auc >= 0 && auc <= 1000000)
  }

  test("confusion matrix: marginals conserve the corpus") {
    val rows = SparkEntry.queries("q_langid_confusion")(spark, sf("sf0.01")).collect()
    val nDocs = Tables.documents(spark, sf("sf0.01")).count()
    // every document is exactly one (actual, predicted) cell: actual
    // marginals tp+fn sum to the corpus, predicted marginals tp+fp too
    assert(rows.map(r => r.getAs[Long]("tp") + r.getAs[Long]("fn")).sum == nDocs)
    assert(rows.map(r => r.getAs[Long]("tp") + r.getAs[Long]("fp")).sum == nDocs)
    rows.foreach { r =>
      Option(r.getAs[Any]("precision_q6")).foreach(p =>
        assert(p.asInstanceOf[Long] >= 0 && p.asInstanceOf[Long] <= 1000000))
      Option(r.getAs[Any]("f1_q6")).foreach { f =>
        val fl = f.asInstanceOf[Long]
        val p = r.getAs[Long]("precision_q6"); val rc = r.getAs[Long]("recall_q6")
        assert(fl <= math.max(p, rc) && fl >= math.min(p, rc) - 1,
          "harmonic mean must sit between precision and recall")
      }
    }
  }

  test("tukey hsd: all pairs present, q >= 0, consistent with anova moments") {
    val rows = SparkEntry.queries("q_tukey_hsd")(spark, sf("sf0.01")).collect()
    val k = SparkEntry.queries("q_anova_f")(spark, sf("sf0.01")).collect()
      .head.getAs[Long]("k_groups")
    assert(rows.length == k * (k - 1) / 2, "one row per unordered group pair")
    rows.foreach { r =>
      assert(r.getAs[String]("g1") < r.getAs[String]("g2"))
      Option(r.getAs[Any]("q_q6")).foreach(q => assert(q.asInstanceOf[Long] >= 0))
    }
  }

  test("mcnemar: discordant pairs exist and chi2 matches the closed form") {
    val r = SparkEntry.queries("q_mcnemar")(spark, sf("sf0.01")).collect().head
    val b = r.getAs[Long]("b"); val c = r.getAs[Long]("c")
    assert(b + c > 0, "the threshold must leave discordant pairs at sf0.01")
    assert(b + c <= r.getAs[Long]("n_users"))
    assert(r.getAs[Long]("chi2_q6") == (b - c) * (b - c) * 1000000 / (b + c))
  }

  test("negative sampling: disjoint from positives and deterministic") {
    val d = sf("sf0.01")
    val neg = SparkEntry.queries("q_negative_sampling")(spark, d)
    val pos = Tables.orders(spark, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, d).select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey")), Seq("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_partkey").as("neg_partkey"))
      .distinct()
    assert(neg.join(pos, Seq("custkey", "neg_partkey"), "left_semi").count() == 0,
      "a sampled negative must never be an observed positive")
    val a = neg.collect().map(_.toString()).sorted
    val b = SparkEntry.queries("q_negative_sampling")(spark, d).collect().map(_.toString()).sorted
    assert(a.sameElements(b), "the sample must be bit-identical run over run")
  }
}
