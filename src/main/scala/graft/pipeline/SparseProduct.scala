package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sparse product XᵀX of a (key, row[, weight]) relation X: for each
  * pair of rows r1 < r2, the number of keys they share (or Σ w₁·w₂), with
  * each row's diagonal entry (its key count, or Σ w²). One self-join on
  * the key, one combiner-backed aggregate per pair, two keyed joins of the
  * per-row diagonal. (A row-keyed window carrying the diagonal on each
  * row instead saves those joins but adds two shuffles of X: ~0.5 s
  * slower on q_sparse_cosine_topk at sf0.1.) Per-key fanout is quadratic
  * in the key's rows, so callers with unbounded keys cap them first
  * ([[capItemsPerKey]]). Weights are integers, so every entry is exact
  * in both engines. */
object SparseProduct {

  /** Output columns: the pair `r1 < r2`, its entry `n`, and the diagonal
    * entries `n1` of r1 and `n2` of r2. */
  final case class Names(r1: String, r2: String, n: String,
                         n1: String = "n1", n2: String = "n2")

  /** Deterministic per-key degree cap for bipartite projections: keep
    * each key's GREATEST(k, mult·⌊√|itemVocab|⌋) smallest item ids (one
    * row_number window partitioned by the key — an order-free, engine-
    * portable truncation). Without it, a single adversarial power key
    * holding a large share of the vocabulary makes the per-key pair
    * self-join quadratic in the vocabulary.
    *
    * Scale contract (exact, not "bounded at any scale"): per-key pair
    * fanout is cap² = max(k, mult·√|V|)² ≤ max(k², mult²·|V|) — LINEAR
    * in vocabulary growth, under ANY per-key inflation or skew. The
    * earlier |V|/c law kept per-key *skew* bounded but let the per-key
    * output grow quadratically with the corpus (cap² = |V|²/c²); the
    * √|V| law makes hub output track total-vocabulary growth instead,
    * which is the right asymptote for a co-occurrence projection whose
    * global cell count is itself Θ(|V|·avg-degree). isqrt is computed as
    * FLOOR(SQRT(CAST(nv AS DOUBLE))): IEEE sqrt is correctly rounded in
    * both the JVM and DuckDB, so the truncation is bit-identical in both
    * engines and the differential hashes stay meaningful. */
  def capItemsPerKey(ui: DataFrame, keyCol: String, itemCol: String,
                     k: Long = 64L, mult: Long = 4L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = ui.agg(countDistinct(col(itemCol)).as("nv"))
    ui.withColumn("rn_cap",
        row_number().over(Window.partitionBy(col(keyCol)).orderBy(col(itemCol))))
      .crossJoin(broadcast(vocab))
      .filter(col("rn_cap") <= greatest(lit(k),
        (lit(mult) * floor(sqrt(col("nv").cast("double")))).cast("long")))
      .drop("rn_cap", "nv")
  }

  /** The SQL twin of [[capItemsPerKey]]'s cap bound, for oracle CTEs:
    * `GREATEST(k, mult * CAST(FLOOR(SQRT(CAST(<nvExpr> AS DOUBLE))) AS BIGINT))`. */
  def capSql(nvExpr: String, k: Long = 64L, mult: Long = 4L): String =
    s"GREATEST($k, $mult * CAST(FLOOR(SQRT(CAST($nvExpr AS DOUBLE))) AS BIGINT))"

  /** The upper triangle of `rel`'s product with both diagonal entries.
    * Rows meet on all of `key`; `weight` turns the counts into Σ w·w;
    * `min` keeps the pairs whose entry reaches it. */
  def product(rel: DataFrame, key: Seq[String], row: String, names: Names,
              weight: Option[String] = None, min: Option[Long] = None): DataFrame =
    withDiagonal(pairs(rel, key, row, names, weight, min), rel, row, names, weight)

  /** The upper triangle alone: columns `r1, r2, n`. */
  def pairs(rel: DataFrame, key: Seq[String], row: String, names: Names,
            weight: Option[String] = None, min: Option[Long] = None): DataFrame = {
    val meet = key.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
      col(s"l.$row") < col(s"r.$row")
    val entry = weight.fold(count(lit(1)))(w => sum(col(s"l.$w") * col(s"r.$w")))
    val upper = rel.as("l").join(rel.as("r"), meet)
      .groupBy(col(s"l.$row").as(names.r1), col(s"r.$row").as(names.r2))
      .agg(entry.as(names.n))
    min.fold(upper)(m => upper.filter(col(names.n) >= m))
  }

  /** `upper` (a subset of [[pairs]]) with `rel`'s diagonal entries joined
    * on: `n1` on `r1`, `n2` on `r2`. */
  def withDiagonal(upper: DataFrame, rel: DataFrame, row: String, names: Names,
                   weight: Option[String] = None): DataFrame = {
    val diag = rel.groupBy(col(row))
      .agg(weight.fold(count(lit(1)))(w => sum(col(w) * col(w))).as("d"))
    upper
      .join(diag.select(col(row).as(names.r1), col("d").as(names.n1)), Seq(names.r1))
      .join(diag.select(col(row).as(names.r2), col("d").as(names.n2)), Seq(names.r2))
  }

  /** Both orientations of a triangle's pairs: each (r1, r2, carry…) row
    * becomes (a = r1, b = r2, carry…) and (a = r2, b = r1, carry…). One
    * explode evaluates the triangle once; the two branches of a union are
    * not exchange-reused, so the whole product would run twice. */
  def symmetric(upper: DataFrame, r1: String, r2: String, a: String, b: String,
                carry: String*): DataFrame = {
    def side(x: String, y: String) = struct(col(x).as(a) +: col(y).as(b) +: carry.map(col): _*)
    upper.select(explode(array(side(r1, r2), side(r2, r1))).as("e"))
      .select((a +: b +: carry).map(c => col(s"e.$c").as(c)): _*)
  }
}
