package graft

import graft.pipeline.SparseProduct
import graft.pipeline.SparseProduct.Names
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sparse product against a brute-force model of its definition,
  * plus the per-key degree cap the co-occurrence family applies first. */
class SparseProductSpec extends SparkSpec {
  import spark.implicits._

  private type R = (String, Long, Long, Long)
  /** (key, sub-key, row, weight) rows: rows 1..3 share k1, 1..2 share k2,
    * 3..4 share k3 (split by sub-key into two keys of one row each), and
    * row 9 alone holds "solo". */
  private val rows: Seq[R] = Seq(
    ("k1", 0L, 1L, 2L), ("k1", 0L, 2L, 3L), ("k1", 0L, 3L, 1L),
    ("k2", 0L, 1L, 4L), ("k2", 0L, 2L, 1L),
    ("k3", 0L, 3L, 5L), ("k3", 1L, 4L, 2L),
    ("solo", 0L, 9L, 7L))
  private def rel(rs: Seq[R]): DataFrame =
    rs.toDF("k", "s", "r", "w")
  private val names = Names("r1", "r2", "n")

  /** The product from its definition: every two rows meeting on `key`
    * with r1 < r2 add 1 (or w₁·w₂); the diagonal is each row's count
    * (or Σ w²). Rows (r1, r2, n, n1, n2). */
  private def model(rs: Seq[R], key: R => Any,
                    weighted: Boolean): Set[(Long, Long, Long, Long, Long)] = {
    def entry(x: R, y: R) = if (weighted) x._4 * y._4 else 1L
    val pairs = (for (x <- rs; y <- rs if key(x) == key(y) && x._3 < y._3)
      yield (x._3, y._3) -> entry(x, y)).groupMapReduce(_._1)(_._2)(_ + _)
    val diag = rs.groupMapReduce(_._3)(x => entry(x, x))(_ + _)
    pairs.map { case ((a, b), n) => (a, b, n, diag(a), diag(b)) }.toSet
  }

  private def collect(df: DataFrame) =
    df.select($"r1", $"r2", $"n", $"n1", $"n2")
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  test("product counts shared keys and attaches each row's key count") {
    val got = collect(SparseProduct.product(rel(rows), Seq("k"), "r", names))
    assert(got == model(rows, _._1, weighted = false))
    assert(got == Set((1L, 2L, 2L, 2L, 2L), (1L, 3L, 1L, 2L, 2L),
      (2L, 3L, 1L, 2L, 2L), (3L, 4L, 1L, 2L, 1L)))
    // r1 < r2 on every pair; row 9's key holds no other row
    assert(got.forall(p => p._1 < p._2))
    assert(!got.exists(p => p._1 == 9L || p._2 == 9L))
  }

  test("weighted product sums w·w and attaches Σ w²") {
    val got = collect(SparseProduct.product(rel(rows), Seq("k"), "r", names,
      weight = Some("w")))
    assert(got == model(rows, _._1, weighted = true))
    assert(got == Set((1L, 2L, 10L, 20L, 10L), (1L, 3L, 2L, 20L, 26L),
      (2L, 3L, 3L, 10L, 26L), (3L, 4L, 10L, 26L, 4L)))
  }

  test("rows meet on every key column") {
    val got = collect(SparseProduct.product(rel(rows), Seq("k", "s"), "r", names))
    assert(got == model(rows, x => (x._1, x._2), weighted = false))
    assert(!got.exists(p => p._1 == 3L && p._2 == 4L))
  }

  test("the minimum keeps the pairs whose entry reaches it") {
    for (m <- Seq(1L, 2L, 3L)) {
      val got = collect(SparseProduct.product(rel(rows), Seq("k"), "r", names,
        min = Some(m)))
      assert(got == model(rows, _._1, weighted = false).filter(_._3 >= m), s"min $m")
    }
  }

  test("pairs is the product without its diagonal") {
    val got = SparseProduct.pairs(rel(rows), Seq("k"), "r", names, weight = Some("w"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == model(rows, _._1, weighted = true).map(p => (p._1, p._2, p._3)))
  }

  test("zero-row and one-row relations give no pairs") {
    for (rs <- Seq(Seq.empty, rows.take(1))) {
      assert(SparseProduct.product(rel(rs), Seq("k"), "r", names).count() == 0L)
      assert(SparseProduct.product(rel(rs), Seq("k"), "r", names,
        weight = Some("w")).count() == 0L)
    }
  }

  test("symmetric emits both orientations of every pair once") {
    val upper = SparseProduct.product(rel(rows), Seq("k"), "r", names)
    val got = SparseProduct.symmetric(upper, "r1", "r2", "a", "b", "n")
      .as[(Long, Long, Long)].collect().toSeq
    val tri = model(rows, _._1, weighted = false).toSeq.map(p => (p._1, p._2, p._3))
    assert(got.sorted == (tri ++ tri.map(p => (p._2, p._1, p._3))).sorted)
  }

  test("capItemsPerKey bounds an adversarial power user") {
    // vocab of 1000 items; a power user holding ALL of them plus 50
    // normal users with 5 items each. cap = max(64, 4·⌊√1000⌋=124) = 124.
    val power = (1L to 1000L).map(i => ("power", i))
    val normal = for (u <- 1 to 50; i <- 1 to 5)
      yield (s"u$u", (u * 13 + i * 7).toLong % 1000L + 1L)
    val ui = (power ++ normal).toDF("user_id", "item").distinct()
    val capped = SparseProduct.capItemsPerKey(ui, "user_id", "item")
    val byUser = capped.groupBy("user_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byUser("power") == 124L)          // truncated to the cap
    assert(byUser.filter(_._1 != "power").values.forall(_ <= 5L)) // untouched
    // the deterministic truncation keeps the SMALLEST item ids
    assert(capped.filter(col("user_id") === "power")
      .agg(max(col("item"))).collect().head.getLong(0) == 124L)
    // pair fanout is now (124 choose 2), not (1000 choose 2)
    val pairs = capped.as("a").join(capped.as("b"),
      col("a.user_id") === col("b.user_id") && col("a.item") < col("b.item"))
    val powerPairs = pairs.filter(col("a.user_id") === "power").count()
    assert(powerPairs == 124L * 123L / 2L)
  }

  test("capItemsPerKey cap scales sublinearly with the vocabulary") {
    // 3200 distinct items -> cap = max(64, 4·⌊√3200⌋=224) = 224
    val ui = (1L to 3200L).map(i => ("u", i)).toDF("user_id", "item")
    assert(SparseProduct.capItemsPerKey(ui, "user_id", "item").count() == 224L)
    // quadruple the vocabulary -> the cap only doubles (√ law):
    // 12800 items -> cap = 4·⌊√12800⌋ = 4·113 = 452
    val ui4 = (1L to 12800L).map(i => ("u", i)).toDF("user_id", "item")
    assert(SparseProduct.capItemsPerKey(ui4, "user_id", "item").count() == 452L)
  }

  test("capItemsPerKey equals the per-key model and is idempotent") {
    val rnd = new scala.util.Random(4242)
    val rows = (0 until 4000).map { _ =>
      (s"u${rnd.nextInt(40)}", rnd.nextInt(900).toLong)
    }.distinct
    val ui = rows.toDF("user_id", "item")
    val capped = SparseProduct.capItemsPerKey(ui, "user_id", "item")
      .as[(String, Long)].collect().toSet
    // model: per key keep the max(64, 4·⌊√nv⌋) smallest items
    val nv = rows.map(_._2).distinct.size
    val cap = math.max(64L, 4L * math.floor(math.sqrt(nv.toDouble)).toLong)
    val model = rows.groupBy(_._1).toSeq.flatMap { case (u, rs) =>
      rs.map(_._2).distinct.sorted.take(cap.toInt).map(u -> _)
    }.toSet
    assert(capped == model,
      s"sizes spark=${capped.size} model=${model.size}")
    assert(capped.subsetOf(rows.toSet))
    // idempotence: capping a capped set changes nothing
    val twice = SparseProduct.capItemsPerKey(
      SparseProduct.capItemsPerKey(ui, "user_id", "item"), "user_id", "item")
      .as[(String, Long)].collect().toSet
    assert(twice == capped)
  }
}
