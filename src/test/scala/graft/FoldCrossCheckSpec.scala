package graft

import org.apache.spark.sql.functions._
import graft.operators.StatsTimeSeries
import graft.pipeline.TextPipeline

/** Independent replays of the distributed sequential folds and the
  * connected-components machinery: each test recomputes the answer with a
  * plain driver-side recursion (collect → foldLeft / union-find) and
  * demands exact equality with the engine's repartition +
  * sortWithinPartitions + mapPartitions (or keyed-join) formulation —
  * the part the DuckDB oracle shares no code with is exactly the
  * distributed assembly being checked here.
  */
class FoldCrossCheckSpec extends SparkSpec {

  test("dedupClusters equals union-find on random graphs") {
    import spark.implicits._
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(70) {
        val a = rnd.nextInt(n); val b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(e => e._1 != e._2).distinct
      // driver-side union-find: each vertex's label is its component minimum
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for ((a, b) <- edges) parent(find(a.toInt)) = find(b.toInt)
      val expected = (0 until n).map(v => (0 until n).filter(u => find(u) == find(v)).min.toLong)
      val ids = (0L until n.toLong).toDF("doc_id")
      // default width contracts everything in one partition; 8 partitions
      // leave a quotient graph for the propagation loop
      for (parts <- Seq(None, Some(8))) {
        val got = TextPipeline.dedupClusters(ids, edges.toDF("doc1", "doc2"),
            partsOverride = parts)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        for (v <- 0 until n)
          assert(got(v.toLong) == expected(v), s"seed $seed, parts $parts: label diverges at $v")
      }
    }
  }

  test("holt-winters fold equals a driver-side recursion per event type") {
    val dir = sf("sf0.01")
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg((count(lit(1)) * 100).as("xc"))
      .select(col("event_type"), col("day").cast("string"), col("xc"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = daily.groupBy(_._1).flatMap { case (t, rows) =>
      val xs = rows.sortBy(_._2).map(_._3)
      if (xs.length <= 7) None
      else {
        var l = xs.take(7).sum / 7
        var b = 0L
        val sv = Array.tabulate(7)(i => xs(i) - l)
        for (i <- 7 until xs.length) {
          val slot = i % 7 // 0-based i = rn - 1
          val (l2, b2, s2) = StatsTimeSeries.hwStep(l, b, sv(slot), xs(i))
          l = l2; b = b2; sv(slot) = s2
        }
        val n = xs.length.toLong
        Some(t -> ((n, l, b, sv.toSeq, l + b + sv((n % 7).toInt))))
      }
    }
    val got = SparkEntry.queries("q_holt_winters")(spark, dir).collect()
    assert(got.length == expected.size)
    for (r <- got) {
      val t = r.getAs[String]("event_type")
      val (n, l, b, sv, fc1) = expected(t)
      assert(r.getAs[Long]("n_days") == n && r.getAs[Long]("level_c") == l
        && r.getAs[Long]("trend_c") == b && r.getAs[Long]("fc1_c") == fc1,
        s"$t: (${r.getAs[Long]("n_days")},${r.getAs[Long]("level_c")}," +
          s"${r.getAs[Long]("trend_c")},${r.getAs[Long]("fc1_c")}) vs ($n,$l,$b,$fc1)")
      for (i <- 0 until 7)
        assert(r.getAs[Long](s"s${i}_c") == sv(i), s"$t slot $i")
    }
  }

  test("croston fold equals a driver-side recursion per part") {
    val dir = sf("sf0.01")
    val dem = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("di"))
      .agg(sum(col("l_quantity").cast("long")).as("sz"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = dem.groupBy(_._1).flatMap { case (pk, rows) =>
      val seq = rows.sortBy(_._2)
      if (seq.length < 2) None
      else {
        var z = seq.head._3; var p = 0L; var lastDi = seq.head._2
        for (((_, di, sz), idx) <- seq.zipWithIndex.drop(1)) {
          val g = di - lastDi
          z = math.floor((sz + z) / 2.0).toLong
          p = if (idx == 1) g else math.floor((g + p) / 2.0).toLong
          lastDi = di
        }
        Some(pk -> ((seq.length.toLong, z, p)))
      }
    }
    val got = SparkEntry.queries("q_croston")(spark, dir).collect()
    val expTop = expected.keys.toSeq.sorted.take(500)
    assert(got.map(_.getAs[Long]("l_partkey")).toSeq == expTop)
    for (r <- got) {
      val (n, z, p) = expected(r.getAs[Long]("l_partkey"))
      assert(r.getAs[Long]("n_demands") == n && r.getAs[Long]("z_c") == z
        && r.getAs[Long]("p_c") == p)
      assert(r.getAs[Long]("rate_q6") == z * 1000000L / p)
      assert(r.getAs[Long]("sba_q6") == z * 750000L / p)
    }
  }
}
