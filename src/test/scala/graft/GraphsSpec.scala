package graft

import graft.pipeline.Graphs
import org.apache.spark.sql.functions._

/** Triangle census + BFS against brute-force answers on graphs small
  * enough to enumerate, plus the skyline/incremental-agg invariants the
  * oracle can't phrase (dominance checked pairwise in Scala). */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  private def edgesDf(pairs: Seq[(Long, Long)]) =
    pairs.toDF("a", "b")

  test("triangleStats counts a known graph exactly") {
    // K4 on {0,1,2,3} (4 triangles, 12 wedges) plus a pendant 3-4
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val g = edgesDf(k4 :+ (3L, 4L))
    val row = Graphs.triangleStats(g).collect().head
    assert(row.getAs[Long]("n_vertices") == 5)
    assert(row.getAs[Long]("n_edges") == 7)
    // wedges: deg(0..2)=3 → 3 each, deg(3)=4 → 6, deg(4)=1 → 0
    assert(row.getAs[Long]("n_wedges") == 15)
    assert(row.getAs[Long]("n_triangles") == 4)
    // clustering = 3·4/15 = 0.8
    assert(row.getAs[Long]("clustering_q6") == 800000L)
  }

  test("triangleStats matches brute force on the synthetic doc graph") {
    val docs = Tables.documents(spark, sf())
    val ue = Graphs.undirectedEdges(docs)
    val edges = ue.as[(Long, Long)].collect().toSet
    val byV = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).map { case (v, ns) => v -> ns.toSet }
    val naive = edges.toSeq.map { case (a, b) =>
      (byV(a) & byV(b)).count(c => c > b)
    }.sum
    val row = Graphs.triangleStats(ue).collect().head
    assert(row.getAs[Long]("n_triangles") == naive.toLong)
    assert(row.getAs[Long]("n_edges") == edges.size.toLong)
  }

  test("bfsHops hop labels are consistent shortest distances") {
    val hops = Graphs.bfsHops(Tables.documents(spark, sf()), 0L, 3)
      .as[(Long, Long)].collect()
    assert(hops.count(_._2 == 0L) == 1 && hops.exists(h => h._1 == 0L && h._2 == 0L))
    assert(hops.map(_._2).max <= 3L)
    // frontier growth: out-degree 3 caps hop h at 3^h new nodes
    val perHop = hops.groupBy(_._2).view.mapValues(_.length).toMap
    for (h <- 1L to 3L; n <- perHop.get(h)) assert(n <= math.pow(3, h.toDouble).toInt)
    // every hop-h node has an in-edge from some hop-(h-1) node
    val edges = Graphs.syntheticEdges(Tables.documents(spark, sf()))
      .as[(Long, Long)].collect().groupMap(_._2)(_._1)
    val hopOf = hops.toMap
    for ((v, h) <- hops if h > 0)
      assert(edges(v).exists(src => hopOf.get(src).exists(_ == h - 1)),
        s"node $v at hop $h has no predecessor at hop ${h - 1}")
  }

  test("shortestPaths matches driver-side Bellman-Ford on the doc graph") {
    val docs = Tables.documents(spark, sf())
    val got = Graphs.shortestPaths(docs, 0L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    // brute-force the same SYNCHRONOUS bounded relaxation (one frontier
    // per round, matching the engine's round semantics) on collected edges
    val edges = Graphs.syntheticEdges(docs).as[(Long, Long)].collect()
      .map { case (s, t) => (s, t, (s * 31 + t * 17) % 97 + 1) }
    var sync = Map(0L -> 0L)
    for (_ <- 1 to 4) {
      val relaxed = edges.flatMap { case (s, t, w) => sync.get(s).map(ds => t -> (ds + w)) }
      sync = (sync.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
    }
    assert(got == sync)
    assert(got(0L) == 0L && got.size > 1)
  }

  test("kCoreCensus matches driver-side synchronous peeling") {
    val docs = Tables.documents(spark, sf())
    val got = Graphs.kCoreCensus(docs, k = 3, rounds = 4)
      .select($"round".as[Long], $"n_core".as[Long], $"sum_ids".as[Long])
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val edges = Graphs.undirectedEdges(docs).as[(Long, Long)].collect()
    var surv = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val expect = scala.collection.mutable.Map(
      0L -> ((surv.size.toLong, surv.sum)))
    for (r <- 1 to 4) {
      val deg = edges.filter(e => surv(e._1) && surv(e._2))
        .flatMap(e => Seq(e._1, e._2))
        .groupMapReduce(identity)(_ => 1L)(_ + _)
      surv = deg.collect { case (v, d) if d >= 3 => v }.toSet
      expect(r.toLong) = (surv.size.toLong, surv.sum)
    }
    assert(got == expect.toMap)
    // peeling is monotone: core sizes never grow round over round
    val sizes = (0L to 4L).map(r => got(r)._1)
    assert(sizes.zip(sizes.tail).forall { case (a, b) => b <= a })
  }

  test("skyline output is exactly the non-dominated set") {
    val pp = Tables.part(spark, sf())
      .select($"p_partkey".as[Long], $"p_size".cast("long").as[Long],
        floor($"p_retailprice" * 100).cast("long").as[Long])
      .collect()
    val sky = SparkEntry.queries("q_skyline")(spark, sf())
      .select($"p_partkey").as[Long].collect().toSet
    def dominated(p: (Long, Long, Long)) = pp.exists(q =>
      q._2 >= p._2 && q._3 <= p._3 && (q._2 > p._2 || q._3 < p._3))
    val want = pp.filterNot(dominated).map(_._1).toSet
    assert(sky == want)
  }

  test("incremental merge equals full recompute") {
    val full = Tables.orders(spark, sf())
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(floor($"o_totalprice" * 100).cast("long")).as("sum_c"))
      .select($"o_orderstatus", $"o_orderpriority", $"n", $"sum_c",
        expr("sum_c div n").as("avg_c"))
      .orderBy($"o_orderstatus", $"o_orderpriority")
      .collect()
    val merged = SparkEntry.queries("q_incremental_agg")(spark, sf()).collect()
    assert(merged.toSeq == full.toSeq)
  }

  test("skewedEdges is deterministic with a genuine hot vertex") {
    val docs = Tables.documents(spark, sf())
    val e1 = Graphs.skewedEdges(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    val e2 = Graphs.skewedEdges(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(e1.sorted.sameElements(e2.sorted))   // derivation, not sampling
    val n = docs.count()
    assert(e1.length == 3 * n)                  // uniform out-degree 3
    // node 0 receives ~half of ALL edges — the hub the ring graph lacks
    val hubIn = e1.count(_._2 == 0L)
    assert(hubIn >= e1.length * 2 / 5, s"hub in-degree $hubIn of ${e1.length}")
    // and the in-degree tail is heavy: > 10x the median in-degree
    val inDeg = e1.groupBy(_._2).view.mapValues(_.length).values.toSeq.sorted
    assert(hubIn > 10L * inDeg(inDeg.size / 2))
  }
}
