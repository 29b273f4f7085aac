package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own arithmetic and generators: if these are wrong, every
  * figure the benchmark prints is wrong. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  override def afterAll(): Unit = spark.stop()

  test("percentile interpolates linearly between order statistics") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-9)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("the geometric mean weights each sample equally in log space") {
    assert(math.abs(Stats.geoMean(Seq(7.0)) - 7) < 1e-9)
    assert(math.abs(Stats.geoMean(Seq(100.0, 400.0)) - 200) < 1e-9)
    // a kind three times as frequent weighs three times: 100^(3/4) * 1600^(1/4) = 200
    assert(math.abs(Stats.geoMean(Seq(100.0, 1600.0, 100.0, 100.0)) - 200) < 1e-9)
    // two clusters of ten: one sample crossing over moves the median by
    // half the gap, the geometric mean by a twentieth of the log gap
    val two = Seq.fill(10)(100.0) ++ Seq.fill(10)(200.0)
    val moved = Seq.fill(11)(100.0) ++ Seq.fill(9)(200.0)
    assert(Stats.median(two) - Stats.median(moved) == 50.0)
    assert(Stats.geoMean(two) - Stats.geoMean(moved) < 5.0)
    assertThrows[IllegalArgumentException](Stats.geoMean(Seq(1.0, 0.0)))
  }

  private def beyond(xs: Seq[Double], q: Double): Int = {
    val p = Stats.percentile(xs, q)
    xs.count(_ > p)
  }

  test("p90 has at least ten samples beyond it at the sample count the catalog serves") {
    val n = Stats.samplesForTail(90, 10)
    assert(n == 92)
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val xs = Seq.fill(n)(rnd.nextDouble() * 1000)
      assert(beyond(xs, 90) >= 10)
    }
    // one sample fewer cannot guarantee it
    assert(beyond((1 to n - 1).map(_.toDouble), 90) < 10)
    // and the reported tail of a registry sweep is the highest such percentile
    assert(Stats.tailPercentile(92, 10) == 90)
    val t = Stats.tailPercentile(31, 10)
    assert(t == 69 && beyond((1 to 31).map(_.toDouble), t) >= 10 &&
      beyond((1 to 31).map(_.toDouble), t + 1) < 10)
  }

  test("unattributed driver time is the wall time minus the union of stage spans") {
    // overlapping, nested and disjoint stages; one stage outside the window
    val spans = Seq((100L, 300L), (200L, 400L), (250L, 260L), (600L, 700L), (2000L, 2100L))
    val union = Stats.unionLength(spans, 0L, 1000L)
    assert(union == 300 + 100)
    assert(1000 - union == 600)
    // clipping at the window edges
    assert(Stats.unionLength(spans, 150L, 650L) == 250 + 50)
    assert(Stats.unionLength(Nil, 0L, 10L) == 0)
    // a naive sum of spans would double count the overlap
    assert(spans.take(3).map { case (s, e) => e - s }.sum > Stats.unionLength(spans.take(3), 0, 1000))
  }

  test("digests ignore row order and partitioning") {
    val hs = Seq(1L, -5L, Long.MaxValue, Long.MinValue, 42L, 42L)
    assert(Stats.Digest.of(hs) == Stats.Digest.of(hs.reverse))
    assert(Stats.Digest.of(hs) != Stats.Digest.of(hs.drop(1)))
    // duplicates count: a multiset digest, not a set digest
    assert(Stats.Digest.of(hs) != Stats.Digest.of(hs.distinct))

    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"v${i % 17}", i * 0.5, Map(i -> i.toString)))
      .toDF("k", "s", "d", "m")
    val d = Registry.digest(df)
    assert(d.rows == 500)
    assert(Registry.digest(df.orderBy(col("s").desc, col("k"))) == d)
    assert(Registry.digest(df.repartition(7, col("s"))) == d)
    assert(Registry.digest(df.filter(col("k") =!= 3)) != d)
    // the observed digest on the noop sink is the same digest
    assert(Registry.writeObserved(df.repartition(5))() == d)
    // and both fold row hashes exactly as the driver-side reference does
    val flat = df.drop("m")
    val hashes = flat.select(xxhash64(flat.columns.map(col).toIndexedSeq: _*)).as[Long].collect()
    assert(Registry.digest(flat) == Stats.Digest.of(hashes.toSeq))
  }

  test("catalog generators give the same inputs for the same seed, other inputs for another") {
    val s = CatalogGen.Sizes(tracks = 5, burstsPerTrack = 12, surveyDates = 20, historyDates = 6)
    assert(CatalogGen.grid(11, s) == CatalogGen.grid(11, s))
    assert(CatalogGen.surveyCsv(11, s) == CatalogGen.surveyCsv(11, s))
    assert(CatalogGen.historical(11, s) == CatalogGen.historical(11, s))
    assert(CatalogGen.landWkt(11) == CatalogGen.landWkt(11))
    assert(CatalogGen.grid(11, s) != CatalogGen.grid(12, s))
    assert(CatalogGen.surveyCsv(11, s) != CatalogGen.surveyCsv(12, s))
    assert(CatalogGen.landWkt(11) != CatalogGen.landWkt(12))

    // F1: three subswaths per burst; an antimeridian and two polar tracks
    val g = CatalogGen.grid(11, s)
    assert(g.length == 5 * 12 * 3)
    assert(g.map(_.ogcFid).distinct.length == g.length)
    assert(g.exists(b => b.wkt.contains(" -179.") || b.wkt.contains("(-179.")))
    assert(g.exists(_.lat > 75) && g.exists(_.lat < -60))
    // F4: duplicate revisions, non-VV and malformed rows are all present
    val rows = CatalogGen.surveyCsv(11, s).split('\n').drop(1).toSeq
    val ids = rows.map(_.split(',')(0))
    assert(ids.diff(ids.distinct).nonEmpty)
    assert(ids.exists(_.contains("_VH_")) && ids.exists(_.startsWith("BROKEN")))
    // granule slicing used by the engine: burst id at 18..32, pol at 72..73
    val gr = ids.find(_.startsWith("OPERA")).get
    assert(gr.substring(17, 32).matches("T\\d{3}-\\d{6}-IW\\d"))
    assert(gr.substring(71, 73) == "VV" || gr.substring(71, 73) == "VH")
  }

  test("registry table generator is deterministic per seed") {
    def rows(t: String, seed: Long) =
      TableGen.table(spark, t, 0.001, seed).collect().map(_.toString).toSeq
    Seq("orders", "events", "documents", "embeddings").foreach { t =>
      val a = rows(t, 3)
      assert(a.nonEmpty)
      assert(a == rows(t, 3), t)
      assert(a != rows(t, 4), t)
    }
    // schema follows the test tables the registry is written against
    assert(TableGen.table(spark, "lineitem", 0.001, 3).columns.toSeq == Seq("l_orderkey",
      "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
    assert(TableGen.table(spark, "lineitem", 0.001, 3).count() == 6000)
  }

  test("BENCHMARK.json lists the metrics the harness prints, with their units") {
    val b = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def names(k: String) = {
      import scala.jdk.CollectionConverters._
      b.get(k).elements().asScala.map(m => (m.get("name").asText, m.get("unit").asText)).toSeq
    }
    assert(names("end_to_end").map(_._1) == Main.EndToEnd)
    assert(names("per_layer") == Layers.names.map(n => (n, Layers.unit(n))))
    import scala.jdk.CollectionConverters._
    assert(b.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Main.Workloads)
  }

  test("the per-layer list names every registry module and is unique") {
    assert(Layers.names.distinct.length == Layers.names.length)
    Registry.checkCoverage()
    // one query per picked module (plus the family members), the three
    // graph modules among them, and both heavy families in the timed sample
    val picks = Registry.Sample ++ Registry.TracedOnly
    assert(picks.distinct.length == picks.length)
    val mods = picks.map(Registry.moduleOf)
    assert(mods.distinct.length == 30)
    assert(Set("pipeline.Graphs", "pipeline.GraphStructure", "pipeline.GraphMining").subsetOf(mods.toSet))
    Registry.families.foreach { case (_, qs) => assert(Registry.Sample.exists(qs.contains)) }
  }
}
