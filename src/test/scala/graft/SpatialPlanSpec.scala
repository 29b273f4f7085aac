package graft

import graft.functions.GeoFunctions
import graft.plans.SpatialExpressions
import org.apache.spark.sql.functions._

class SpatialPlanSpec extends SparkSpec {
  import spark.implicits._

  private def framesDf() = (1 to 50).map { i =>
    val x = (i % 10) * 10.0; val y = (i / 10) * 10.0
    (i, x.toLong, y.toLong, (x + 8).toLong, (y + 8).toLong,
      s"POLYGON (($x $y, ${x + 8} $y, ${x + 8} ${y + 8}, $x ${y + 8}, $x $y))")
  }.toDF("fid", "bb_xmin", "bb_ymin", "bb_xmax", "bb_ymax", "geom")

  test("native st_intersects matches the UDF") {
    val df = framesDf()
    val q = "POLYGON ((15 15, 30 15, 30 30, 15 30, 15 15))"
    val nat = df.filter(SpatialExpressions.stIntersectsNative($"geom", q))
      .select($"fid").as[Int].collect().sorted.toSeq
    val udf = df.filter(GeoFunctions.stIntersects($"geom", lit(q)))
      .select($"fid").as[Int].collect().sorted.toSeq
    assert(nat == udf && nat.nonEmpty)
  }

  test("a GEOMETRYCOLLECTION literal matches when any member intersects") {
    val df = framesDf()
    // two disjoint shapes: the first over frame 1; the second touches
    // frame 43's east edge (x = 38) and overlaps frame 44
    val first = "POLYGON ((11 1, 15 1, 15 5, 11 5, 11 1))"
    val second = "POLYGON ((38 43, 42 43, 42 46, 38 46, 38 43))"
    val both = s"GEOMETRYCOLLECTION ($first, $second)"
    def fids(c: org.apache.spark.sql.Column) =
      df.filter(c).select($"fid").as[Int].collect().sorted.toSeq
    val nat = fids(SpatialExpressions.stIntersectsNative($"geom", both))
    val anyMember = fids(GeoFunctions.stIntersects($"geom", lit(first)) ||
      GeoFunctions.stIntersects($"geom", lit(second)))
    assert(nat == Seq(1, 43, 44) && nat == anyMember)
    assert(fids(GeoFunctions.stIntersects($"geom", lit(both))) == nat)
  }

  test("native st_intersects non-literal fallback (column vs column)") {
    // both sides are columns → no prepared-geometry cache; fallback path
    val df = framesDf().withColumn("other",
      concat(lit("POLYGON ((15 15, 30 15, 30 30, 15 30, 15 15))"), lit("")))
    val nat = df.filter(SpatialExpressions.stIntersectsNative($"geom", $"other"))
      .select($"fid").as[Int].collect().sorted.toSeq
    val udf = df.filter(GeoFunctions.stIntersects($"geom", $"other"))
      .select($"fid").as[Int].collect().sorted.toSeq
    assert(nat == udf && nat.nonEmpty)
  }

  // the spec session is GraftSession's, so the extension is registered from
  // construction; no test registers it by hand
  test("bbox prefilter rule rewrites the plan and pushes bbox to the scan") {
    // parquet-backed so the plan survives (LocalRelation gets constant-folded)
    val tmp = java.nio.file.Files.createTempDirectory("graft-frames").toString
    framesDf().write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val q = "POLYGON ((15 15, 30 15, 30 30, 15 30, 15 15))"

    val filtered = df.filter(SpatialExpressions.stIntersectsNative($"geom", q))
    val optimized = filtered.queryExecution.optimizedPlan.toString
    assert(optimized.contains("st_intersects"))
    assert(optimized.contains("<= 30") && optimized.contains(">= 15"),
      s"no bbox prefilter in:\n$optimized")
    // the injected plain comparisons reach the parquet scan as PushedFilters
    // (printed in full: the default metadata length cuts the bb_* filters)
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    val physical = try filtered.queryExecution.executedPlan.toString
      finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert(physical.contains("PushedFilters: [") &&
      physical.contains("LessThanOrEqual(bb_xmin"),
      s"bbox not pushed down:\n$physical")

    val got = filtered.select($"fid").as[Int].collect().sorted.toSeq
    val want = df.filter(GeoFunctions.stIntersects($"geom", lit(q)))
      .select($"fid").as[Int].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("st_intersects is callable from SQL after registration") {
    framesDf().createOrReplaceTempView("sframes")
    val n = spark.sql(
      "SELECT count(*) FROM sframes " +
        "WHERE st_intersects(geom, 'POLYGON ((12 2, 16 2, 16 6, 12 6, 12 2))')")
      .as[Long].head()
    assert(n >= 1)
  }
}
