package graft

import graft.functions.QDot
import org.apache.spark.sql.functions._

/** Codegen'd quantized dot product: bit-equality with the HOF composite
  * and whole-stage-codegen participation on a parquet-backed plan. */
class QDotSpec extends SparkSpec {
  import spark.implicits._

  private def hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    aggregate(
      zip_with(a, b, (x, y) =>
        floor(x.cast("double") * 1000000).cast("long") *
          floor(y.cast("double") * 1000000).cast("long")),
      lit(0L), (acc, v) => acc + v)

  test("qdot equals the zip_with/aggregate composite on random vectors") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f),
        Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    }
    val df = rows.toDF("id", "a", "b")
    val diff = df.select(
        QDot.qdot($"a", $"b").as("native"), hofDot($"a", $"b").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
  }

  test("qdot equals the composite on the real embeddings table") {
    val emb = Tables.embeddings(spark, sf())
    val pair = emb.as("x").crossJoin(emb.as("y"))
      .filter($"x.vec_id" < 3 && $"y.vec_id" < 20)
    val diff = pair.select(
        QDot.qdot($"x.embedding", $"y.embedding").as("native"),
        hofDot($"x.embedding", $"y.embedding").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
  }

  test("qdot stays inside whole-stage codegen on a parquet-backed plan") {
    // raw read, not Tables.embeddings: the r15 Tables.spread repartition
    // adds an exchange, which makes AQE wrap the plan and hide the
    // codegen stars from the pre-execution plan string — this spec pins
    // the EXPRESSION's codegen-ability, so it wants the bare scan
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val plan = emb.select(QDot.qdot($"embedding", $"embedding").as("n2"))
      .queryExecution.executedPlan.toString
    // '*(n)' marks a WholeStageCodegen span; the projection with qdot must
    // carry it (a CodegenFallback expression would strip the star)
    assert(plan.contains("*(1)"), s"qdot fell out of codegen:\n$plan")
    assert(plan.contains("qdot"), plan)
  }

  test("q_ann_native_dot and q_ann_zipwith share one oracle text") {
    // q_ann_native_dot's hash match proves the native dot bit-exact only
    // while both queries are checked against the same SQL
    val native = SparkEntry.oracleSql("q_ann_native_dot")
    assert(native == SparkEntry.oracleSql("q_ann_zipwith"))
  }

  test("length mismatch uses the common prefix; null elements contribute 0") {
    val df = Seq((Array(1f, 2f, 3f), Array(2f, 2f))).toDF("a", "b")
    val got = df.select(QDot.qdot($"a", $"b")).as[Long].head()
    assert(got == 1000000L * 2000000L + 2000000L * 2000000L)
  }
}
