package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline.Graphs

/** The graph family's layout and lineage-cut rules: `Graphs.keyed` lays
  * out every static relation (hash-partitioned on its key at the
  * input-sized count, persisted), rounds whose readout reads only the
  * last state stay one plan, and a census that reads every round reads
  * one checkpoint per round.
  */
class GraphLayoutSpec extends SparkSpec {

  /** The checkpoints (localCheckpoint leaves) a query's lineage reads. */
  private def checkpointReads(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }

  test("keyed caches the relation hash-partitioned on its key at the input-sized count") {
    // > 16 MB of incompressible input, so the count is neither 1 nor the
    // session's shuffle partitions
    val dir = Files.createTempDirectory("graft-keyed").resolve("edges").toString
    spark.range(0L, 2500000L, 1L, 2)
      .select(xxhash64(col("id")).as("src"), col("id").as("dst"))
      .write.parquet(dir)
    val edges = spark.read.parquet(dir)
    val maxParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val bytes = Tables.inputBytes(spark, edges.inputFiles.toSeq)
    val n = math.max(1L, math.min(maxParts, bytes / (16L * 1024 * 1024) + 1))
    assert(n > 1 && n < maxParts, s"fixture too small or too large: $bytes bytes, n = $n")
    val k = Graphs.keyed(edges, "src")
    try {
      // storageLevel reads the cache manager's entry: NONE when uncached
      assert(k.storageLevel == StorageLevel.MEMORY_AND_DISK)
      val plan = k.queryExecution.executedPlan.toString
      val parts = """hashpartitioning\(src#\w+, (\d+)\)""".r
        .findAllMatchIn(plan).map(_.group(1).toLong).toSeq
      assert(parts == Seq(n), s"expected one hashpartitioning(src, $n):\n$plan")
    } finally {
      k.unpersist(blocking = true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
    }
  }

  test("pagerank, ppr and shortest-path rounds cut no lineage") {
    for (q <- Seq("q_pagerank", "q_ppr", "q_shortest_path")) {
      val reads = checkpointReads(SparkEntry.queries(q)(spark, sf()))
      assert(reads.isEmpty, s"$q reads checkpoints $reads")
    }
  }

  test("census rounds read one checkpoint each, round 0 included") {
    // q_kcore: 4 peel rounds + the initial vertex set; q_anf: 3 rounds + r0
    for ((q, states) <- Seq("q_kcore" -> 5, "q_anf" -> 4)) {
      val reads = checkpointReads(SparkEntry.queries(q)(spark, sf()))
      assert(reads.size == states && reads.distinct.size == states,
        s"$q: expected $states distinct checkpoint reads, got $reads")
    }
  }
}
