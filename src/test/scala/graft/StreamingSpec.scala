package graft

/** Batch operators run on streaming frames: the relational Count-Min
  * build, and the streaming MinHash-LSH pass behind q_dedup_incremental
  * (`TextPipeline.lshEdgesStream`) — its row-local signature, its star
  * edges and its checkpoint resume, each against the batch result. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming count-min sketch equals the batch sketch (fixed state)") {
    import graft.pipeline.Sketches
    import org.apache.spark.sql.streaming.Trigger
    // the sketch's (i, bucket) key space caps streaming-aggregation state
    // at 1024 rows REGARDLESS of stream volume — the property that makes a
    // sketch the right continuous-profiling operator; the relational build
    // (explode + groupBy count) runs unchanged on the streaming frame
    val tmp = java.nio.file.Files.createTempDirectory("graft-cms").toString
    val inDir = s"$tmp/in"
    Tables.events(spark, sf()).select($"user_id")
      .coalesce(1).write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val in = spark.readStream.schema(schema).parquet(inDir)
    val q = Sketches.countMin(in, $"user_id").table
      .writeStream.outputMode("complete").format("memory")
      .queryName("cms_stream").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("cms_stream")
      .as[(Int, Long, Long)].collect().toSet
    val batch = Sketches.countMin(spark.read.parquet(inDir), $"user_id").table
      .as[(Int, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.size <= 4 * 256)
  }

  test("row-local minhash signature equals the aggregated batch signature") {
    import graft.pipeline.TextPipeline
    val docs = Tables.documents(spark, sf())
    val local = TextPipeline.rowLocalSignatures(docs).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toVector).toMap
    val batch = TextPipeline.minhashSignatures(spark, sf()).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toVector).toMap
    assert(local.nonEmpty && local == batch)
  }

  test("streaming LSH star edges span the same components as the batch edges") {
    import graft.pipeline.TextPipeline
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft-lsh-stream").toString
    val inDir = s"$tmp/in"
    val docs = Tables.documents(spark, sf()).select($"doc_id", $"text")
    // id-interleaved micro-batches: most buckets span both, so the pass
    // requires the hub state to survive and re-link across batches
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(inDir)
    Thread.sleep(50)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = TextPipeline.lshEdgesStream(in)
      .writeStream.outputMode("append").format("memory")
      .queryName("lsh_stream").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamedPairs = spark.table("lsh_stream")
      .select($"doc1", $"doc2").distinct()
    def labels(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      TextPipeline.dedupClusters(docs.select($"doc_id"), pairs)
        .as[(Long, Long)].collect().toMap
    val batchEdges = TextPipeline.lshClusterEdges(
        TextPipeline.minhashSignatures(spark, sf()))
      .select($"doc1", $"doc2")
    val streamedLabels = labels(streamedPairs)
    val batchLabels = labels(batchEdges)
    assert(streamedLabels.nonEmpty && streamedLabels == batchLabels)
    // and the streamed edge set is star-sized, not clique-sized: per
    // (b, sig_key) bucket at most |bucket| edges ever emitted
    assert(spark.table("lsh_stream").count() > 0)
  }

  test("incremental LSH dedup: a second availableNow drop resumes the " +
      "checkpoint and the cumulative state equals the batch clusters") {
    // The reference's incremental-append posture (parse_bursts.py:
    // 1096-1189 skip-if-exists): each drop is a SEPARATE availableNow
    // run against the same checkpoint, so the file source skips
    // already-processed files and only the new drop flows through the
    // stateful pass. The gate is state-table equality: connected
    // components over the cumulative streamed star edges must equal the
    // batch q_dedup_clusters labels over the full corpus — i.e. the
    // dedup state after N incremental runs IS the batch state.
    import graft.pipeline.TextPipeline
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft-lsh-incr").toString
    val (inDir, outDir, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    val docs = Tables.documents(spark, sf()).select($"doc_id", $"text")
    def runOnce(): Unit = {
      val schema = spark.read.parquet(inDir).schema
      val in = spark.readStream.schema(schema).parquet(inDir)
      val q = TextPipeline.lshEdgesStream(in)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // drop 1: even ids — run to completion, query stops
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(inDir)
    runOnce()
    val run1 = spark.read.parquet(outDir).count()
    assert(run1 > 0)
    // drop 2: odd ids appended — a NEW query resumes the same checkpoint
    Thread.sleep(50)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    val all = spark.read.parquet(outDir)
    // skip-if-exists held: run 2 processed only the new file, so every
    // run-2 edge touches an odd doc (a pure-even edge could only come
    // from re-processing drop 1; re-link edges carry the new odd hub)
    assert(all.filter($"doc1" % 2 === 0 && $"doc2" % 2 === 0).count() == run1,
      "run 2 emitted an even-even edge — the checkpoint re-processed drop 1")
    // state equality: components over cumulative streamed edges == batch
    def labels(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      TextPipeline.dedupClusters(docs.select($"doc_id"), pairs)
        .as[(Long, Long)].collect().toMap
    val batchEdges = TextPipeline.lshClusterEdges(
        TextPipeline.minhashSignatures(spark, sf()))
      .select($"doc1", $"doc2")
    val streamed = labels(all.select($"doc1", $"doc2").distinct())
    assert(streamed.nonEmpty && streamed == labels(batchEdges))
  }

  test("registered q_dedup_incremental equals q_dedup_clusters row-for-row") {
    // the registered incremental query (two availableNow runs against one
    // checkpoint inside the query function) must land on the identical
    // cluster table as the batch query — they share one oracle, so this
    // is the same gate the driver applies, exercised in-suite
    val inc = SparkEntry.queries("q_dedup_incremental")(spark, sf())
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q_dedup_clusters")(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(inc.nonEmpty && inc == batch)
  }
}
