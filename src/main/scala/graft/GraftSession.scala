package graft

import org.apache.spark.sql.SparkSession

/** Library entry point and the ONE place that configures a session. The
  * CLI, the registry mains, perfbench and the specs all build from [[conf]],
  * so correctness, dumped plans and timings share one configuration.
  */
object GraftSession {

  /** Graft extensions (native st_intersects + bbox-prefilter rule), UTC,
    * AQE, shuffle parallelism sized to the cluster instead of the 200
    * default, and the tuned confs documented below. */
  def conf(shufflePartitions: Int): Map[String, String] = Map(
    "spark.sql.extensions" -> classOf[plans.GraftExtensions].getName,
    TimeZone,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    // TIMESTAMP(NANOS) parquet (e.g. the events table) is unreadable
    // without this legacy flag, and parquet has no per-read option for
    // it — set once at session construction (see Tables.events)
    NanosAsLong,
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> BloomFilterMaxBits,
    "spark.shuffle.sort.bypassMergeThreshold" -> BypassMergeThreshold,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> CoalesceMinPartitionSize,
    CodegenCacheEntries,
    "spark.ui.enabled" -> "false")

  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder().master(master).config(conf(shufflePartitions))

  /** `local[cpus]` with shuffle parallelism to match. */
  def localBuilder(cpus: String): SparkSession.Builder = builder(s"local[$cpus]", cpus.toInt)

  private val TimeZone = "spark.sql.session.timeZone" -> "UTC"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** Generated-class cache size, raised 100 → 1000. The cache is an LRU
    * keyed on the generated source, and an LRU smaller than a repeated
    * working set never hits: one warm catalog build (`create`,
    * `make-burst-catalog`, reference dates and the frame-to-burst document)
    * uses about 180 distinct classes, so at Spark's 100 every warm build
    * compiled 176 of them again.
    * Inventory on that host, one cold pass in one JVM: the catalog build
    * plus one request of each CLI kind compiles 180 distinct classes, and
    * all 307 registry queries at sf0.01 4,475 more (about 15 a query).
    * Metaspace after the pass: 251 MB at 1000 entries, 280 MB with every
    * class kept. 1000 holds each repeated working set with room to spare;
    * the whole inventory would pin about 30 MB more metaspace for classes
    * a registry sweep uses once. A static conf: Spark reads it once, when
    * the JVM first generates code, so only a session built from [[conf]]
    * sets it, not [[attach]]. */
  private val CodegenCacheEntries = "spark.sql.codegen.cache.maxEntries" -> "1000"

  /** AQE's partition coalescing floor, lowered 1m → 128k: with
    * parallelism-first coalescing the target size is
    * max(totalBytes/parallelism, minPartitionSize), so a compute-DENSE
    * stage whose shuffled bytes are small (a postings join fanning out
    * behind a 4 MB exchange, a gram self-join) collapses to 2–4 tasks at
    * the default floor and serializes minutes of per-row work behind
    * kilobytes of input (q_sparse_cosine_topk's dot stage ran on 2 of 32
    * cores). At production shuffle sizes totalBytes/parallelism dwarfs
    * either floor, so the setting is inert there; it only stops
    * byte-based coalescing from starving small-byte/heavy-CPU stages. */
  val CoalesceMinPartitionSize: String = "128k"

  /** Never use the bypass-merge shuffle writer: it creates one file per
    * REDUCE partition per map task, so a map stage writing an R-partition
    * shuffle pays R file creations per task — thread dumps of the bench
    * showed every executor thread serialized on `FileOutputStream.open0`
    * (32 creations per tiny task; q_kcore's per-round degree stages spent
    * 53 s of task time on ~15k rows, 1.7 s once disabled). With the
    * threshold at 0, small-reducer-count shuffles take the
    * UnsafeShuffleWriter path instead: one data + one index file per map
    * task, binary records, radix sort on partition id. At production
    * scale this conf is inert — `spark.sql.shuffle.partitions` is sized
    * in the thousands, far above the default 200 threshold, so the
    * bypass writer never fires there anyway; the only behavior change is
    * at small partition counts, where file-creation count is exactly
    * what dominates. */
  val BypassMergeThreshold: String = "0"

  /** Runtime bloom-filter join pruning stays ON, but its size is bounded
    * at 512 KiB (4M bits) instead of Spark's 8 MiB ceiling: over
    * stats-free intermediates (checkpointed / cached subplans) the
    * optimizer's cardinality estimate inflates toward the ceiling and the
    * resulting 6–9 MiB filter is serialized into EVERY task binary of the
    * application side — multi-MiB per task launch on a cluster, for
    * creation sides that actually hold a few thousand rows (diagnosed on
    * q_local_clustering: disabling injection removed all large-task-binary
    * warnings; the closure lineage was already checkpoint-truncated). At
    * 4M bits a genuinely selective filter still covers ~400k creation-side
    * items at ~10 bits/item; a deployment with provably larger selective
    * dims can raise the conf. */
  val BloomFilterMaxBits: String = (4L * 1024 * 1024).toString

  /** Attach graft functionality to an existing session (e.g. a shared
    * notebook session created elsewhere). Static confs cannot be set on a
    * live session, so the generated-class cache keeps the size that JVM
    * started with (Spark's default is 100, which a warm catalog build
    * outgrows; see [[conf]]). Nor can a live session gain a columnar rule,
    * so an attached session lacks `plans.ParamLiteralRule`: there a
    * request whose filter literals are new compiles new classes. */
  def attach(spark: SparkSession): SparkSession = {
    plans.GraftExtensions.register(spark)
    Seq(TimeZone, NanosAsLong).foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
