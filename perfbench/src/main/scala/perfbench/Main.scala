package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the command line and the session. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, work: String, dataSeed: Long, goldenDir: String, record: Boolean)

/** What one workload run measured and checked. */
final class WorkloadResult {
  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  /** Gated end-to-end metrics: name -> (value, unit). */
  val e2e: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  /** The same figures under their per-workload names, for the report. */
  val named: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  val layer: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  val report: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()

  def fail(why: String): Unit = {
    failures += why
    System.err.println(s"[perfbench] FAILED $why")
  }
  def failedRatio: Double = failures.length.toDouble / math.max(1L, attempted)
}

object Timer {
  private val t0 = System.nanoTime()

  /** Progress line on stderr with the seconds since start. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1f s  $what")

  def seconds[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }
  def ms[A](f: => A): (Double, A) = {
    val (s, a) = seconds(f)
    (s * 1000, a)
  }
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process (all threads), in seconds. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Host-wide steal time in seconds (summed over CPUs) from /proc/stat,
    * 0 where the kernel does not report it. */
  def stealSeconds: Double =
    try {
      val f = Files.read("/proc/stat").linesIterator.next().trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100 else 0.0
    } catch { case _: Exception => 0.0 }

  def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
}

/** The per-layer metric names the traced run prints, in BENCHMARK.json
  * order. A layer a workload does not exercise reads 0. */
object Layers {
  val ServeTypes: Seq[String] = Seq("lookup", "intersect_bbox", "intersect_wkt", "fetch_granules")

  val names: Seq[String] =
    Seq("QueryDef.build_ms", "Tables.table_ms", "plan.analysis_ms", "plan.optimizer_ms",
      "plan.physical_ms", "sched.jobs", "sched.stages", "sched.tasks",
      "driver.unattributed_ms", "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms",
      "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
      "storage.blocks_cached", "storage.dup_block_warnings", "exec.failed_tasks",
      "failed_ratio",
      "CatalogBuild.dissolve_ms", "CatalogBuild.land_flag_ms", "CatalogBuild.solve_frames_ms",
      "CatalogBuild.assemble_write_ms", "BurstCatalog.parse_dedup_ms",
      "BurstCatalog.frame_join_ms", "ConsistentBursts.selection_ms", "ReferenceDates.sweep_ms",
      "CatalogBuild.land_refine_yield", "CatalogBuild.land_refine_base") ++
      ServeTypes.flatMap(t => Seq(s"serve.$t.p50_ms", s"serve.$t.plan_ms",
        s"serve.$t.jobs_per_request", s"scan.$t.files_read", s"scan.$t.rows_read")) ++
      Seq("serve.p90_ms", "Catalog.intersect.bbox_survivors", "Catalog.intersect.matches") ++
      Registry.modules.map(m => s"${m._1}.wall_ms") ++
      Registry.families.map(f => s"family.${f._1}.wall_ms") ++
      Seq("trace.batch_overhead_s", "trace.op_p50_overhead_ms")

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_ratio") || name.endsWith("_yield")) "ratio"
    else "count"
}

/** Benchmark entry point. Usage:
  * {{{
  * perfbench.Main --workload catalog|registry_small --seed N
  *   --seconds S --trace 0|1 [--work DIR] [--golden DIR] [--record 1]
  * }}}
  * `--record 1` adds the digests of outputs that `--golden` has no digest
  * for (instead of failing them); recorded digests are still checked.
  * {{{
  * }}}
  * Prints a self-describing report line, then as its last stdout line one
  * JSON object: correct, attempted, failed and the metrics (end-to-end
  * ones untraced, per-layer ones traced). */
object Main {
  /** Gated metrics, defined on every workload (README.md maps them to the
    * per-workload names). Latency is gated at a typical value, the
    * geometric mean over the timed operations: an untraced catalog run
    * serves twenty requests, too few for a tail. Tails are in the report
    * and the traced run. */
  val EndToEnd: Seq[String] = Seq("setup_s", "batch_s", "op_latency_ms", "heap_peak_mb")
  val Workloads: Seq[String] = Seq("catalog", "registry_small")
  /** Input generations per run; `setup_s` is their median. */
  val SetUps = 3
  /** Inputs are generated from this fixed seed, so that recorded digests
    * can check every run; the run seed sets the request mix and the run
    * order (see README.md). */
  val DataSeed = 20240601L

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = args.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    if (!Workloads.contains(workload)) { System.err.println(s"unknown workload $workload"); sys.exit(2) }
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = new java.io.File(args.getOrElse("work", ".perfbench")).getAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()

    GcPeak.start()
    Timer.phase("starting Spark")
    val spark = graft.GraftSession.localBuilder(nproc.toString)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)

    val ctx = Ctx(spark, seed, seconds, trace, work,
      DataSeed,
      args.getOrElse("golden", "perfbench/golden"), args.get("record").contains("1"))
    Timer.phase(s"running $workload")
    val res =
      try workload match {
        case "catalog" => new CatalogRun(ctx).run()
        case _ => new RegistryRun(ctx).run()
      } catch { case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
      }
    res.e2e("heap_peak_mb") = (GcPeak.peakMb, "MB")
    res.named("heap_peak_mb") = res.e2e("heap_peak_mb")
    res.named("setup_s") = res.e2e("setup_s")
    res.named("failed_ratio") = (res.failedRatio, "ratio")
    res.layer("failed_ratio") = (res.failedRatio, "ratio")

    val sc = spark.sparkContext
    val header = Map(
      "workload" -> workload, "seed" -> seed, "data_seed" -> ctx.dataSeed,
      "seconds" -> seconds, "trace" -> trace,
      "source_sha" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA", "unknown"),
      "git_sha" -> sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown"),
      "nproc" -> nproc, "master" -> sc.master,
      "default_parallelism" -> sc.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version)
    Timer.phase("stopping Spark")
    spark.stop()
    Timer.phase("done")

    val invalid = res.failures.nonEmpty
    println("[perfbench] report " + Stats.json(Map(
      "header" -> header,
      "valid" -> !invalid,
      "metrics" -> res.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "failures" -> res.failures,
      "details" -> res.report)))
    val metrics =
      if (trace) Layers.names.map(n => n -> res.layer.getOrElse(n, (0.0, Layers.unit(n))))
      else EndToEnd.map(n => n -> res.e2e(n))
    println(Stats.json(Map(
      "correct" -> !invalid, "attempted" -> res.attempted, "failed" -> res.failures.length.toLong,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    sys.exit(0)
  }
}
