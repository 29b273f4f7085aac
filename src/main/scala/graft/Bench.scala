package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main (driver contract): run every registered query against
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * Queries execute into the `noop` sink so the full plan runs (a bare
  * `.count()` would let Catalyst prune projections and undercount the work).
  * One warm-up query first so JVM/codegen startup is not billed to the
  * first query in the map.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b → time just those queries (dev loop)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val queries = RegistryRunner.select(only)
    val sentinelQuery = RegistryRunner.select(Some("q_agg_pricing"))
    // The COMMITTED capture (full run, no BENCH_ONLY) defaults to
    // median-of-3: two rounds of single-shot captures (378.5 s r7, 327.7 s
    // r8 vs 192.1 s clean) were contaminated by concurrent machine load and
    // mis-reported 6× phantom regressions on untouched queries. A dev
    // BENCH_ONLY run stays single-shot for loop speed.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt.max(1))
      .getOrElse(if (only.isDefined) 1 else 3)
    val spark = RegistryRunner.session()

    // the elapsed time is captured BEFORE the cache is cleared, so cache
    // cleanup is harness hygiene between queries, not billed work. (An
    // explicit System.gc() here was tried against r03's 13 s cross-query
    // outlier and REGRESSED every query ~2× — the forced full GC shrinks
    // the heap and the next query pays re-expansion; leave GC to the JVM.)
    def timeOnce(df: => DataFrame): Double = RegistryRunner.isolated(spark) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median(q: QueryDef): Double = // upper median for even n
      (1 to runs).map(_ => timeOnce(q.build(spark, sfDir))).sorted.apply(runs / 2)
    // generated-class compiles (count, ms summed over threads) that `body`
    // causes; the JVM-wide counters are exact while one query runs at a time
    def compiled[A](body: => A): (A, Long, Long) = {
      val (n0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val a = body
      (a, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0, (CodeGenerator.compileTime - ns0) / 1000000)
    }
    // a sentinel run that fails reads -1 and invalidates the capture
    def sentinel(): Double = RegistryRunner.run(spark, sentinelQuery, "sentinel")(
      q => timeOnce(q.build(spark, sfDir))).results.headOption.fold(-1.0)(_._2)

    // warm-up: JVM + codegen + parquet footer caches, plus the one-off
    // shared-shingle materialization (so its write is not billed to
    // whichever dedup query happens to touch it first)
    RegistryRunner.run(spark, sentinelQuery, "warmup")(median)
    // first touch materializes BOTH shared tables (signatures build on the
    // distinct-gram table internally) outside any timed region — but its
    // cost is BILLED VISIBLY as shared_materialization_sec in the output
    // JSON (r15 verdict item: the dedup family's per-query numbers assume
    // this one-off is already paid; the field makes that self-describing)
    val sharedMaterializationSec = timeOnce(graft.pipeline.TextPipeline.minhashSignatures(spark, sfDir))
    // Settle before the timed loop: the minhash materialization is the
    // heaviest job in the run and its GC/cleaner residue billed 4.5× to
    // whichever query ran first two rounds running. One full GC HERE —
    // measured: the first timed query runs ~25% faster with it, because
    // it stops paying the materialization's garbage (this is NOT the
    // per-query GC the note above rejects: once, outside any timed
    // region, is cleanup; per-query shrinks the heap 127 times). Then a
    // beat for the ContextCleaner, and the warmup query once more untimed
    // so the first timed query starts from a steady-state heap.
    System.gc()
    Thread.sleep(500)
    // The settled warmup time doubles as the CONTENTION SENTINEL baseline:
    // the same query is re-timed after the loop, and a >2× slowdown means
    // the machine ran concurrent work during the bench — the capture is
    // stamped contaminated:true so nobody triages phantom regressions.
    val sentinelBefore = sentinel()
    // The after/before ratio only detects contention that STARTS mid-run.
    // A window that is already contended at t0 passes it (r14: 341.5 s
    // capture, sentinel_before 2.06 s vs 1.1-1.5 s clean, contaminated:
    // false — every flagged "regression" refuted by isolated retimes).
    // So the capture also self-identifies as noisy when sentinel_before
    // exceeds 1.5x the committed capture's own — compared only when that
    // capture ran on the same cores (sentinel times are per host, so a
    // fixed floor flagged every run on a smaller machine).
    def field(json: String, key: String): Option[Double] =
      s""""$key":([0-9.eE+-]+)""".r.findFirstMatchIn(json).map(_.group(1).toDouble)
    val baselineSentinel = scala.util.Try(Files.readString(Paths.get("bench_full_latest.json")))
      .toOption.filter(field(_, "cpus").contains(RegistryRunner.cpus.toDouble))
      .flatMap(field(_, "sentinel_before")).filter(_ > 0)
    val noisyWindow = baselineSentinel.exists(s => sentinelBefore > 1.5 * s)

    // generated-class compiles inside the timed loop, in total and per
    // query (all of its runs): a cache smaller than the loop's working set
    // recompiles on every run
    val (perQuery, codegenCompiles, codegenCompileMs) =
      compiled(RegistryRunner.run(spark, queries, "bench")(q => compiled(median(q))))
    val timed = perQuery.copy(results = perQuery.results.map { case (q, (t, _, _)) => q -> t })

    val sentinelAfter = sentinel()
    val contaminated = sentinelBefore > 0 && sentinelAfter > 2.0 * sentinelBefore
    // `total` sums only the queries that finished, so without `valid` a
    // failing query would read as a faster suite.
    val valid = timed.failed.isEmpty && sentinelBefore > 0 && sentinelAfter > 0
    val total = timed.results.map(_._2).sum
    def str(s: String) = "\"" + s + "\""
    // the HEAD sha, suffixed "-dirty" when tracked files differ from it, so a
    // capture of edited code never carries its parent commit's sha alone
    val gitSha = scala.util.Try(scala.sys.process.Process(
        "git describe --always --dirty --abbrev=40 --exclude=*")
      .!!(scala.sys.process.ProcessLogger(_ => ())).trim).getOrElse("unknown")
    // read while the session is live: the compact line is built after stop()
    val fields = s""""valid":$valid,"failed":${timed.failed.map(str).mkString("[", ",", "]")},""" +
      s""""contaminated":$contaminated,"noisy_window":$noisyWindow,"sentinel_before":$sentinelBefore,"sentinel_after":$sentinelAfter,"shared_materialization_sec":$sharedMaterializationSec,""" +
      s""""git_sha":${str(gitSha)},"cpus":${RegistryRunner.cpus},"parallelism":${spark.sparkContext.defaultParallelism},"shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
      s""""xmx_mb":${Runtime.getRuntime.maxMemory >> 20},"jvm":${str(System.getProperty("java.runtime.version"))},""" +
      s""""baseline":${str(baselineSentinel.fold("none")(_ => "bench_full_latest.json"))},""" +
      s""""codegen_cache_entries":${spark.conf.get("spark.sql.codegen.cache.maxEntries")},"codegen_compiles":$codegenCompiles,"codegen_compile_ms":$codegenCompileMs"""
    // n_queries counts the entries in THIS json's queries map (the headline
    // line is a truncated view); n_total is the full run count.
    def toJson(rs: Seq[(String, Double)], extra: String = ""): String = {
      val qs = rs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${rs.length},"n_total":${queries.length},"runs_per_query":$runs,$fields,"queries":$qs$extra,"sf":${str(sfDir)}}"""
    }
    val queryCodegen = perQuery.results.map { case (q, (_, n, ms)) =>
      s"""${str(q)}:{"codegen_compiles":$n,"codegen_compile_ms":$ms}"""
    }.mkString(""","query_codegen":{""", ",", "}")
    val json = toJson(timed.results, queryCodegen)
    if (!valid) System.err.println(s"[bench] INVALID capture: failed [${timed.failed.mkString(",")}], sentinel $sentinelBefore -> $sentinelAfter")
    if (contaminated) System.err.println(f"[bench] CONTAMINATED capture: sentinel $sentinelBefore%.2fs -> $sentinelAfter%.2fs (machine ran concurrent work)")
    if (noisyWindow)
      System.err.println(f"[bench] NOISY WINDOW: sentinel_before $sentinelBefore%.2fs exceeds 1.5x committed ${baselineSentinel.get}%.2fs" +
        " — window was contended before the run started; trust isolated retimes only")
    // The full per-query JSON goes to a repo file; stdout gets a COMPACT
    // line (total, `failed` and the 24 slowest queries) because the
    // driver's stdout tail window truncates a 180-query line from the
    // FRONT, which breaks its JSON parse (BENCH_r05..r07 parsed:null).
    // The compact line carries exactly what a regression triage needs;
    // bench_full_latest.json remains the canonical capture.
    val headline = timed.results.sortBy(-_._2).take(24).sortBy(_._1)
    // A BENCH_ONLY dev run must NOT masquerade as the full capture —
    // unless the caller names an explicit out file, it stays stdout-only.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isDefined) None else Some("bench_full_latest.json"))
    try out.foreach(o => Files.writeString(Paths.get(o), json + "\n"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist bench json: ${e.getMessage}")
    }
    // The compact JSON is printed as the LAST act of the process, AFTER
    // spark.stop(): r14/r15 had parsed:null because the JSON line was
    // followed by sbt's "[success] Total time" (and wrapped in its
    // "[info] " prefix — both fixed in build.sbt: StdoutOutput forwards
    // the forked process's streams raw, showSuccess drops the trailer).
    // Nothing may be printed after this line; tools/parse_bench.py
    // replicates a last-line JSON extraction as the pre-commit check. Hence
    // exit 0 even on failures (sbt would print an error trailer after it).
    spark.stop()
    println(toJson(headline))
    System.out.flush()
  }
}
