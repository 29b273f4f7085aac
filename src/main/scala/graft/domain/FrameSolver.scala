package graft.domain

import java.util.concurrent.ConcurrentHashMap

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Frame-slicing dynamic-programming solver (reference semantics:
  * frames.py:60-211 — the text-justification analogue that groups a track's
  * burst sequence into frames of size ∈ [min, max], nominally `target`,
  * overlapping by 1, minimizing Σ ⌊|n+1 − target|⌋³).
  *
  * Re-expressed Spark-first: the per-track solve is key-local sequential
  * state, so it runs inside `groupByKey(track).flatMapGroups` — each track's
  * DP never leaves its partition, giving linear scaling with executor count
  * (the reference fans the same solves out with ProcessPoolExecutor,
  * frames.py:89-102). Solutions are memoized per (n, params) per executor,
  * mirroring the reference's `lru_cache` (frames.py:124).
  */
object FrameSolver {

  final case class FrameSlice(start: Int, end: Int, isLand: Boolean)

  /** badness of a frame covering [i, j): overlap makes the real frame 1
    * bigger (frames.py:192-211). Returns None for infeasible sizes. */
  private def badness(i: Int, j: Int, target: Double, minF: Int, maxF: Int): Option[Double] = {
    val n = j - i + 1
    if (n > maxF || n < minF) None
    else Some(math.pow(math.floor(math.abs(n - target)), 3))
  }

  private val memo = new ConcurrentHashMap[(Int, Double, Int, Int), Seq[(Int, Int)]]()

  /** DP solve: split n bursts into overlapping slices (frames.py:124-190). */
  def solve(n: Int, target: Double = 9.0, minF: Int = 5, maxF: Int = 10): Seq[(Int, Int)] =
    memo.computeIfAbsent((n, target, minF, maxF), { _ =>
      // dp(i) = (min badness of suffix starting at i, split index j)
      val dp = new Array[(Double, Int)](n + 1)
      dp(n) = (0.0, -1)
      var i = n - 1
      while (i >= 0) {
        var best = (Double.PositiveInfinity, -1)
        var j = i + 1
        while (j <= n) {
          badness(i, j, target, minF, maxF).foreach { b =>
            val cand = dp(j)._1 + b
            if (cand < best._1) best = (cand, j)
          }
          j += 1
        }
        dp(i) = best
        i -= 1
      }
      if (dp(0)._1.isInfinity)
        // infeasible track (shorter than minF): single undersized frame
        Seq((0, n))
      else {
        val out = Seq.newBuilder[(Int, Int)]
        var k = 0
        while (k < n) {
          val j = dp(k)._2
          out += ((k, math.min(j + 1, n))) // +1 = the overlap burst
          k = j
        }
        out.result()
      }
    })

  /** Maximal runs of equal values in `a`, as (value, start, end exclusive). */
  private def runs(a: Array[Boolean]): Seq[(Boolean, Int, Int)] = {
    val out = Seq.newBuilder[(Boolean, Int, Int)]
    var s = 0
    var i = 1
    while (i <= a.length) {
      if (i == a.length || a(i) != a(s)) { out += ((a(s), s, i)); s = i }
      i += 1
    }
    out.result()
  }

  /** Land-run smoothing (frames.py:214-236): grow land runs shorter than
    * minF, then iteratively absorb water runs shorter than minF, so the DP
    * only ever sees slices ≥ minF. (Divergence note: the reference mutates
    * the indicator mid-`groupby` iteration — we recompute runs each pass,
    * which reaches the same fixpoint deterministically.) */
  def smoothIndicator(isLand: Array[Boolean], minF: Int = 5): Array[Boolean] = {
    val ind = isLand.clone()
    def smear(endExclusive: Int): Unit = {
      val lo = math.max(0, endExclusive - minF / 2)
      val hi = math.min(ind.length, endExclusive + minF / 2 + 1)
      var k = lo
      while (k < hi) { ind(k) = true; k += 1 }
    }
    runs(ind).foreach { case (land, s, e) => if (land && e - s < minF) smear(e) }
    var changed = true
    while (changed) {
      changed = false
      runs(ind).foreach { case (land, s, e) =>
        if (!land && e - s < minF) { smear(e); changed = true }
      }
    }
    ind
  }

  /** Full pipeline for one track: smooth → slice per run → DP per slice →
    * absolute-indexed FrameSlices (frames.py:77-107). */
  def landOptimizedSlices(isLand: Array[Boolean], target: Double = 9.0,
      minF: Int = 5, maxF: Int = 10): Seq[FrameSlice] = {
    if (isLand.isEmpty) return Nil
    runs(smoothIndicator(isLand, minF)).flatMap { case (land, start, end) =>
      solve(end - start, target, minF, maxF).map { case (a, b) =>
        FrameSlice(start + a, start + b, land)
      }
    }.sortBy(f => (f.start, f.end))
  }

  /** Spark operator: per-key boolean sequences → frame slices.
    * Input rows (key, pos, isLand); output (key, frame_id, start, end,
    * is_land, n_bursts). Key-local `flatMapGroups` — no driver collect. */
  def solveFrames(df: DataFrame, target: Double = 9.0, minF: Int = 5,
      maxF: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("key").cast("long"), col("pos").cast("long"),
        col("isLand").cast("boolean"))
      .as[(Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (key, rows) =>
        val seq = rows.toSeq.sortBy(_._2).map(_._3).toArray
        landOptimizedSlices(seq, target, minF, maxF).zipWithIndex.map {
          case (FrameSlice(s, e, land), i) => (key, i + 1, s, e, land, e - s)
        }.iterator
      }
      .toDF("key", "frame_id", "start", "end", "is_land", "n_bursts")
  }

  /** Query form over the events table: each user's event sequence becomes a
    * track whose land indicator is `event_type = 'error'` (~20% of rows),
    * so the query exercises the FULL pipeline — indicator smoothing, per-run
    * split, badness-DP recursion, overlap-1 walk, infeasible-run fallback —
    * and the DuckDB oracle (operators/Geo) replicates all of it. Smoothing's
    * iterative fixpoint has a closed form the oracle exploits: phase A is an
    * OR of smear intervals [e−minF/2, e+minF/2] around each ORIGINAL short
    * land run's exclusive end e (the Scala foreach walks runs computed once
    * on the raw indicator, and smears only set true, so sequential mutation
    * ≡ interval OR); phase B's while-loop shrinks each still-short water run
    * by minF/2 from the right per pass without ever changing another water
    * run's extent (the smear only touches the run's own tail and the
    * already-land run after it), so every water run shorter than minF
    * floods COMPLETELY and the fixpoint ≡ "flood all short water runs of
    * the phase-A indicator" — both phases are window-function-expressible.
    * The n<minF fallback emits one undersized frame carrying its run's land
    * flag. */
  def frameQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tracks = Tables.events(s, d)
      .withColumn("pos", row_number().over(w))
      .select(col("user_id").as("key"), col("pos"),
        (col("event_type") === lit("error")).as("isLand"))
    solveFrames(tracks)
      .orderBy(col("key"), col("frame_id"))
  }
}
