package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency/cardinality sketches built RELATIONALLY — the
  * fixed-size-state summaries a 100 TB profiling pass ships to the driver.
  * Spark's own `approx_count_distinct`/`approx_percentile` are exercised in
  * SketchSpec (their binary encodings differ from DuckDB's, so no hash
  * oracle is possible); these two sketches instead use engine-neutral
  * integer arithmetic, so the full build → query path hash-matches DuckDB:
  *
  *   - Count-Min: depth hash rows × width counters (default 4×256) as a
  *     depth·width-row aggregate. Build is one combiner-backed groupBy
  *     over (row, bucket) — mergeable by construction (counters add),
  *     estimate = min over rows. The sketch never exceeds depth·width
  *     rows regardless of input size, and the geometry travels WITH the
  *     sketch ([[CmSketch]]) so build and probe cannot disagree.
  *   - HyperLogLog: 64 buckets, rho = leading-zero rank of the hashed
  *     suffix, estimate = α·m²/Σ2^(−maxrho). All 2^(−rho) terms are exact
  *     dyadic doubles (built by integer shift, never `pow`), so the sum is
  *     order-independent and cross-engine exact. Small-range linear
  *     counting needs `ln` (not identically rounded across engines) and is
  *     deliberately omitted — the raw estimator is the determinism-safe
  *     core; callers below the 2.5·m regime should use the exact count.
  *
  * Hash family: h(k) = (a·k + b) mod P, P = 2³¹−1, a < 2³² so products
  * stay far from signed-64 overflow on both engines. Anywhere bit
  * STATISTICS matter (HLL ranks, checksums) the linear map must be
  * avalanche-mixed first — [[hllMix]]/[[hllMixCtes]] are the single
  * source of that mix on both engines (a bare LCG is an arithmetic
  * progression mod P whose leading-zero stats are lattice-biased; it blew
  * the HLL estimate ~80% before the mix, SketchesSpec gates the band).
  */
object Sketches {

  val P = 2147483647L
  /** Default Count-Min geometry: depth 4 × width 256. Both are SCALE
    * dials: width grows with the heavy-hitter count to keep collision
    * inflation bounded (error ≈ N/width per row), depth sharpens the min
    * (error probability ≈ (1/2)^depth-ish). Every operator takes them as
    * parameters — SketchesSpec runs a non-default geometry. */
  val CmDepth = 4
  val CmWidth = 256
  private def cmA(depth: Int) = (0 until depth).map(i => 104729L * (i + 1) + 12345L)
  private def cmB(depth: Int) = (0 until depth).map(i => 7919L * (i + 1) + 271L)

  /** Count-Min bucket of `key` for hash row i: the one hash both the
    * sketch build and its point query use, so they cannot diverge
    * ([[cmBucketSql]] is the oracle's copy). */
  private def cmBucket(key: Column, i: Column, depth: Int, width: Int): Column = {
    // coefficient lookup by row id, as a CASE chain (fixed tiny depth)
    val as = cmA(depth); val bs = cmB(depth)
    val a = as.zipWithIndex.tail.foldLeft(when(i === 0, as.head)) {
      case (acc, (v, j)) => acc.when(i === j, v)
    }
    val b = bs.zipWithIndex.tail.foldLeft(when(i === 0, bs.head)) {
      case (acc, (v, j)) => acc.when(i === j, v)
    }
    pmod(pmod(key * a + b, lit(P)), lit(width))
  }

  private def cmBucketSql(key: String, i: String,
      depth: Int = CmDepth, width: Int = CmWidth): String = {
    val as = cmA(depth); val bs = cmB(depth)
    val a = (0 until depth).map(j => s"WHEN $j THEN ${as(j)}").mkString(" ")
    val b = (0 until depth).map(j => s"WHEN $j THEN ${bs(j)}").mkString(" ")
    s"(($key * (CASE $i $a END) + (CASE $i $b END)) % $P) % $width"
  }

  /** A Count-Min sketch table plus the geometry it was built with — the
    * probe side MUST hash with the same (depth, width), so the geometry
    * travels with the table instead of being re-supplied (a mismatched
    * probe would miss the join and silently return 0 — an underestimate
    * from an estimator whose contract is one-sided error). */
  final case class CmSketch(table: DataFrame, depth: Int, width: Int)

  /** The depth×width-row Count-Min sketch (i, bucket, cnt) of a key column. */
  def countMin(rows: DataFrame, key: Column,
      depth: Int = CmDepth, width: Int = CmWidth): CmSketch = {
    require(depth >= 1 && width >= 2, s"geometry $depth×$width")
    CmSketch(
      rows.select(key.as("k"), explode(sequence(lit(0), lit(depth - 1))).as("i"))
        .groupBy(col("i"), cmBucket(col("k"), col("i"), depth, width).as("bucket"))
        .agg(count(lit(1)).as("cnt")),
      depth, width)
  }

  /** Point estimates for `keys` (column `k`) against a Count-Min sketch:
    * min over the rows' counters. Never underestimates. */
  def cmEstimate(cms: CmSketch, keys: DataFrame): DataFrame =
    keys.select(col("k"), explode(sequence(lit(0), lit(cms.depth - 1))).as("i"))
      .withColumn("bucket", cmBucket(col("k"), col("i"), cms.depth, cms.width))
      .join(cms.table, Seq("i", "bucket"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** Two-round multiply-mod + xor-shift avalanche of a non-negative key
    * (key·2654435761 must stay under 2⁶³ — any id below ~3.4e9). The ONE
    * definition of the mix; [[hllMixCtes]] is its SQL twin. */
  def hllMix(key: Column): Column = {
    // pre-reduce mod P before the Knuth multiply: a raw 64-bit key above
    // ~3.47e9 (Long.Max / 2654435761) overflows the product — found by the
    // power-skew rehearsal's 4e9 user id; real deployments carry snowflake
    // ids far past that. pmod(key, P) < 2^31 keeps the product < 5.7e18,
    // and keys < P (all pre-existing fixtures) hash unchanged.
    val x0 = pmod(key, lit(P))
    val x1 = pmod(x0 * 2654435761L + 104729L, lit(P))
    val x3 = pmod(x1.bitwiseXOR(shiftright(x1, 15)) * 104729L + 12345L, lit(P))
    x3.bitwiseXOR(shiftright(x3, 13))
  }

  /** Oracle CTE chain mirroring [[hllMix]]: `h0, h1, h` with `h` exposing
    * `hv` (+ any carried columns). `carry` is a comma-terminated column
    * list copied through each stage (e.g. "grp,"), empty for none. */
  def hllMixCtes(src: String, keyExpr: String, carry: String = ""): String =
    s"""h0 AS (SELECT $carry ((((($keyExpr) % $P + $P) % $P) * 2654435761 + 104729) % $P) AS x1 FROM $src),
       |h1 AS (SELECT $carry ((xor(x1, x1 >> 15) * 104729 + 12345) % $P) AS x3 FROM h0),
       |h AS (SELECT $carry xor(x3, x3 >> 13) AS hv FROM h1)""".stripMargin

  /** HLL geometry: m = 64 buckets, 25-bit suffix. */
  val HllBuckets = 64

  /** bit length of a non-negative value known < 2^25: Σ [w ≥ 2^j]. */
  private def bitLen(w: Column): Column =
    (0 until 25).map(j => when(w >= (1L << j), 1L).otherwise(0L)).reduce(_ + _)
  private def bitLenSql(w: String): String =
    (0 until 25).map(j => s"CASE WHEN $w >= ${1L << j} THEN 1 ELSE 0 END").mkString(" + ")

  /** (grp?, bucket, r) rho rows from mixed hash values. */
  def rhoOf(hv: Column): (Column, Column) =
    (hv.bitwiseAND(63), lit(26L) - bitLen(shiftright(hv, 6)))

  /** Oracle SQL twin of [[rhoOf]] over a mixed-hash column/expression
    * `hv`: (bucket, rho) expression strings. */
  def rhoSqlOf(hv: String): (String, String) =
    (s"$hv & 63", s"26 - (${bitLenSql(s"($hv >> 6)")})")

  /** p50/p90/p99 of the positive BIGINT column `v` of `values` through
    * the mergeable log-histogram sketch: one row (pm, rk, e, m) per
    * quantile, the bucket holding the rk-th value. */
  private def logQuantiles(values: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = values.sparkSession
    import spark.implicits._
    val b = values
      .select(col("v"), (length(bin(col("v"))) - 1).cast("long").as("e"))
      .select(col("e"),
        expr("(v * 16) div cast(pow(2, e) as bigint) - 16").as("m"))
      .groupBy(col("e"), col("m")).agg(count(lit(1)).as("cnt"))
    val n = b.agg(sum(col("cnt")).as("n"))
    val c = b.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("e"), col("m"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ks = Seq(500L, 900L, 990L).toDF("pm").crossJoin(broadcast(n))
      .select(col("pm"), expr("(n * pm + 999) div 1000").as("rk"))
    broadcast(ks).join(c, col("cum") >= col("rk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("pm")).orderBy(col("e"), col("m"))))
      .filter(col("rn") === 1)
  }

  /** Oracle twin of [[logQuantiles]] over relation `src`: CTEs b, n, c,
    * p, k and q. */
  private def logQuantilesSql(src: String): String =
    s"""b AS (
       |  SELECT CAST(LENGTH(BIN(v)) - 1 AS BIGINT) AS e,
       |    (v * 16) // CAST(POWER(2, LENGTH(BIN(v)) - 1) AS BIGINT) - 16 AS m,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM $src GROUP BY 1, 2),
       |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM b),
       |c AS (
       |  SELECT e, m, cnt,
       |    SUM(cnt) OVER (ORDER BY e, m
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM b),
       |p AS (SELECT UNNEST([500, 900, 990]) AS pm),
       |k AS (SELECT pm, (n.n * pm + 999) // 1000 AS rk FROM p CROSS JOIN n),
       |q AS (
       |  SELECT k.pm, k.rk, c.e, c.m,
       |    ROW_NUMBER() OVER (PARTITION BY k.pm ORDER BY c.e, c.m) AS rn
       |  FROM k JOIN c ON c.cum >= k.rk)""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // EXACT distinct counting as mergeable state: Spark's native bitmap
    // aggregate family (bitmap_bucket_number / bitmap_bit_position /
    // bitmap_construct_agg / bitmap_count — codegen'd, SPARK-44154).
    // Stage 1 builds one 32k-bit bitmap per (group, bucket) — the
    // re-aggregatable intermediate a 100 TB profiling cube MATERIALIZES:
    // partial bitmaps from new partitions OR-merge into it (bitmap_or_agg)
    // without rescanning history, which COUNT(DISTINCT) can never do.
    // Buckets partition the id space, so the final count is a plain SUM
    // of per-bucket popcounts. The oracle is the one-shot
    // COUNT(DISTINCT): the decomposed plan must agree exactly.
    QueryDef.sql(
      "q_bitmap_distinct",
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val partials = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"),
          count(lit(1)).as("n"))
      partials.groupBy(col("event_type"))
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"),
          sum(col("n")).as("n_events"))
        .orderBy(col("event_type"))
    },

    // Count-Min over lineitem part keys (key space >> width, so buckets
    // genuinely collide): estimates for the 10 heaviest keys vs their
    // exact counts — est ≥ exact always (the CMS one-sided guarantee,
    // asserted in CorpusSpec and visible in the hash-matched output)
    QueryDef.sql(
      "q_countmin_heavy",
      s"""WITH cms AS (
         |  SELECT i, ${cmBucketSql("l_partkey", "i")} AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM lineitem, UNNEST(RANGE(0, $CmDepth)) AS u(i)
         |  GROUP BY 1, 2),
         |heavy AS (
         |  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS exact
         |  FROM lineitem GROUP BY l_partkey
         |  ORDER BY exact DESC, k LIMIT 10),
         |est AS (
         |  SELECT h.k, CAST(MIN(c.cnt) AS BIGINT) AS est
         |  FROM heavy h CROSS JOIN UNNEST(RANGE(0, $CmDepth)) AS u(i)
         |  JOIN cms c ON c.i = u.i AND c.bucket = ${cmBucketSql("h.k", "u.i")}
         |  GROUP BY h.k)
         |SELECT h.k, h.exact, e.est
         |FROM heavy h JOIN est e USING (k) ORDER BY h.exact DESC, h.k""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val cms = countMin(li, col("l_partkey"))
      val heavy = li.groupBy(col("l_partkey").as("k"))
        .agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("k")).limit(10)
      // the sketch is FIXED-SIZE (depth·width rows) → broadcast; the
      // 10-key probe side is tiny → broadcast into the estimate join
      cmEstimate(cms.copy(table = broadcast(cms.table)),
          broadcast(heavy).select(col("k")))
        .join(broadcast(heavy), Seq("k"))
        .select(col("k"), col("exact"), col("est"))
        .orderBy(col("exact").desc, col("k"))
    },

    // Relational HyperLogLog over the order→customer stream: 64-bucket
    // max-rank register table → the α·m²/Σ2^(−maxrho) estimate next to
    // the exact distinct count. The register table is aggregated FIRST
    // (combiner-backed groupBy → ≤64 rows) and only then joined to the
    // bucket spine for the empty-register 2⁰ terms — the raw rows never
    // shuffle into a join.
    QueryDef.sql(
      "q_hll_distinct",
      s"""WITH ${hllMixCtes("orders", "o_custkey")},
         |reg AS (
         |  SELECT hv & 63 AS bucket,
         |    MAX(26 - (${bitLenSql("(hv >> 6)")})) AS maxrho
         |  FROM h GROUP BY hv & 63),
         |mx AS (
         |  SELECT b.bucket, COALESCE(reg.maxrho, 0) AS maxrho
         |  FROM (SELECT UNNEST(RANGE(0, $HllBuckets)) AS bucket) b
         |  LEFT JOIN reg ON reg.bucket = b.bucket),
         |s AS (
         |  SELECT SUM(1.0 / CAST((CAST(1 AS BIGINT) << maxrho) AS DOUBLE)) AS z,
         |    CAST(SUM(CASE WHEN maxrho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
         |  FROM mx)
         |SELECT
         |  (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders) AS n_exact,
         |  CAST(FLOOR(0.709 * $HllBuckets * $HllBuckets / z) AS BIGINT) AS hll_est,
         |  n_empty
         |FROM s""".stripMargin) { (s, d) =>
      val hv = hllMix(col("o_custkey"))
      val (bucket, r) = rhoOf(hv)
      val reg = Tables.orders(s, d)
        .select(bucket.as("bucket"), r.as("r"))
        .groupBy(col("bucket")).agg(max(col("r")).as("maxrho"))
      val mx = s.range(HllBuckets).select(col("id").as("bucket"))
        .join(reg, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("maxrho"), lit(0L)).as("maxrho"))
      val zed = mx.agg(
        sum(lit(1.0) / expr("cast(shiftleft(cast(1 as bigint), cast(maxrho as int)) as double)"))
          .as("z"),
        sum(when(col("maxrho") === 0, 1).otherwise(0)).as("n_empty"))
      val exact = Tables.orders(s, d)
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      exact.crossJoin(broadcast(zed))
        .select(col("n_exact"),
          floor(lit(0.709) * HllBuckets * HllBuckets / col("z")).cast("long")
            .as("hll_est"),
          col("n_empty"))
    },

    // Grouped HLL: distinct customers per order priority — the GROUP BY
    // form that matters at scale (per-domain distinct users, per-source
    // distinct docs): 64 registers per group, combiner-merged by
    // bucket-wise max BEFORE any join; the group × bucket spine then
    // fills empty registers with 2⁰ against the ≤ groups·64-row table.
    QueryDef.sql(
      "q_hll_by_group",
      s"""WITH ${hllMixCtes("(SELECT o_orderpriority AS grp, o_custkey FROM orders)",
                            "o_custkey", "grp,")},
         |reg AS (
         |  SELECT grp, hv & 63 AS bucket,
         |    MAX(26 - (${bitLenSql("(hv >> 6)")})) AS maxrho
         |  FROM h GROUP BY grp, hv & 63),
         |spine AS (
         |  SELECT g.grp, b.bucket
         |  FROM (SELECT DISTINCT grp FROM reg) g
         |  CROSS JOIN (SELECT UNNEST(RANGE(0, $HllBuckets)) AS bucket) b),
         |mx AS (
         |  SELECT s.grp, s.bucket, COALESCE(reg.maxrho, 0) AS maxrho
         |  FROM spine s LEFT JOIN reg ON reg.grp = s.grp AND reg.bucket = s.bucket),
         |est AS (
         |  SELECT grp,
         |    CAST(FLOOR(0.709 * $HllBuckets * $HllBuckets /
         |      SUM(1.0 / CAST((CAST(1 AS BIGINT) << maxrho) AS DOUBLE))) AS BIGINT) AS hll_est
         |  FROM mx GROUP BY grp),
         |exact AS (
         |  SELECT o_orderpriority AS grp,
         |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
         |  FROM orders GROUP BY o_orderpriority)
         |SELECT e.grp, x.n_exact, e.hll_est
         |FROM est e JOIN exact x USING (grp) ORDER BY e.grp""".stripMargin) { (s, d) =>
      val hv = hllMix(col("o_custkey"))
      val (bucket, r) = rhoOf(hv)
      val reg = Tables.orders(s, d)
        .select(col("o_orderpriority").as("grp"), bucket.as("bucket"), r.as("r"))
        .groupBy(col("grp"), col("bucket")).agg(max(col("r")).as("maxrho"))
      val spine = reg.select(col("grp")).distinct()
        .crossJoin(broadcast(s.range(HllBuckets).select(col("id").as("bucket"))))
      val mx = spine.join(reg, Seq("grp", "bucket"), "left")
        .select(col("grp"), coalesce(col("maxrho"), lit(0L)).as("maxrho"))
      val est = mx.groupBy(col("grp"))
        .agg(floor(lit(0.709) * HllBuckets * HllBuckets /
          sum(lit(1.0) / expr("cast(shiftleft(cast(1 as bigint), cast(maxrho as int)) as double)")))
          .cast("long").as("hll_est"))
      val exact = Tables.orders(s, d).groupBy(col("o_orderpriority").as("grp"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      est.join(exact, Seq("grp"))
        .select(col("grp"), col("n_exact"), col("hll_est"))
        .orderBy(col("grp"))
    },

    // Rolling distinct-user estimate from MERGED daily HLL registers —
    // the pre-aggregation pattern that makes sliding distinct counts
    // tractable at 100 TB: the raw stream is scanned ONCE into per-day
    // registers (days × 64 rows, time-bounded), and every 7-day window
    // then max-merges fixed-size sketches instead of re-scanning events.
    // An exact rolling COUNT DISTINCT would re-shuffle each day's raw
    // rows into every window that covers it — 7× the data motion, growing
    // with window width; the register merge moves 64 longs per day
    // regardless of volume. The oracle replays the identical register
    // algebra, so the differential pins the merge bit-for-bit.
    QueryDef.sql(
      "q_hll_rolling",
      s"""WITH ${hllMixCtes("(SELECT CAST(ts AS DATE) AS day, user_id FROM events)",
                            "user_id", "day,")},
         |reg AS (
         |  SELECT day, hv & 63 AS bucket,
         |    MAX(26 - (${bitLenSql("(hv >> 6)")})) AS maxrho
         |  FROM h GROUP BY day, hv & 63),
         |days AS (SELECT DISTINCT day FROM reg),
         |merged AS (
         |  SELECT d.day, r.bucket, MAX(r.maxrho) AS maxrho
         |  FROM days d JOIN reg r ON r.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY d.day, r.bucket),
         |spine AS (
         |  SELECT d.day, b.bucket
         |  FROM days d CROSS JOIN (SELECT UNNEST(RANGE(0, $HllBuckets)) AS bucket) b),
         |mx AS (
         |  SELECT s.day, COALESCE(m.maxrho, 0) AS maxrho
         |  FROM spine s LEFT JOIN merged m ON m.day = s.day AND m.bucket = s.bucket)
         |SELECT day,
         |  CAST(FLOOR(0.709 * $HllBuckets * $HllBuckets /
         |    SUM(1.0 / CAST((CAST(1 AS BIGINT) << maxrho) AS DOUBLE))) AS BIGINT) AS hll_est7
         |FROM mx GROUP BY day ORDER BY day""".stripMargin) { (s, d) =>
      val (bucket, r) = rhoOf(hllMix(col("user_id")))
      val reg = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), bucket.as("bucket"), r.as("r"))
        .groupBy(col("day"), col("bucket")).agg(max(col("r")).as("maxrho"))
      val days = reg.select(col("day")).distinct()
      // the register table is days×64 — broadcast it into the window merge
      val merged = days.as("d")
        .join(broadcast(reg.as("r")),
          col("r.day").between(date_sub(col("d.day"), 6), col("d.day")))
        .groupBy(col("d.day").as("day"), col("r.bucket").as("bucket"))
        .agg(max(col("r.maxrho")).as("maxrho"))
      val spine = days.crossJoin(
        broadcast(s.range(HllBuckets).select(col("id").as("bucket"))))
      val mx = spine.join(merged, Seq("day", "bucket"), "left")
        .select(col("day"), coalesce(col("maxrho"), lit(0L)).as("maxrho"))
      mx.groupBy(col("day"))
        .agg(floor(lit(0.709) * HllBuckets * HllBuckets /
          sum(lit(1.0) / expr("cast(shiftleft(cast(1 as bigint), cast(maxrho as int)) as double)")))
          .cast("long").as("hll_est7"))
        .orderBy(col("day"))
    },

    // Table checksum: an order-independent content fingerprint — the
    // integrity check a replication/reconciliation pipeline compares
    // across stores without moving data. Each row's column combination is
    // avalanche-MIXED before summing: a raw linear combination would
    // factor into per-column sums (SUM(a·x+b·y) = a·SUM(x)+b·SUM(y)), so
    // swapping values between rows or offsetting compensating errors
    // would cancel — exactly the divergences the check exists to catch.
    // The sum accumulates in DECIMAL(38,0): mixed values are uniform in
    // [0, 2³¹), so an int64 sum overflows (ANSI-mode throw) past ~4.3e9
    // rows while DuckDB's HUGEINT keeps going.
    QueryDef.sql(
      "q_table_checksum",
      s"""WITH rh AS (
         |  SELECT (o_orderkey * 1000003 + o_custkey * 8191
         |        + CAST(FLOOR(o_totalprice * 100) AS BIGINT) * 131
         |        + CAST(LENGTH(o_orderpriority) AS BIGINT)) % $P AS base
         |  FROM orders),
         |${hllMixCtes("rh", "base")}
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(hv) % $P AS BIGINT) AS checksum,
         |  CAST(MIN(hv) AS BIGINT) AS h_min, CAST(MAX(hv) AS BIGINT) AS h_max
         |FROM h""".stripMargin) { (s, d) =>
      val base = pmod(col("o_orderkey") * 1000003L + col("o_custkey") * 8191L
        + floor(col("o_totalprice") * 100).cast("long") * 131L
        + length(col("o_orderpriority")).cast("long"), lit(P))
      Tables.orders(s, d).select(hllMix(base).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h").cast("decimal(38,0)")) % P).cast("long").as("checksum"),
          min(col("h")).as("h_min"), max(col("h")).as("h_max"))
    },

    // Bucket-level divergence localization — the Merkle level-1 of table
    // reconciliation: when two replicas' full checksums disagree
    // (q_table_checksum), find WHICH key ranges differ without moving
    // rows: one mixed-rowhash aggregate pass per replica down to 256
    // per-bucket checksums, then a 256-row compare. Recursing into a
    // divergent bucket is this same query filtered to it — log-depth
    // localization of a handful of changed rows in a 100 TB table.
    // Version B here perturbs ~0.1% of rows (key % 997) so a few known
    // buckets diverge; each side tags rows and the two register tables
    // pivot out of ONE grouped aggregate.
    QueryDef.sql(
      "q_bucket_diff",
      s"""WITH rh AS (
         |  SELECT 0 AS side, o_orderkey % 256 AS bucket,
         |    (o_orderkey * 1000003 + o_custkey * 8191
         |      + CAST(FLOOR(o_totalprice * 100) AS BIGINT) * 131
         |      + CAST(LENGTH(o_orderpriority) AS BIGINT)) % $P AS base
         |  FROM orders
         |  UNION ALL
         |  SELECT 1, o_orderkey % 256,
         |    (o_orderkey * 1000003 + o_custkey * 8191
         |      + (CAST(FLOOR(o_totalprice * 100) AS BIGINT)
         |         + CASE WHEN o_orderkey % 997 = 0 THEN 1 ELSE 0 END) * 131
         |      + CAST(LENGTH(o_orderpriority) AS BIGINT)) % $P
         |  FROM orders),
         |${hllMixCtes("rh", "base", "side, bucket,")},
         |cks AS (
         |  SELECT side, bucket, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(hv) % $P AS BIGINT) AS ck
         |  FROM h GROUP BY side, bucket)
         |SELECT bucket,
         |  CAST(MAX(CASE WHEN side = 0 THEN n END) AS BIGINT) AS n_a,
         |  CAST(MAX(CASE WHEN side = 1 THEN n END) AS BIGINT) AS n_b,
         |  CAST(MAX(CASE WHEN side = 0 THEN ck END) AS BIGINT) AS ck_a,
         |  CAST(MAX(CASE WHEN side = 1 THEN ck END) AS BIGINT) AS ck_b
         |FROM cks GROUP BY bucket
         |HAVING MAX(CASE WHEN side = 0 THEN ck END)
         |    <> MAX(CASE WHEN side = 1 THEN ck END)
         |ORDER BY bucket""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      def rows(side: Int, priceC: Column) = orders.select(
        lit(side).as("side"),
        pmod(col("o_orderkey"), lit(256)).as("bucket"),
        hllMix(pmod(col("o_orderkey") * 1000003L + col("o_custkey") * 8191L
          + priceC * 131L + length(col("o_orderpriority")).cast("long"),
          lit(P))).as("hv"))
      val priceA = floor(col("o_totalprice") * 100).cast("long")
      val priceB = priceA +
        when(pmod(col("o_orderkey"), lit(997)) === 0, 1L).otherwise(0L)
      val cks = rows(0, priceA).unionByName(rows(1, priceB))
        .groupBy(col("side"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          // decimal accumulator like q_table_checksum: a hot bucket past
          // ~4.3e9 rows would overflow an int64 sum (ANSI throw)
          (sum(col("hv").cast("decimal(38,0)")) % P).cast("long").as("ck"))
      cks.groupBy(col("bucket"))
        .agg(max(when(col("side") === 0, col("n"))).as("n_a"),
          max(when(col("side") === 1, col("n"))).as("n_b"),
          max(when(col("side") === 0, col("ck"))).as("ck_a"),
          max(when(col("side") === 1, col("ck"))).as("ck_b"))
        .filter(col("ck_a") =!= col("ck_b"))
        .orderBy(col("bucket"))
    },

    // HLL set algebra: estimate |A ∩ B| (click users ∩ purchase users)
    // by inclusion–exclusion over three register sets — est(A) + est(B)
    // − est(A ∪ B), where the UNION registers are just the bucketwise
    // MAX of the two sides' registers (the mergeability that makes HLL
    // the 100 TB audience-overlap primitive: per-segment sketches are
    // built once and intersected without touching raw ids). Registers
    // share [[hllMix]] with every other HLL query; each estimate is the
    // same floor(0.709·m²/z) readout, so both engines agree bit-for-bit.
    // The exact intersect rides along as the quality yardstick.
    QueryDef.sql(
      "q_hll_intersect",
      s"""WITH du AS (
         |  SELECT DISTINCT user_id,
         |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |${hllMixCtes("du", "user_id", "side,")},
         |reg AS (
         |  SELECT side, hv & 63 AS bucket,
         |    MAX(26 - (${bitLenSql("(hv >> 6)")})) AS maxrho
         |  FROM h GROUP BY side, hv & 63),
         |ureg AS (SELECT bucket, MAX(maxrho) AS maxrho FROM reg GROUP BY bucket),
         |grid AS (SELECT UNNEST(RANGE(0, $HllBuckets)) AS bucket),
         |za AS (
         |  SELECT SUM(1.0 / CAST((CAST(1 AS BIGINT) << COALESCE(r.maxrho, 0)) AS DOUBLE)) AS z
         |  FROM grid g LEFT JOIN (SELECT bucket, maxrho FROM reg WHERE side = 0) r
         |    ON r.bucket = g.bucket),
         |zb AS (
         |  SELECT SUM(1.0 / CAST((CAST(1 AS BIGINT) << COALESCE(r.maxrho, 0)) AS DOUBLE)) AS z
         |  FROM grid g LEFT JOIN (SELECT bucket, maxrho FROM reg WHERE side = 1) r
         |    ON r.bucket = g.bucket),
         |zu AS (
         |  SELECT SUM(1.0 / CAST((CAST(1 AS BIGINT) << COALESCE(r.maxrho, 0)) AS DOUBLE)) AS z
         |  FROM grid g LEFT JOIN ureg r ON r.bucket = g.bucket),
         |ex AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM (
         |    SELECT user_id FROM du WHERE side = 0
         |    INTERSECT SELECT user_id FROM du WHERE side = 1))
         |SELECT ex.n_exact,
         |  CAST(FLOOR(0.709 * $HllBuckets * $HllBuckets / za.z) AS BIGINT) AS est_a,
         |  CAST(FLOOR(0.709 * $HllBuckets * $HllBuckets / zb.z) AS BIGINT) AS est_b,
         |  CAST(FLOOR(0.709 * $HllBuckets * $HllBuckets / zu.z) AS BIGINT) AS est_union,
         |  CAST(FLOOR(0.709 * $HllBuckets * $HllBuckets / za.z) AS BIGINT)
         |    + CAST(FLOOR(0.709 * $HllBuckets * $HllBuckets / zb.z) AS BIGINT)
         |    - CAST(FLOOR(0.709 * $HllBuckets * $HllBuckets / zu.z) AS BIGINT) AS est_intersect
         |FROM ex, za, zb, zu""".stripMargin) { (s, d) =>
      val du = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"),
          when(col("event_type") === "click", 0).otherwise(1).as("side"))
        .distinct()
      val hv = hllMix(col("user_id"))
      val (bucket, r) = rhoOf(hv)
      val reg = du.select(col("side"), bucket.as("bucket"), r.as("r"))
        .groupBy(col("side"), col("bucket")).agg(max(col("r")).as("maxrho"))
      val ureg = reg.groupBy(col("bucket")).agg(max(col("maxrho")).as("maxrho"))
      val grid = s.range(HllBuckets).select(col("id").as("bucket"))
      def zOf(rs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        grid.join(rs, Seq("bucket"), "left")
          .select(coalesce(col("maxrho"), lit(0L)).as("maxrho"))
          .agg(sum(lit(1.0) /
            expr("cast(shiftleft(cast(1 as bigint), cast(maxrho as int)) as double)"))
            .as("z"))
      def est(z: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        floor(lit(0.709) * HllBuckets * HllBuckets / z).cast("long")
      val za = zOf(reg.filter(col("side") === 0).select(col("bucket"), col("maxrho")))
        .withColumnRenamed("z", "za")
      val zb = zOf(reg.filter(col("side") === 1).select(col("bucket"), col("maxrho")))
        .withColumnRenamed("z", "zb")
      val zu = zOf(ureg).withColumnRenamed("z", "zu")
      val ex = du.filter(col("side") === 0).select(col("user_id"))
        .intersect(du.filter(col("side") === 1).select(col("user_id")))
        .agg(count(lit(1)).as("n_exact"))
      ex.crossJoin(broadcast(za)).crossJoin(broadcast(zb)).crossJoin(broadcast(zu))
        .select(col("n_exact"),
          est(col("za")).as("est_a"), est(col("zb")).as("est_b"),
          est(col("zu")).as("est_union"),
          (est(col("za")) + est(col("zb")) - est(col("zu"))).as("est_intersect"))
    },

    // Heavy hitters through a mergeable Misra–Gries summary: each
    // partition keeps AT MOST k' = 512 (token, count) residues, partials
    // merge by count-addition + subtract-the-(k'+1)-th-largest — fixed
    // state regardless of stream length, the mergeable-summary contract
    // (Agarwal et al., "Mergeable Summaries", PODS'12). The MG guarantee
    // (undercount < n/k') makes the candidate set a SUPERSET of every
    // token with true count > n/256, so the exact recount restricted to
    // candidates + the threshold filter yields the EXACT heavy-hitter
    // set — deterministic even though the summary's residues are
    // order-dependent; only the guaranteed part of the summary is
    // observable in the output. The oracle recomputes it naively.
    QueryDef.sql(
      "q_heavy_hitters",
      """WITH tok AS (
        |  SELECT UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS t
        |  FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM tok),
        |c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY t)
        |SELECT c.t AS token, c.n,
        |  CAST((c.n * 1000000) // tot.tot AS BIGINT) AS share_q6
        |FROM c CROSS JOIN tot WHERE c.n * 256 > tot.tot
        |ORDER BY token""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d).select(
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as("t"))
      val mg = udaf(new MisraGriesAgg(512))
      val cand = toks.agg(mg(col("t")).as("joined"))
        .select(explode(split(col("joined"), " ")).as("t"))
        .filter(length(col("t")) > 0)
      val tot = toks.agg(count(lit(1)).as("tot"))
      toks.join(broadcast(cand), Seq("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .filter(col("n") * 256 > col("tot"))
        .select(col("t").as("token"), col("n"),
          expr("(n * 1000000) div tot").as("share_q6"))
        .orderBy(col("token"))
    },

    // Mergeable log-histogram quantile sketch — the one classic sketch
    // the family was missing (the production shape behind DDSketch/
    // approx quantiles): value v → bucket (e, m) with e = ⌊log2 v⌋
    // (EXACT via length(bin(v))−1, no runtime log) and m one of 16
    // mantissa sub-buckets, giving ≤ 1/16 relative error. Bucket counts
    // are plain mergeable BIGINTs (map-side combined); a quantile is the
    // first bucket whose running count reaches the ceil-rank, answered
    // as the bucket's [lb, ub) bracket — all integer-exact, so the
    // oracle replays bit-for-bit. The cumulative window runs over the
    // BUCKET AGGREGATES (≈ e·16 rows — a few hundred for any int64
    // range), one of the audited bounded-global-window sites; raw rows
    // contribute only through the combiner-backed groupBy.
    QueryDef.sql(
      "q_quantile_sketch",
      s"""WITH v AS (
        |  SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |${logQuantilesSql("v")}
        |SELECT CAST(pm AS BIGINT) AS p_permille, CAST(rk AS BIGINT) AS rank_k,
        |  CAST(((16 + m) << e) // 16 AS BIGINT) AS q_lb,
        |  CAST(((17 + m) << e) // 16 AS BIGINT) AS q_ub
        |FROM q WHERE rn = 1 ORDER BY p_permille""".stripMargin) { (s, d) =>
      logQuantiles(Tables.lineitem(s, d)
          .select(floor(col("l_extendedprice") * 100).cast("long").as("v")))
        .select(col("pm").as("p_permille"), col("rk").as("rank_k"),
          expr("shiftleft(m + 16, cast(e as int)) div 16").as("q_lb"),
          expr("shiftleft(m + 17, cast(e as int)) div 16").as("q_ub"))
        .orderBy(col("p_permille"))
    },

    // Per-group quantiles from the same mergeable log-histogram — the
    // shape production actually runs (p50/p90/p99 per key): bucket
    // counts key by (group, e, m), the cumulative window partitions by
    // GROUP (key-local, scales with executors — never the global window
    // the ungrouped sketch is allowed only because its bucket table is
    // bounded), and each group answers from its own ceil-rank.
    QueryDef.sql(
      "q_quantile_by_group",
      """WITH v AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |b AS (
        |  SELECT grp, CAST(LENGTH(BIN(v)) - 1 AS BIGINT) AS e,
        |    (v * 16) // CAST(POWER(2, LENGTH(BIN(v)) - 1) AS BIGINT) - 16 AS m,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM v GROUP BY 1, 2, 3),
        |n AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n FROM b GROUP BY grp),
        |c AS (
        |  SELECT grp, e, m, cnt,
        |    SUM(cnt) OVER (PARTITION BY grp ORDER BY e, m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b),
        |p AS (SELECT UNNEST([500, 900, 990]) AS pm),
        |k AS (
        |  SELECT n.grp, p.pm, (n.n * p.pm + 999) // 1000 AS rk
        |  FROM p CROSS JOIN n),
        |q AS (
        |  SELECT k.grp, k.pm, k.rk, c.e, c.m,
        |    ROW_NUMBER() OVER (PARTITION BY k.grp, k.pm ORDER BY c.e, c.m) AS rn
        |  FROM k JOIN c ON c.grp = k.grp AND c.cum >= k.rk)
        |SELECT grp, CAST(pm AS BIGINT) AS p_permille, CAST(rk AS BIGINT) AS rank_k,
        |  CAST(((16 + m) << e) // 16 AS BIGINT) AS q_lb,
        |  CAST(((17 + m) << e) // 16 AS BIGINT) AS q_ub
        |FROM q WHERE rn = 1 ORDER BY grp, p_permille""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val v = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("grp"),
          floor(col("l_extendedprice") * 100).cast("long").as("v"))
      val b = v
        .select(col("grp"), col("v"), (length(bin(col("v"))) - 1).cast("long").as("e"))
        .select(col("grp"), col("e"),
          expr("(v * 16) div cast(pow(2, e) as bigint) - 16").as("m"))
        .groupBy(col("grp"), col("e"), col("m")).agg(count(lit(1)).as("cnt"))
      val n = b.groupBy(col("grp")).agg(sum(col("cnt")).as("n"))
      val c = b.withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(col("grp")).orderBy(col("e"), col("m"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      import s.implicits._
      val ks = Seq(500L, 900L, 990L).toDF("pm").crossJoin(n)
        .select(col("grp"), col("pm"), expr("(n * pm + 999) div 1000").as("rk"))
      val q = broadcast(ks).join(c, Seq("grp"))
        .filter(col("cum") >= col("rk"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("grp"), col("pm")).orderBy(col("e"), col("m"))))
        .filter(col("rn") === 1)
      q.select(col("grp"), col("pm").as("p_permille"), col("rk").as("rank_k"),
          expr("shiftleft(m + 16, cast(e as int)) div 16").as("q_lb"),
          expr("shiftleft(m + 17, cast(e as int)) div 16").as("q_ub"))
        .orderBy(col("grp"), col("p_permille"))
    },

    // Conversion-latency quantiles (view → first later purchase per
    // user) answered from the SAME mergeable log-histogram as
    // q_quantile_sketch — p50/p90/p99 in seconds without ever sorting
    // the raw latency set (the production funnel-latency shape). The
    // per-user reduction is two keyed aggregates; latencies clamp to
    // ≥ 1 s so the log2 bucketing never sees zero.
    QueryDef.sql(
      "q_conversion_latency",
      s"""WITH pu AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN EPOCH_US(ts) END) AS tv
        |  FROM events GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id,
        |    GREATEST(1, (MIN(EPOCH_US(e.ts)) - p.tv) // 1000000) AS v
        |  FROM events e JOIN pu p ON p.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND p.tv IS NOT NULL
        |    AND EPOCH_US(e.ts) > p.tv
        |  GROUP BY e.user_id, p.tv),
        |${logQuantilesSql("conv")}
        |SELECT CAST(pm AS BIGINT) AS p_permille, CAST(rk AS BIGINT) AS rank_k,
        |  CAST(((16 + m) << e) // 16 AS BIGINT) AS lat_lb_s,
        |  CAST(((17 + m) << e) // 16 AS BIGINT) AS lat_ub_s
        |FROM q WHERE rn = 1 ORDER BY p_permille""".stripMargin) { (s, d) =>
      val ev = graft.Tables.events(s, d)
      val pu = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", unix_micros(col("ts")))).as("tv"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(pu.filter(col("tv").isNotNull), Seq("user_id"))
        .filter(unix_micros(col("ts")) > col("tv"))
        .groupBy(col("user_id"), col("tv"))
        .agg(min(unix_micros(col("ts"))).as("tp"))
        .select(greatest(lit(1L), expr("(tp - tv) div 1000000")).as("v"))
      logQuantiles(conv)
        .select(col("pm").as("p_permille"), col("rk").as("rank_k"),
          expr("shiftleft(m + 16, cast(e as int)) div 16").as("lat_lb_s"),
          expr("shiftleft(m + 17, cast(e as int)) div 16").as("lat_ub_s"))
        .orderBy(col("p_permille"))
    },

    // Rolling p90 per event type over a trailing 7-day window — the
    // sketch-MERGE rollup for quantiles (the q_hll_rolling pattern applied
    // to the log-histogram): daily bucket counts are built once, each
    // day's window answer merges ≤7 daily sketches through a bounded
    // day-grid join (fanout ≤ 7 per bucket row, never a re-scan of raw
    // rows per window), and the per-(type, day) cumulative walk over the
    // bounded bucket vocabulary picks the ceil-rank bucket. Values are
    // shifted +1 so zero survives the floor-log2 bucketing.
    QueryDef.sql(
      "q_rolling_quantile",
      """WITH v AS (
        |  SELECT event_type, CAST(EPOCH_US(ts) // 86400000000 AS BIGINT) AS di,
        |    CAST(FLOOR(value * 100) AS BIGINT) + 1 AS v
        |  FROM events),
        |b AS (
        |  SELECT event_type, di, CAST(LENGTH(BIN(v)) - 1 AS BIGINT) AS e,
        |    (v * 16) // CAST(POWER(2, LENGTH(BIN(v)) - 1) AS BIGINT) - 16 AS m,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM v GROUP BY 1, 2, 3, 4),
        |days AS (SELECT DISTINCT event_type, di FROM b),
        |roll AS (
        |  SELECT days.event_type, days.di, b.e, b.m,
        |    CAST(SUM(b.cnt) AS BIGINT) AS cnt
        |  FROM days JOIN b ON b.event_type = days.event_type
        |    AND b.di BETWEEN days.di - 6 AND days.di
        |  GROUP BY 1, 2, 3, 4),
        |n AS (SELECT event_type, di, CAST(SUM(cnt) AS BIGINT) AS n
        |      FROM roll GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, di, e, m,
        |    SUM(cnt) OVER (PARTITION BY event_type, di ORDER BY e, m
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM roll),
        |q AS (
        |  SELECT c.event_type, c.di, n.n, c.e, c.m,
        |    ROW_NUMBER() OVER (PARTITION BY c.event_type, c.di
        |      ORDER BY c.e, c.m) AS rn
        |  FROM c JOIN n ON n.event_type = c.event_type AND n.di = c.di
        |    AND c.cum >= (n.n * 900 + 999) // 1000)
        |SELECT event_type, di, n,
        |  CAST(((16 + m) << e) // 16 AS BIGINT) AS p90_lb,
        |  CAST(((17 + m) << e) // 16 AS BIGINT) AS p90_ub
        |FROM q WHERE rn = 1
        |ORDER BY event_type, di""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val v = Tables.events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("di"),
        (floor(col("value") * 100).cast("long") + 1).as("v"))
      val b = v
        .withColumn("e", (length(bin(col("v"))) - 1).cast("long"))
        .select(col("event_type"), col("di"), col("e"),
          expr("(v * 16) div cast(pow(2, e) as bigint) - 16").as("m"))
        .groupBy(col("event_type"), col("di"), col("e"), col("m"))
        .agg(count(lit(1)).as("cnt"))
      val days = b.select(col("event_type"), col("di")).distinct()
      val roll = days.as("g").join(b.as("h"),
          col("h.event_type") === col("g.event_type") &&
            col("h.di").between(col("g.di") - 6, col("g.di")))
        .groupBy(col("g.event_type").as("event_type"), col("g.di").as("di"),
          col("h.e").as("e"), col("h.m").as("m"))
        .agg(sum(col("h.cnt")).as("cnt"))
      val n = roll.groupBy(col("event_type"), col("di")).agg(sum(col("cnt")).as("n"))
      val c = roll.withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(col("event_type"), col("di"))
          .orderBy(col("e"), col("m"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      c.join(n, Seq("event_type", "di"))
        .filter(col("cum") >= expr("(n * 900 + 999) div 1000"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"), col("di")).orderBy(col("e"), col("m"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("di"), col("n"),
          expr("shiftleft(m + 16, cast(e as int)) div 16").as("p90_lb"),
          expr("shiftleft(m + 17, cast(e as int)) div 16").as("p90_ub"))
        .orderBy(col("event_type"), col("di"))
    }
  )

  /** Misra–Gries frequent-items summary as a Spark [[Aggregator]]: at
    * most k residual counters per partial; merge adds counts then
    * subtracts the (k+1)-th largest so the buffer never exceeds k.
    * Any item with true frequency > n/k survives to the final buffer
    * (total decrement across the merge tree ≤ n/(k+1)); callers MUST
    * treat the output as a candidate superset and recount exactly —
    * the residues themselves are partition-order-dependent, so only
    * candidate MEMBERSHIP above the guarantee threshold is stable.
    * Output is the space-joined sorted key list (a plain STRING column
    * keeps the encoder story trivial; tokens are [a-z0-9]+ so the
    * separator cannot collide). */
  final class MisraGriesAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        String, scala.collection.mutable.HashMap[String, Long], String] {
    type B = scala.collection.mutable.HashMap[String, Long]
    override def zero: B = scala.collection.mutable.HashMap.empty
    override def reduce(b: B, t: String): B = {
      if (b.contains(t)) b(t) += 1L
      else if (b.size < k) b(t) = 1L
      else {
        // decrement-all (amortized O(1): at most n/(k+1) decrements total)
        val dead = b.iterator.collect { case (s, c) if c == 1L => s }.toList
        b.mapValuesInPlace((_, c) => c - 1L)
        dead.foreach(b.remove)
      }
      b
    }
    override def merge(a: B, b: B): B = {
      b.foreach { case (s, c) => a(s) = a.getOrElse(s, 0L) + c }
      if (a.size > k) {
        val cut = a.values.toArray.sorted(Ordering[Long].reverse).apply(k)
        val kept = a.iterator.filter(_._2 > cut).toList
        a.clear()
        kept.foreach { case (s, c) => a(s) = c - cut }
      }
      a
    }
    override def finish(b: B): String = b.keys.toSeq.sorted.mkString(" ")
    override def bufferEncoder: org.apache.spark.sql.Encoder[B] =
      org.apache.spark.sql.Encoders.kryo[B]
    override def outputEncoder: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
  }
}
