package graft.operators

import graft.{QueryDef, Tables}
import graft.pipeline.SparseProduct
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Commerce / supply-chain analytics split out of [[Analytics]] (same
  * Column-plan + DuckDB-oracle contracts): market-basket lift, BOM and
  * hierarchy rollups, FIFO lot matching, reorder points, revenue
  * decomposition, and retention/segment-flow measures over the TPC-H
  * fact tables. */
object Commerce {

  val queries: Seq[QueryDef] = Seq(


    // Market-basket lift on the FACT table (co-purchased parts within an
    // order, lift = P(ab)/(P(a)P(b))): per-order distinct-part degree is
    // capped at GREATEST(64, 4·⌊√|parts|⌋) (SparseProduct.capItemsPerKey,
    // same truncation in the oracle), so the within-order self-join fans out
    // at most (cap choose 2) pairs per basket even if a synthetic or
    // adversarial basket holds the whole part vocabulary — then one
    // combiner-backed pair aggregate, frequency joins keyed by part, and
    // a single shared IEEE lift division. Top 50 by (lift, pair).
    QueryDef.sql(
      "q_copurchase_lift",
      s"""WITH items0 AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |vocab AS (SELECT CAST(COUNT(DISTINCT pk) AS BIGINT) AS nv FROM items0),
        |items AS (
        |  SELECT ok, pk FROM (
        |    SELECT ok, pk,
        |      ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
        |    FROM items0) r CROSS JOIN vocab
        |  WHERE r.rn <= ${SparseProduct.capSql("nv")}),
        |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
        |freq AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY pk),
        |pairs AS (
        |  SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk
        |  HAVING COUNT(*) >= 3)
        |SELECT p.p1, p.p2, p.n_ab, fa.c AS c1, fb.c AS c2,
        |  CAST(FLOOR(p.n_ab * CAST(1000000.0 AS DOUBLE) * n.n_orders
        |    / (fa.c * CAST(1.0 AS DOUBLE) * fb.c)) AS BIGINT) AS lift_q6
        |FROM pairs p
        |JOIN freq fa ON fa.pk = p.p1
        |JOIN freq fb ON fb.pk = p.p2
        |CROSS JOIN n
        |ORDER BY lift_q6 DESC, p1, p2 LIMIT 50""".stripMargin) { (s, d) =>
      // items feeds four consumers (n, the part degrees, both self-join
      // probes) and is NOT exchange-reused across them — unpersisted, the
      // distinct + cap window re-ran per consumer (r15; released by the
      // runner's clearCache contract)
      val items = SparseProduct.capItemsPerKey(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct(), "ok", "pk")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = items.agg(countDistinct(col("ok")).as("n_orders"))
      SparseProduct.product(items, Seq("ok"), "pk",
          SparseProduct.Names("p1", "p2", "n_ab", "c1", "c2"), min = Some(3L))
        .crossJoin(broadcast(n))
        .select(col("p1"), col("p2"), col("n_ab"), col("c1"), col("c2"),
          floor(col("n_ab") * lit(1000000.0) * col("n_orders")
            / (col("c1") * lit(1.0) * col("c2"))).cast("long").as("lift_q6"))
        .orderBy(col("lift_q6").desc, col("p1"), col("p2"))
        .limit(50)
    },


    // Hierarchical subtree rollup WITHOUT iteration: over the synthetic
    // part tree (parent(p) = p div 7, depth ≤ 8 at any tested scale),
    // each node explodes into its ancestor chain (p div 7^j, j = 0..7 —
    // a closed form, so no recursion and no level-synchronized joins),
    // and one combiner-backed groupBy per ancestor yields descendant
    // counts + subtree sums. The org-chart / BOM rollup shape: bounded
    // 8× fanout of the fact table, a single shuffle.
    QueryDef.sql(
      "q_hierarchy_rollup",
      """WITH v AS (
        |  SELECT p_partkey AS pk,
        |    CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS val_c
        |  FROM part),
        |chain AS (
        |  SELECT CAST(pk // j AS BIGINT) AS anc, val_c
        |  FROM v CROSS JOIN
        |    UNNEST([1, 7, 49, 343, 2401, 16807, 117649, 823543]) AS u(j)
        |  WHERE pk // j >= 1)
        |SELECT anc AS node, CAST(COUNT(*) AS BIGINT) AS n_subtree,
        |  CAST(SUM(val_c) AS BIGINT) AS subtree_c
        |FROM chain GROUP BY anc
        |HAVING COUNT(*) >= 50
        |ORDER BY node""".stripMargin) { (s, d) =>
      val v = Tables.part(s, d).select(col("p_partkey").as("pk"),
        floor(col("p_retailprice") * 100).cast("long").as("val_c"))
      val powers = Seq(1L, 7L, 49L, 343L, 2401L, 16807L, 117649L, 823543L)
      v.select(explode(array(powers.map(lit): _*)).as("j"), col("pk"), col("val_c"))
        .select(expr("pk div j").as("anc"), col("val_c"))
        .filter(col("anc") >= 1)
        .groupBy(col("anc").as("node"))
        .agg(count(lit(1)).as("n_subtree"), sum(col("val_c")).as("subtree_c"))
        .filter(col("n_subtree") >= 50)
        .orderBy(col("node"))
    },


    // Largest-remainder (Hamilton) allocation: distribute a budget of
    // 10,000 units across event types proportionally to their counts —
    // base = ⌊c·B/N⌋ per type, the leftover units going to the largest
    // remainders (ties by type name). Pure integer arithmetic + one
    // window over the ≤|types| aggregate; the exactness property
    // Σ alloc = B holds by construction.
    QueryDef.sql(
      "q_largest_remainder",
      """WITH c AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM events
        |  GROUP BY event_type),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
        |b AS (
        |  SELECT event_type, c, (c * 10000) // n.n AS base,
        |    (c * 10000) % n.n AS rem
        |  FROM c CROSS JOIN n),
        |l AS (SELECT CAST(10000 - SUM(base) AS BIGINT) AS leftover FROM b),
        |r AS (
        |  SELECT event_type, c, base, rem,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rk
        |  FROM b)
        |SELECT r.event_type, r.c, CAST(r.base AS BIGINT) AS base,
        |  CAST(CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
        |  CAST(r.base + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r CROSS JOIN l ORDER BY r.event_type""".stripMargin) { (s, d) =>
      val c = Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("c"))
      val n = c.agg(sum(col("c")).as("n"))
      val b = c.crossJoin(broadcast(n))
        .select(col("event_type"), col("c"),
          expr("(c * 10000) div n").as("base"),
          expr("(c * 10000) % n").as("rem"))
      val l = b.agg((lit(10000L) - sum(col("base"))).cast("long").as("leftover"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("event_type"))
      b.withColumn("rk", row_number().over(w).cast("long"))
        .crossJoin(broadcast(l))
        .select(col("event_type"), col("c"), col("base").cast("long").as("base"),
          when(col("rk") <= col("leftover"), 1L).otherwise(0L).as("extra"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .cast("long").as("alloc"))
        .orderBy(col("event_type"))
    },


    // Inter-purchase gap distribution: days between a customer's
    // consecutive orders (per-customer lag window — never a global
    // sort), histogrammed into exact floor-log2 buckets. The +1 shift
    // keeps same-day repeat orders (gap 0) in bucket 0 without breaking
    // the binary-length bucketing.
    QueryDef.sql(
      "q_order_gaps",
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey,
        |    d - LAG(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS gap
        |  FROM o)
        |SELECT CAST(LENGTH(BIN(gap + 1)) - 1 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(MIN(gap) AS BIGINT) AS min_gap,
        |  CAST(MAX(gap) AS BIGINT) AS max_gap
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("d"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate").cast("date").as("d"),
          col("o_orderkey"))
        .withColumn("gap", datediff(col("d"), lag(col("d"), 1).over(w)).cast("long"))
        .filter(col("gap").isNotNull)
        .groupBy((length(bin(col("gap") + 1)) - 1).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap")).as("min_gap"), max(col("gap")).as("max_gap"))
        .orderBy(col("bucket"))
    },


    // FIFO layer matching (cost-accounting allocation): per part, receipts
    // (non-R lines) and returns (R lines) each form cumulative-quantity
    // layers in ship order; a return consumes the OLDEST unconsumed
    // receipt stock, so the matched quantity between receipt i and return
    // j is the overlap of their cumulative intervals —
    // max(0, min(Ri, Cj) − max(Ri₋₁, Cj₋₁)). The pairing is an equi-join
    // on part plus an interval-overlap residual; fanout is bounded by
    // lines-per-part (a TPC-H constant, independent of scale factor).
    QueryDef.sql(
      "q_fifo_match",
      """WITH rc AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER w AS hi,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER w - CAST(l_quantity AS BIGINT) AS lo
        |  FROM lineitem WHERE l_returnflag <> 'R'
        |  WINDOW w AS (PARTITION BY l_partkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING)),
        |rt AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER w AS hi,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER w - CAST(l_quantity AS BIGINT) AS lo
        |  FROM lineitem WHERE l_returnflag = 'R'
        |  WINDOW w AS (PARTITION BY l_partkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING)),
        |mt AS (
        |  SELECT rc.l_partkey,
        |    LEAST(rc.hi, rt.hi) - GREATEST(rc.lo, rt.lo) AS m
        |  FROM rc JOIN rt ON rt.l_partkey = rc.l_partkey
        |    AND rc.lo < rt.hi AND rt.lo < rc.hi),
        |agg AS (
        |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |    CAST(SUM(m) AS BIGINT) AS matched_qty
        |  FROM mt GROUP BY l_partkey),
        |tot AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CASE WHEN l_returnflag <> 'R'
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS recv,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS ret
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT t.l_partkey, COALESCE(a.n_matches, 0) AS n_matches,
        |  COALESCE(a.matched_qty, 0) AS matched_qty,
        |  t.ret - COALESCE(a.matched_qty, 0) AS unmatched_returns,
        |  t.recv - COALESCE(a.matched_qty, 0) AS leftover_stock
        |FROM tot t LEFT JOIN agg a ON a.l_partkey = t.l_partkey
        |ORDER BY t.l_partkey""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      def layers(df: DataFrame) = df
        .select(col("l_partkey"), col("l_quantity").cast("long").as("q"),
          col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .withColumn("hi", sum(col("q")).over(w))
        .withColumn("lo", col("hi") - col("q"))
        .select(col("l_partkey"), col("lo"), col("hi"))
      val li = Tables.lineitem(s, d)
      // the oracle's plain inequality join is correct but quadratic in
      // lines-per-part; the engine buckets the cumulative-quantity axis
      // (width 64 ≥ the max line quantity, so each layer spans ≤ 2
      // buckets) and equi-joins on (part, bucket) — candidates are only
      // the near-diagonal overlaps. A pair overlapping two shared buckets
      // would match twice; keeping the canonical bucket
      // (greatest(lo)·div·B) dedups join-free.
      val B = 64L
      def bucketed(df: DataFrame, lo: String, hi: String) = df
        .withColumn("bk", explode(sequence(
          expr(s"$lo div $B"), expr(s"($hi - 1) div $B"))))
      val rc = bucketed(layers(li.filter(col("l_returnflag") =!= "R"))
        .withColumnRenamed("lo", "rlo").withColumnRenamed("hi", "rhi"), "rlo", "rhi")
      val rt = bucketed(layers(li.filter(col("l_returnflag") === "R"))
        .withColumnRenamed("lo", "clo").withColumnRenamed("hi", "chi"), "clo", "chi")
      val agg = rc.join(rt, Seq("l_partkey", "bk"))
        .filter(col("rlo") < col("chi") && col("clo") < col("rhi")
          && col("bk") === expr(s"greatest(rlo, clo) div $B"))
        .select(col("l_partkey"),
          (least(col("rhi"), col("chi")) - greatest(col("rlo"), col("clo"))).as("m"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_matches"), sum(col("m")).as("matched_qty"))
      val tot = li.groupBy(col("l_partkey"))
        .agg(sum(when(col("l_returnflag") =!= "R", col("l_quantity").cast("long"))
          .otherwise(0L)).as("recv"),
          sum(when(col("l_returnflag") === "R", col("l_quantity").cast("long"))
            .otherwise(0L)).as("ret"))
      tot.join(agg, Seq("l_partkey"), "left")
        .select(col("l_partkey"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("matched_qty"), lit(0L)).as("matched_qty"),
          (col("ret") - coalesce(col("matched_qty"), lit(0L))).as("unmatched_returns"),
          (col("recv") - coalesce(col("matched_qty"), lit(0L))).as("leftover_stock"))
        .orderBy(col("l_partkey"))
    },


    // Weighted median (lower) of price weighted by quantity, per return
    // flag — "the price at which half the UNITS moved", which differs
    // from the row median whenever cheap lines carry bigger quantities.
    // Same vocabulary-cumulative-walk shape as the quantile family: the
    // per-group window runs over the bounded price vocabulary, never raw
    // rows.
    QueryDef.sql(
      "q_weighted_median",
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT g, CAST(SUM(w) AS BIGINT) AS tw FROM v GROUP BY g),
        |c AS (
        |  SELECT g, v, w,
        |    SUM(w) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM v),
        |p AS (
        |  SELECT c.g, t.tw, c.v,
        |    ROW_NUMBER() OVER (PARTITION BY c.g ORDER BY c.v) AS rn
        |  FROM c JOIN t ON t.g = c.g AND 2 * c.cum >= t.tw)
        |SELECT g, tw AS total_units, v AS wmedian_price_c
        |FROM p WHERE rn = 1 ORDER BY g""".stripMargin) { (s, d) =>
      val v = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("g"),
          floor(col("l_extendedprice") * 100).cast("long").as("v"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      // tw as a second window over the SAME g-partitioning as the
      // cumulative sum — the separate groupBy + broadcast join evaluated
      // the whole v aggregate a second time (r15, guide §2.4: same-keyed
      // window reuses the established partitioning)
      val c = v.withColumn("cum",
        sum(col("w")).over(Window.partitionBy(col("g")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("tw", sum(col("w")).over(Window.partitionBy(col("g"))))
      c.filter(lit(2) * col("cum") >= col("tw"))
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("g")).orderBy(col("v"))))
        .filter(col("rn") === 1)
        .select(col("g"), col("tw").as("total_units"), col("v").as("wmedian_price_c"))
        .orderBy(col("g"))
    },


    // Customer-tier migration: spend-quartile transition matrix between
    // the first and second half of the order timeline — the segment
    // movement report behind "are our best customers staying?". NTILE
    // with a full (spend, custkey) tie-break is deterministic in both
    // engines; only customers active in both halves transition. The
    // quartile windows rank the per-customer aggregate (one row per
    // customer-half), never raw orders.
    QueryDef.sql(
      "q_segment_migration",
      """WITH sp AS (SELECT CAST(MIN(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT) AS d0,
        |    CAST(MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT) AS d1
        |  FROM orders),
        |h AS (
        |  SELECT o_custkey,
        |    CASE WHEN CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      * 2 <= sp.d0 + sp.d1 THEN 1 ELSE 2 END AS half,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders CROSS JOIN sp),
        |cs AS (
        |  SELECT o_custkey, half, CAST(SUM(cents) AS BIGINT) AS spend
        |  FROM h GROUP BY o_custkey, half),
        |tier AS (
        |  SELECT o_custkey, half,
        |    NTILE(4) OVER (PARTITION BY half ORDER BY spend, o_custkey) AS t
        |  FROM cs)
        |SELECT a.t AS tier_1, b.t AS tier_2, CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM tier a JOIN tier b ON b.o_custkey = a.o_custkey
        |  AND a.half = 1 AND b.half = 2
        |GROUP BY a.t, b.t ORDER BY tier_1, tier_2""".stripMargin) { (s, d) =>
      val od = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      val sp = Tables.orders(s, d).agg(min(od).as("d0"), max(od).as("d1"))
      val cs = Tables.orders(s, d).crossJoin(broadcast(sp))
        .select(col("o_custkey"),
          when(od * 2 <= col("d0") + col("d1"), 1).otherwise(2).as("half"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("o_custkey"), col("half"))
        .agg(sum(col("cents")).as("spend"))
      val tier = cs.select(col("o_custkey"), col("half"),
        ntile(4).over(Window.partitionBy(col("half"))
          .orderBy(col("spend"), col("o_custkey"))).as("t"))
      tier.as("a").join(tier.as("b"),
          col("b.o_custkey") === col("a.o_custkey")
            && col("a.half") === 1 && col("b.half") === 2)
        .groupBy(col("a.t").as("tier_1"), col("b.t").as("tier_2"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("tier_1"), col("tier_2"))
    },


    // New-item revenue share: per order month, how much revenue comes
    // from parts making their FIRST-ever appearance that month — the
    // assortment-freshness readout. First-appearance month is one keyed
    // MIN over the fact table; the share is ONE shared double division of
    // exact BIGINT revenue sums (an integer q6 multiply overflows at
    // rehearsal revenue volumes — the q_price_index lesson).
    QueryDef.sql(
      "q_new_item_share",
      """WITH lo AS (
        |  SELECT l.l_partkey, DATE_TRUNC('month', CAST(o.o_orderdate AS DATE)) AS ym,
        |    CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT) AS rev
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |fm AS (SELECT l_partkey, MIN(ym) AS first_ym FROM lo GROUP BY l_partkey)
        |SELECT CAST(STRFTIME(lo.ym, '%Y-%m') AS VARCHAR) AS ym,
        |  CAST(COUNT(DISTINCT lo.l_partkey) AS BIGINT) AS n_parts,
        |  CAST(COUNT(DISTINCT CASE WHEN fm.first_ym = lo.ym
        |    THEN lo.l_partkey END) AS BIGINT) AS n_new_parts,
        |  CAST(SUM(lo.rev) AS BIGINT) AS rev_q4,
        |  CAST(SUM(CASE WHEN fm.first_ym = lo.ym THEN lo.rev ELSE 0 END)
        |    AS BIGINT) AS new_rev_q4,
        |  CAST(FLOOR(SUM(CASE WHEN fm.first_ym = lo.ym THEN lo.rev ELSE 0 END)
        |    * CAST(1000000.0 AS DOUBLE) / SUM(lo.rev)) AS BIGINT) AS new_share_q6
        |FROM lo JOIN fm ON fm.l_partkey = lo.l_partkey
        |GROUP BY lo.ym ORDER BY ym""".stripMargin) { (s, d) =>
      val lo = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey"),
          date_trunc("month", col("o_orderdate").cast("date")).cast("date").as("ymd"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
            .cast("long").as("rev"))
      // first_ym via a part-keyed window instead of groupBy + self-join:
      // the join re-evaluated the whole lineitem⋈orders subtree a second
      // time (no exchange reuse across the aggregate) and shuffled it
      // twice; the window shuffles lo by l_partkey once (r15, guide §2.4)
      val wp = Window.partitionBy(col("l_partkey"))
      lo.withColumn("first_ym", min(col("ymd")).over(wp))
        .groupBy(date_format(col("ymd"), "yyyy-MM").as("ym"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(when(col("first_ym") === col("ymd"), col("l_partkey")))
            .as("n_new_parts"),
          sum(col("rev")).as("rev_q4"),
          sum(when(col("first_ym") === col("ymd"), col("rev")).otherwise(0L))
            .as("new_rev_q4"),
          floor(sum(when(col("first_ym") === col("ymd"), col("rev")).otherwise(0L))
            * lit(1000000.0) / sum(col("rev"))).cast("long").as("new_share_q6"))
        .orderBy(col("ym"))
    },


    // Repeat-purchase curve: P(a customer who placed n orders places an
    // (n+1)-th) for every n — the order-count retention ladder, distinct
    // from time-based cohort retention. Suffix counts come from one
    // cumulative window over the BOUNDED per-order-count histogram
    // (orders-per-customer is small at any scale), never over customers.
    QueryDef.sql(
      "q_repeat_curve",
      """WITH oc AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM orders
        |  GROUP BY o_custkey),
        |h AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS c FROM oc GROUP BY n),
        |s AS (
        |  SELECT n, c,
        |    SUM(c) OVER (ORDER BY n DESC ROWS UNBOUNDED PRECEDING) AS reached
        |  FROM h)
        |SELECT n, c AS n_exactly, CAST(reached AS BIGINT) AS n_reached,
        |  CAST((reached - c) * 1000000 // reached AS BIGINT) AS p_next_q6
        |FROM s ORDER BY n""".stripMargin) { (s, d) =>
      val h = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("n").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      h.withColumn("reached", sum(col("c")).over(w))
        .select(col("n"), col("c").as("n_exactly"), col("reached").as("n_reached"),
          expr("((reached - c) * 1000000) div reached").as("p_next_q6"))
        .orderBy(col("n"))
    },


    // Inventory reorder point: per part, weekly-demand mean and variance
    // from exact BIGINT moments over the GLOBAL week grid (zero-demand
    // weeks enter through the week count, never materialized), then the
    // classic safety-stock formula mean·L + z·σ·√L (z = 1.65, L = 2
    // weeks) as one shared IEEE tree per part.
    QueryDef.sql(
      "q_reorder_point",
      """WITH wd AS (
        |  SELECT l_partkey, DATE_TRUNC('week', CAST(l_shipdate AS DATE)) AS wk,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1, 2),
        |nw AS (SELECT CAST(COUNT(DISTINCT DATE_TRUNC('week', CAST(l_shipdate AS DATE)))
        |         AS BIGINT) AS w FROM lineitem),
        |m AS (
        |  SELECT l_partkey, CAST(SUM(x) AS BIGINT) AS s1,
        |    CAST(SUM(x*x) AS BIGINT) AS s2, CAST(COUNT(*) AS BIGINT) AS nact
        |  FROM wd GROUP BY l_partkey)
        |SELECT m.l_partkey, nw.w AS n_weeks, m.nact AS n_active_weeks, m.s1 AS total_qty,
        |  CAST(FLOOR((m.s1 * 2.0 / nw.w
        |    + 1.65 * SQRT(CAST((nw.w * m.s2 - m.s1 * m.s1) * 2 AS DOUBLE)) / nw.w)
        |    * 100.0) AS BIGINT) AS reorder_point_c
        |FROM m CROSS JOIN nw ORDER BY m.l_partkey LIMIT 500""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val wd = li.groupBy(col("l_partkey"),
          date_trunc("week", col("l_shipdate").cast("date")).as("wk"))
        .agg(sum(col("l_quantity").cast("long")).as("x"))
      val nw = li.agg(countDistinct(
        date_trunc("week", col("l_shipdate").cast("date"))).as("w"))
      val m = wd.groupBy(col("l_partkey"))
        .agg(sum(col("x")).as("s1"), sum(col("x") * col("x")).as("s2"),
          count(lit(1)).as("nact"))
      m.crossJoin(broadcast(nw))
        .select(col("l_partkey"), col("w").as("n_weeks"),
          col("nact").as("n_active_weeks"), col("s1").as("total_qty"),
          floor((col("s1") * lit(2.0) / col("w")
            + lit(1.65) * sqrt(((col("w") * col("s2") - col("s1") * col("s1")) * 2)
              .cast("double")) / col("w")) * lit(100.0)).cast("long")
            .as("reorder_point_c"))
        .orderBy(col("l_partkey"))
        .limit(500)
    },


    // Croston's method — the intermittent-demand forecaster (the classic
    // for spare-parts/slow-mover series where q_reorder_point's normal
    // approximation breaks): per part, EWMA the demand SIZES and the
    // inter-arrival GAPS separately over demand occurrences, forecast
    // rate = z/p. α = 1/2 as exact binary halving (the hwStep
    // discipline), so the per-part fold replays bit-for-bit in the
    // recursive-CTE oracle. Contract: z seeds at the first size, p seeds
    // at the first gap (occurrence 2); updates z' = ⌊(s+z)/2⌋,
    // p' = ⌊(g+p)/2⌋; parts need ≥ 2 demand days. SBA column = the
    // Syntetos-Boylan bias correction (1 − α/2) = 3/4. Sequential state
    // is 4 longs per part over the (part, day) pre-reduction — demand
    // days per part are bounded by the calendar, not the fact table.
    QueryDef.sql(
      "q_croston",
      """WITH RECURSIVE dem AS (
        |  SELECT l_partkey AS pk,
        |    DATE_DIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS di,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sz
        |  FROM lineitem GROUP BY 1, 2),
        |seq AS (
        |  SELECT pk, sz,
        |    CAST(di - LAG(di) OVER (PARTITION BY pk ORDER BY di) AS BIGINT) AS gap,
        |    ROW_NUMBER() OVER (PARTITION BY pk ORDER BY di) AS rn
        |  FROM dem),
        |init AS (SELECT pk FROM seq GROUP BY pk HAVING MAX(rn) >= 2),
        |walk(pk, rn, z, p) AS (
        |  SELECT s.pk, CAST(1 AS BIGINT), s.sz, CAST(0 AS BIGINT)
        |  FROM seq s JOIN init i ON i.pk = s.pk WHERE s.rn = 1
        |  UNION ALL
        |  SELECT s.pk, s.rn,
        |    CAST(FLOOR((s.sz + w.z) / 2.0) AS BIGINT),
        |    CASE WHEN s.rn = 2 THEN s.gap
        |      ELSE CAST(FLOOR((s.gap + w.p) / 2.0) AS BIGINT) END
        |  FROM walk w JOIN seq s ON s.pk = w.pk AND s.rn = w.rn + 1),
        |last AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY rn DESC) AS rr
        |  FROM walk)
        |SELECT pk AS l_partkey, rn AS n_demands, z AS z_c, p AS p_c,
        |  (z * 1000000) // p AS rate_q6, (z * 750000) // p AS sba_q6
        |FROM last WHERE rr = 1 AND rn >= 2
        |ORDER BY l_partkey LIMIT 500""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"),
          datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("di"))
        .agg(sum(col("l_quantity").cast("long")).as("sz"))
        .as[(Long, Long, Long)]
        .repartition(col("l_partkey"))
        .sortWithinPartitions(col("l_partkey"), col("di"))
        .mapPartitions { it =>
          val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long)]
          var cur = Long.MinValue
          var n = 0L; var z = 0L; var p = 0L; var lastDi = 0L
          def flush(): Unit = if (n >= 2) out += ((cur, n, z, p))
          it.foreach { case (pk, di, sz) =>
            if (pk != cur) { flush(); cur = pk; n = 0L; z = 0L; p = 0L }
            n += 1
            if (n == 1) z = sz
            else {
              val g = di - lastDi
              z = math.floor((sz + z) / 2.0).toLong
              p = if (n == 2) g else math.floor((g + p) / 2.0).toLong
            }
            lastDi = di
          }
          flush()
          out.iterator
        }
        .map { case (pk, n, z, p) =>
          (pk, n, z, p, (z * 1000000L) / p, (z * 750000L) / p)
        }
        .toDF("l_partkey", "n_demands", "z_c", "p_c", "rate_q6", "sba_q6")
        .orderBy(col("l_partkey"))
        .limit(500)
    },

    // Bill-of-materials explosion: the part hierarchy (child c belongs to
    // assembly c div 7, needing c mod 5 + 1 units per parent unit) walked
    // four levels down with quantities MULTIPLIED along each path — the
    // classic manufacturing roll-up, distinct from q_hierarchy_rollup's
    // additive closed form. Four unrolled keyed joins on the derived
    // parent key (Spark sees plain equi-joins; depth is a design
    // constant, not data-dependent), then one per-assembly reduction.
    QueryDef.sql(
      "q_bom_explode",
      """WITH pk AS (SELECT p_partkey AS p FROM part),
        |d1 AS (
        |  SELECT r.p AS root, c.p AS c, CAST(c.p % 5 + 1 AS BIGINT) AS mult
        |  FROM pk r JOIN pk c ON c.p // 7 = r.p AND c.p <> r.p),
        |d2 AS (
        |  SELECT d1.root, c.p AS c, d1.mult * (c.p % 5 + 1) AS mult
        |  FROM d1 JOIN pk c ON c.p // 7 = d1.c AND c.p <> d1.c),
        |d3 AS (
        |  SELECT d2.root, c.p AS c, d2.mult * (c.p % 5 + 1) AS mult
        |  FROM d2 JOIN pk c ON c.p // 7 = d2.c AND c.p <> d2.c),
        |d4 AS (
        |  SELECT d3.root, c.p AS c, d3.mult * (c.p % 5 + 1) AS mult
        |  FROM d3 JOIN pk c ON c.p // 7 = d3.c AND c.p <> d3.c),
        |alld AS (
        |  SELECT root, c, mult, 1 AS lvl FROM d1
        |  UNION ALL SELECT root, c, mult, 2 FROM d2
        |  UNION ALL SELECT root, c, mult, 3 FROM d3
        |  UNION ALL SELECT root, c, mult, 4 FROM d4)
        |SELECT root AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_components,
        |  CAST(MAX(lvl) AS BIGINT) AS max_depth,
        |  CAST(SUM(mult) AS BIGINT) AS total_units
        |FROM alld GROUP BY root ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val pk = Tables.part(s, d).select(col("p_partkey").as("p"))
      def level(parent: org.apache.spark.sql.DataFrame) = parent
        .join(pk.select(col("p").as("cp")),
          expr("cp div 7") === col("c") && col("cp") =!= col("c"))
        .select(col("root"), col("cp").as("c"),
          (col("mult") * (col("cp") % 5 + 1)).as("mult"))
      val d1 = pk.select(col("p").as("root"))
        .join(pk.select(col("p").as("cp")),
          expr("cp div 7") === col("root") && col("cp") =!= col("root"))
        .select(col("root"), col("cp").as("c"),
          (col("cp") % 5 + 1).cast("long").as("mult"))
      val d2 = level(d1); val d3 = level(d2); val d4 = level(d3)
      Seq(d1.withColumn("lvl", lit(1)), d2.withColumn("lvl", lit(2)),
        d3.withColumn("lvl", lit(3)), d4.withColumn("lvl", lit(4)))
        .reduce(_ unionByName _)
        .groupBy(col("root").as("p_partkey"))
        .agg(count(lit(1)).as("n_components"),
          max(col("lvl")).cast("long").as("max_depth"),
          sum(col("mult")).as("total_units"))
        .orderBy(col("p_partkey"))
    },


    // Price/volume/mix waterfall: the FP&A decomposition of revenue
    // change between the two halves of the timeline — Δrev = Σ(Δp·q₁)
    // price effect + Σ(p₁·Δq) volume effect + Σ(Δp·Δq) mix, plus
    // new/discontinued part buckets. Defined self-consistently on
    // integer-divided unit prices (p̄·q), so every effect is an exact
    // BIGINT and the five buckets reconcile to the total delta
    // bit-for-bit — the property a waterfall chart depends on.
    QueryDef.sql(
      "q_price_volume_mix",
      """WITH sp AS (SELECT CAST(MIN(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT) AS d0,
        |    CAST(MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT) AS d1
        |  FROM orders),
        |pp AS (
        |  SELECT l.l_partkey,
        |    CASE WHEN CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      * 2 <= sp.d0 + sp.d1 THEN 1 ELSE 2 END AS half,
        |    CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT))
        |      // SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS p,
        |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  CROSS JOIN sp GROUP BY 1, 2),
        |j AS (
        |  SELECT COALESCE(a.l_partkey, b.l_partkey) AS pk,
        |    a.p AS p1, a.q AS q1, b.p AS p2, b.q AS q2
        |  FROM (SELECT * FROM pp WHERE half = 1) a
        |  FULL OUTER JOIN (SELECT * FROM pp WHERE half = 2) b
        |    ON b.l_partkey = a.l_partkey)
        |SELECT
        |  CAST(SUM(COALESCE(p1 * q1, 0)) AS BIGINT) AS rev1_c,
        |  CAST(SUM(COALESCE(p2 * q2, 0)) AS BIGINT) AS rev2_c,
        |  CAST(SUM(COALESCE(p2 * q2, 0)) - SUM(COALESCE(p1 * q1, 0)) AS BIGINT)
        |    AS delta_c,
        |  CAST(SUM(CASE WHEN p1 IS NOT NULL AND p2 IS NOT NULL
        |    THEN (p2 - p1) * q1 ELSE 0 END) AS BIGINT) AS price_eff_c,
        |  CAST(SUM(CASE WHEN p1 IS NOT NULL AND p2 IS NOT NULL
        |    THEN p1 * (q2 - q1) ELSE 0 END) AS BIGINT) AS volume_eff_c,
        |  CAST(SUM(CASE WHEN p1 IS NOT NULL AND p2 IS NOT NULL
        |    THEN (p2 - p1) * (q2 - q1) ELSE 0 END) AS BIGINT) AS mix_eff_c,
        |  CAST(SUM(CASE WHEN p1 IS NULL THEN p2 * q2 ELSE 0 END) AS BIGINT)
        |    AS new_eff_c,
        |  CAST(-SUM(CASE WHEN p2 IS NULL THEN p1 * q1 ELSE 0 END) AS BIGINT)
        |    AS discontinued_eff_c
        |FROM j""".stripMargin) { (s, d) =>
      val od = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      val sp = Tables.orders(s, d).agg(min(od).as("d0"), max(od).as("d1"))
      val pp = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .crossJoin(broadcast(sp))
        .groupBy(col("l_partkey"),
          when(od * 2 <= col("d0") + col("d1"), 1).otherwise(2).as("half"))
        .agg(expr("sum(cast(floor(l_extendedprice * 100) as bigint))"
          + " div sum(cast(l_quantity as bigint))").as("p"),
          sum(col("l_quantity").cast("long")).as("q"))
      val a = pp.filter(col("half") === 1)
        .select(col("l_partkey"), col("p").as("p1"), col("q").as("q1"))
      val b = pp.filter(col("half") === 2)
        .select(col("l_partkey").as("pk2"), col("p").as("p2"), col("q").as("q2"))
      val j = a.join(b, col("pk2") === col("l_partkey"), "full_outer")
      def both(c: org.apache.spark.sql.Column) =
        when(col("p1").isNotNull && col("p2").isNotNull, c).otherwise(0L)
      j.agg(
        sum(coalesce(col("p1") * col("q1"), lit(0L))).as("rev1_c"),
        sum(coalesce(col("p2") * col("q2"), lit(0L))).as("rev2_c"),
        (sum(coalesce(col("p2") * col("q2"), lit(0L)))
          - sum(coalesce(col("p1") * col("q1"), lit(0L)))).as("delta_c"),
        sum(both((col("p2") - col("p1")) * col("q1"))).as("price_eff_c"),
        sum(both(col("p1") * (col("q2") - col("q1")))).as("volume_eff_c"),
        sum(both((col("p2") - col("p1")) * (col("q2") - col("q1")))).as("mix_eff_c"),
        sum(when(col("p1").isNull, col("p2") * col("q2")).otherwise(0L)).as("new_eff_c"),
        (-sum(when(col("p2").isNull, col("p1") * col("q1")).otherwise(0L)))
          .as("discontinued_eff_c"))
    },

    // Deterministic negative sampling for recommender / two-tower
    // training data: 4 hash-proposed (customer, part) candidates per
    // customer — part = (custkey·2654435761 + j·2246822519) mod |parts|,
    // Knuth multiplicative constants, exact BIGINT (custkey ≤ ~10⁶ keeps
    // the product ≪ 2⁶³; the hllMix lesson) — minus the observed
    // positives via one keyed left-anti join. NEVER rand(): the sample
    // must be reproducible across engines, retries, and speculative task
    // re-execution. Scale shape: candidates are generated by an explode
    // over the dimension table (no shuffle), the anti-join is keyed by
    // (custkey, partkey) against the distinct positives reduction, and
    // the positives distinct is a combiner groupBy on the fact table.
    QueryDef.sql(
      "q_negative_sampling",
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM part),
        |cand AS (
        |  SELECT cu.c_custkey AS c, CAST(j AS BIGINT) AS j,
        |    (cu.c_custkey * 2654435761 + CAST(j AS BIGINT) * 2246822519) % np.np AS p
        |  FROM customer cu CROSS JOIN np, UNNEST(RANGE(1, 5)) AS u(j))
        |SELECT c AS custkey, j, p AS neg_partkey FROM cand
        |WHERE NOT EXISTS (SELECT 1 FROM pos WHERE pos.c = cand.c AND pos.p = cand.p)
        |ORDER BY custkey, j""".stripMargin) { (s, d) =>
      val pos = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey").as("c"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey").as("p")), Seq("o_orderkey"))
        .select(col("c"), col("p")).distinct()
      val np = Tables.part(s, d).agg(count(lit(1)).as("np"))
      val cand = Tables.customer(s, d).select(col("c_custkey").as("c"))
        .crossJoin(broadcast(np))
        .select(col("c"), explode(array((1 to 4).map(j => lit(j.toLong)): _*)).as("j"),
          col("np"))
        .select(col("c"), col("j"),
          pmod(col("c") * lit(2654435761L) + col("j") * lit(2246822519L), col("np")).as("p"))
      cand.join(pos, Seq("c", "p"), "left_anti")
        .select(col("c").as("custkey"), col("j"), col("p").as("neg_partkey"))
        .orderBy(col("custkey"), col("j"))
    }
  )
}
