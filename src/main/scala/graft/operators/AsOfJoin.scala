package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Backward as-of join — for every left row, attach the latest right row
  * with the same key and right.time <= left.time. The temporal-nearest
  * attachment the reference does when pairing sensing times with reference
  * dates (reference_dates.py's latest-reference-before-acquisition lookup)
  * and a first-class time-series operator Spark lacks.
  *
  * Spark-first plan: NOT a range join (an inequality theta-join degenerates
  * to a broadcast nested loop or an exploded interval join). Instead the
  * classic union + running-last formulation:
  *
  *   1. union right rows (side 0) and left rows (side 1), each carrying its
  *      payload in a nullable struct;
  *   2. one window per key ordered by (time, side): `last(right_payload,
  *      ignoreNulls)` over the unbounded-preceding frame gives every left
  *      row the most recent right payload at or before its timestamp
  *      (side 0 sorts before side 1, so an equal-timestamp right row IS
  *      visible, matching ASOF's `right.t <= left.t`);
  *   3. keep side-1 rows and flatten both payload structs.
  *
  * Cost: ONE shuffle by key (the window), no join at all — the same
  * movement a groupBy needs, so it scales like any keyed aggregation; a
  * pathologically hot key is a salting/AQE concern, not an operator
  * concern. Right rows should be unique per (key, time) — pre-aggregate
  * ties — or the attached row among equal timestamps is tie-broken by
  * `tiebreak` (appended to the window order).
  */
object AsOfJoin {

  /** left ⟕asof right on `key` in `time`. `direction` "backward" attaches
    * the latest right at-or-before each left time; "forward" the earliest
    * right at-or-after (the same running-last trick over DESCENDING time —
    * rights with larger t are seen first, so the last right seen before a
    * left row is the smallest t ≥ its time). Right columns (minus the key)
    * come back prefixed with `prefix`; unmatched lefts get nulls
    * (LEFT OUTER asof semantics). */
  def asOf(left: DataFrame, right: DataFrame, key: Seq[String], time: String,
      prefix: String = "asof_", tiebreak: Seq[String] = Nil,
      direction: String = "backward"): DataFrame = {
    require(left.columns.contains(time) && right.columns.contains(time),
      s"both sides need the time column '$time'")
    require(Seq("backward", "forward").contains(direction), direction)
    val lcols = left.columns.toSeq
    val rcols = right.columns.toSeq.filterNot(key.contains)
    val lPayload = StructType(left.schema.fields)
    val rPayload = StructType(right.select(rcols.map(col): _*).schema.fields)

    def side(df: DataFrame, s: Int, l: Column, r: Column): DataFrame =
      df.select(key.map(col) ++ Seq(col(time).as("__t"), lit(s).as("__side"),
        l.as("__l"), r.as("__r")) ++
        tiebreak.map(c => (if (s == 0) col(c) else lit(null).cast(df.schema(c).dataType)).as(s"__tb_$c")): _*)

    val u = side(right, 0, lit(null).cast(lPayload), struct(rcols.map(col): _*))
      .unionByName(side(left, 1, struct(lcols.map(col): _*), lit(null).cast(rPayload)))

    val tOrder = if (direction == "backward") col("__t").asc else col("__t").desc
    val order = Seq(tOrder, col("__side").asc) ++
      tiebreak.map(c => col(s"__tb_$c").asc_nulls_last)
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    u.withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(lcols.map(c => col(s"__l.$c").as(c)) ++
        rcols.map(c => col(s"__m.$c").as(prefix + c)): _*)
  }

  /** Each purchase attached to the user's click `direction` of it
    * (q_asof_join, q_asof_join_forward). */
  private def purchaseClick(s: org.apache.spark.sql.SparkSession, d: String,
      direction: String): DataFrame = {
    val ev = Tables.events(s, d)
    val probes = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    // right side unique per (key, time): pre-aggregate equal-timestamp ties
    val quotes = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(floor(max(col("value")) * 100).cast("long").as("click_val_q2"))
    asOf(probes, quotes, Seq("user_id"), "ts", direction = direction)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("p_ts_us"),
        unix_micros(col("asof_ts")).as("click_ts_us"),
        col("asof_click_val_q2").as("click_val_q2"))
      .orderBy(col("event_id"))
  }

  /** DuckDB's native ASOF LEFT JOIN twin of [[purchaseClick]]; `cmp` is
    * the click-to-purchase time condition. */
  private def purchaseClickSql(cmp: String): String =
    s"""WITH probes AS (
       |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
       |quotes AS (
       |  SELECT user_id, ts, CAST(FLOOR(MAX(value) * 100) AS BIGINT) AS click_val_q2
       |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
       |SELECT p.event_id, p.user_id, EPOCH_US(p.ts) AS p_ts_us,
       |  EPOCH_US(q.ts) AS click_ts_us, q.click_val_q2
       |FROM probes p ASOF LEFT JOIN quotes q
       |  ON p.user_id = q.user_id AND q.ts $cmp p.ts
       |ORDER BY event_id""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    // every purchase attached to the user's most recent click at-or-before
    // it; DuckDB's NATIVE ASOF LEFT JOIN is the oracle, so the union+window
    // formulation is proven equivalent to the canonical operator semantics
    QueryDef.sql(
      "q_asof_join",
      purchaseClickSql("<=")) { (s, d) =>
      purchaseClick(s, d, "backward")
    },

    // forward direction: each purchase attached to the user's NEXT click
    // at-or-after it (DuckDB's ASOF with a >= condition is the oracle)
    QueryDef.sql(
      "q_asof_join_forward",
      purchaseClickSql(">=")) { (s, d) =>
      purchaseClick(s, d, "forward")
    },

    // NEAREST direction: each event attached to the temporally closest
    // purchase anchor of the same user, either side, ties to the earlier
    // (backward) anchor. Composed from the two one-shuffle passes —
    // backward then forward — and a per-row pick; total cost two keyed
    // window shuffles, still no join. The oracle ranks the per-user
    // candidate set by (|Δt|, anchor ts) — quadratic per user, fine as a
    // replay, which is exactly the plan shape the operator exists to
    // avoid at scale.
    QueryDef.sql(
      "q_asof_join_nearest",
      """WITH r AS (
        |  SELECT user_id, ts, CAST(MIN(event_id) AS BIGINT) AS rid
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |l AS (
        |  SELECT user_id, event_id, ts FROM events),
        |cand AS (
        |  SELECT l.event_id, r.rid,
        |    ABS(EPOCH_US(l.ts) - EPOCH_US(r.ts)) AS dist,
        |    ROW_NUMBER() OVER (PARTITION BY l.event_id
        |      ORDER BY ABS(EPOCH_US(l.ts) - EPOCH_US(r.ts)), EPOCH_US(r.ts)) AS rn
        |  FROM l JOIN r ON r.user_id = l.user_id)
        |SELECT l.user_id, CAST(l.event_id AS BIGINT) AS event_id,
        |  c.rid AS near_rid, CAST(c.dist AS BIGINT) AS near_dist_us
        |FROM l LEFT JOIN (SELECT event_id, rid, dist FROM cand WHERE rn = 1) c
        |  ON c.event_id = l.event_id
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val lefts = ev.select(col("user_id"), col("event_id"), col("ts"))
      // anchors unique per (key, time): equal-timestamp ties pre-aggregated
      // to the smallest id, so both engines attach the same row
      val rights = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(min(col("event_id")).as("rid"))
      val b = asOf(lefts, rights, Seq("user_id"), "ts", prefix = "b_")
      val bf = asOf(b, rights, Seq("user_id"), "ts", prefix = "f_",
        direction = "forward")
      val db = unix_micros(col("ts")) - unix_micros(col("b_ts"))
      val dfw = unix_micros(col("f_ts")) - unix_micros(col("ts"))
      // ties (db == dfw) go backward — the earlier anchor, matching the
      // oracle's ORDER BY (|Δt|, anchor ts)
      val useB = col("f_ts").isNull || (col("b_ts").isNotNull && db <= dfw)
      bf.select(col("user_id"), col("event_id"),
          when(useB, col("b_rid")).otherwise(col("f_rid")).as("near_rid"),
          when(useB, db).otherwise(dfw).cast("long").as("near_dist_us"))
        .orderBy(col("user_id"), col("event_id"))
    }
  )
}
