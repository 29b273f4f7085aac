package graft.domain

import java.sql.Timestamp
import java.time.LocalDate

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-date sweep (reference_dates.py:105-157): a stateful scan over
  * each key's sorted acquisition times that emits a new reference date when
  * the accumulated interval passes `len(refs) · interval_days` — or an event
  * date is hit — provided the current group holds ≥ `minAcq` acquisitions;
  * an undersized event-triggered group merges into the previous batch.
  *
  * Not expressible as a window frame (the predicate depends on how many
  * references were already emitted) → `groupByKey.flatMapGroups` over the
  * sorted per-key iterator (SURVEY.md W5/D5). State is key-local, so the
  * operator scales horizontally.
  */
object ReferenceDates {

  /** Pure per-key sweep. Input times sorted ascending. Returns the emitted
    * reference timestamps. */
  def sweep(times: Seq[Timestamp], eventDates: Set[LocalDate] = Set.empty,
      intervalDays: Int = 365, minAcq: Int = 15): Seq[Timestamp] = {
    if (times.isEmpty) return Nil
    val refs = scala.collection.mutable.ArrayBuffer[Timestamp](times.head)
    var group = scala.collection.mutable.ArrayBuffer[Timestamp](times.head)
    var groupsEmitted = 0
    times.tail.foreach { t =>
      group += t
      val daysSinceFirst =
        (t.getTime - refs.head.getTime) / 86400000L
      val intervalPassed = daysSinceFirst >= refs.size.toLong * intervalDays
      val isEvent = eventDates.contains(t.toLocalDateTime.toLocalDate)
      if (intervalPassed || isEvent) {
        if (group.size >= minAcq) {
          refs += t
          groupsEmitted += 1
          group = scala.collection.mutable.ArrayBuffer[Timestamp]()
        } else if (isEvent) {
          // undersized event group merges into the previous batch
          refs(refs.size - 1) = t
          group = scala.collection.mutable.ArrayBuffer[Timestamp]()
        }
      }
    }
    refs.toSeq
  }

  /** Spark operator: rows (key, ts) → (key, ref_idx, ref_ts). */
  def referenceDates(df: DataFrame, eventDatesByKey: Map[Long, Set[LocalDate]] = Map.empty,
      intervalDays: Int = 365, minAcq: Int = 15): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bcEvents = spark.sparkContext.broadcast(eventDatesByKey)
    df.select(col("key").cast("long"), col("ts").cast("timestamp"))
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroups { (key, rows) =>
        val times = rows.map(_._2).toSeq.sorted
        val evs = bcEvents.value.getOrElse(key, Set.empty)
        sweep(times, evs, intervalDays, minAcq).zipWithIndex.map {
          case (t, i) => (key, i + 1, t)
        }.iterator
      }
      .toDF("key", "ref_idx", "ref_ts")
  }

  /** Query form: per-user reference dates over events (interval 30 days,
    * min 10 acquisitions — scaled to the synthetic table's 3-month span).
    * Sequential per-key state, but with no event dates the sweep IS
    * expressible as a row-at-a-time recursive CTE → DuckDB-oracled
    * (see the q_reference_dates oracle in operators.Geo); semantics also
    * pinned by ReferenceDatesSpec against hand-computed cases. */
  def referenceQuery(s: SparkSession, d: String): DataFrame =
    referenceDates(
      Tables.events(s, d).select(col("user_id").as("key"), col("ts")),
      intervalDays = 30, minAcq = 10)
      .select(col("key"), col("ref_idx").cast("long").as("ref_idx"), col("ref_ts"))
      .orderBy(col("key"), col("ref_idx"))
}
