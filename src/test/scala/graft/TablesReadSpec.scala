package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.TimestampType

/** The engine's one parquet reader on the test tables: every table gets
  * the schema Spark's inference would give it, without a job, and
  * `events` reads the same on a session that lacks the nanos flag. */
class TablesReadSpec extends SparkSpec {
  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  Tables.names.foreach { t =>
    test(s"Tables.read gives $t the schema spark.read.parquet infers") {
      // events is read with the nanos flag on, as the engine's session has it
      assert(spark.conf.get(NanosConf) == "true")
      val p = s"${sf()}/$t.parquet"
      var got: DataFrame = null
      assert(jobsOf { got = Tables.read(spark, p) } == 0)
      assert(got.schema == spark.read.parquet(p).schema)
    }
  }

  /** An `events` table whose `ts` is parquet TIMESTAMP(NANOS), as DuckDB
    * or Arrow write it (Spark cannot write one). */
  private def nanosEvents(ns: Seq[Long]): String = {
    val dir = Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val rows = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).build()
    try ns.zipWithIndex.foreach { case (t, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", t))
    } finally w.close()
    dir
  }

  test("events on a foreign session without nanosAsLong reads ts as microsecond timestamps") {
    val ns = Seq(1700000000123456789L, 1700000000123456001L, 1600000000000000999L)
    val nanosDir = nanosEvents(ns)
    Seq(sf(), nanosDir).foreach { d =>
      val foreign = spark.newSession()
      foreign.conf.unset(NanosConf)
      assert(!foreign.conf.getOption(NanosConf).contains("true"))
      // the flag must be set before the footer is converted: a
      // TIMESTAMP(NANOS) column does not convert without it
      val got = Tables.events(foreign, d)
      assert(got.schema("ts").dataType == TimestampType, d)
      assert(got.orderBy("event_id").collect().toSeq ==
        Tables.events(spark, d).orderBy("event_id").collect().toSeq, d)
    }
    val micros = Tables.events(spark, nanosDir).orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(micros == ns.map(_ / 1000))
  }
}
