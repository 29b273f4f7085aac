package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The engine's one parquet reader ([[read]]) + test-table loaders (TESTDATA.md).
  *
  * All tables are plain parquet under `{sfDir}/{name}.parquet`. The only
  * wrinkle is `events.ts`. The local test tables write it as parquet
  * TIMESTAMP(MICROS) without UTC adjustment, which Spark reads as
  * TimestampNTZ and [[events]] casts to TimestampType. An events file may
  * instead carry TIMESTAMP(NANOS): Spark has no nanosecond timestamp type,
  * so it is read with `spark.sql.legacy.parquet.nanosAsLong` and truncated
  * to microseconds — exactly what DuckDB's nanos→TIMESTAMP cast does,
  * keeping both engines bit-identical. Only TablesReadSpec's written file
  * takes that branch.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `spark.read.parquet(path)` with the data schema read from one footer on
    * the driver: the footer Spark's own inference reads (the first leaf data
    * file in path order; Spark writes no summary files), so the schema is
    * the same and a missing column still fails analysis, but no
    * schema-inference job runs. Partition columns are still discovered by
    * Spark from the directory names. A path that is not an existing file or
    * directory (a glob, a typo) goes to Spark unchanged. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // the names Spark's file index skips
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    val first = (if (fs.exists(root)) leaves(fs.getFileStatus(root)) else Nil)
      .minByOption(_.getPath.toString)
    first match {
      case Some(f) =>
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Spread keys for the compute-carrying fact tables. The driver's test
    * fixtures are ONE parquet file with ONE row group per table, so every
    * scan is a single split and all per-row work fused into the scan
    * stage (regex tokenization, from_json, quantized explodes) runs on
    * one core regardless of the session's parallelism — the guide's
    * "unsplittable input" skew (§2.5). [[spread]] hash-repartitions such
    * a table by its unique key right after the read, ONLY when the input
    * layout under-parallelizes the session (fewer files than shuffle
    * partitions AND a small total size): at production scale a table is
    * thousands of splits and the condition is false, so no extra
    * exchange is ever paid there. Dimension tables (region…part) are
    * broadcast-sized and excluded. */
  private val spreadKeys: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "events" -> Seq("event_id"),
    "embeddings" -> Seq("vec_id"),
    "orders" -> Seq("o_orderkey"))

  private val SpreadMaxBytes = 512L * 1024 * 1024

  /** Total size of a scan's input files, resolved through the Hadoop
    * FileSystem API so hdfs://s3a:// URIs and URL-encoded local paths size
    * correctly (the old `new java.io.File(f.stripPrefix("file:"))` probe
    * returned 0 for both, silently disabling the spread on exactly the
    * remote single-split inputs it exists for). Unresolvable files count
    * as 0 — the `bytes > 0` gate then fails closed (no spread), the safe
    * direction. */
  private[graft] def inputBytes(spark: SparkSession, files: Seq[String]): Long =
    files.map { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
      } catch { case _: Exception => 0L }
    }.sum

  private def spread(spark: SparkSession, df: DataFrame, name: String): DataFrame =
    spreadKeys.get(name) match {
      case Some(keys) =>
        val files = df.inputFiles
        val parts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
        val small = files.length < parts && {
          val bytes = inputBytes(spark, files.toSeq)
          bytes > 0 && bytes < SpreadMaxBytes
        }
        if (small)
          df.repartition(parts, keys.map(org.apache.spark.sql.functions.col): _*)
        else df
      case None => df
    }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spread(spark, read(spark, s"$sfDir/$name.parquet"), name)

  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** events with `ts` as a microsecond TimestampType (cast from
    * TimestampNTZ, or floor-truncated from a TIMESTAMP(NANOS) column's ns).
    *
    * Sessions built via [[GraftSession]] (or the Verify/Bench mains) already
    * carry the nanosAsLong flag; for a foreign session we set it as a
    * fallback, before [[read]] converts the footer — converting a
    * TIMESTAMP(NANOS) column throws without it and parquet exposes no
    * per-read option (ParquetOptions has no nanos key). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    if (!spark.conf.getOption(NanosConf).contains("true"))
      spark.conf.set(NanosConf, "true")
    val raw = spread(spark, read(spark, s"$sfDir/events.parquet"), "events")
    if (raw.schema("ts").dataType == LongType)
      // integral `div`, not `/`: epoch-ns ≈ 1.7e18 overflows double precision
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast(TimestampType))
  }

  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = table(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = table(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = table(spark, d, "region")
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")
}
