package graft.sources

import java.util.Properties

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** K3: single-file embedded relational DB sink (SURVEY.md §2.K3 — the
  * reference ships its catalog as sqlite/GPKG artifacts:
  * build_frame_db.py:453-480 `make_minimal_db` writes `burst_id_map` with
  * integer-snapped bbox coordinates, ~40% smaller than REALs;
  * export_denormalized_db.py:110-122 appends denormalized chunks).
  *
  * Spark-first shape: the engine-side operator is `DataFrameWriter.jdbc`
  * against an EMBEDDED database — Apache Derby here (the embedded JDBC
  * engine on the offline classpath; Spark ships a DerbyDialect). A sqlite
  * target is this exact code path with a different URL + driver string, so
  * the capability is closed even though no sqlite driver jar is available
  * offline.
  *
  * The artifact is a single-writer file DB (like the reference's sqlite),
  * so writes `coalesce(1)` — one JDBC connection, mirroring the
  * reference's single `sqlite3.connect`. This is an EXPORT sink for
  * ~10⁵–10⁶-row catalog artifacts, not a 100 TB data path: bulk data stays
  * in parquet (K2); this sink exists for the reference's downstream
  * consumers who open the catalog file directly.
  */
object EmbeddedDb {

  private val Driver = "org.apache.derby.jdbc.EmbeddedDriver"

  // keep Derby's engine log out of the working directory
  private lazy val quietDerby: Unit = {
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file",
        java.nio.file.Files.createTempDirectory("graft-derby")
          .resolve("derby.log").toString)
  }

  def url(path: String): String = s"jdbc:derby:$path;create=true"

  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", Driver)
    p
  }

  /** Write one table into the embedded DB artifact at `path`. */
  def writeTable(df: DataFrame, path: String, table: String): Unit = {
    quietDerby
    df.coalesce(1).write.mode(SaveMode.Overwrite).jdbc(url(path), table, props)
  }

  /** Read a table back from the embedded DB artifact (S1's JDBC flavor). */
  def readTable(s: SparkSession, path: String, table: String): DataFrame = {
    quietDerby
    s.read.jdbc(url(path), table, props)
  }

  /** Oracle-gated roundtrip: project supplier, write it through the
    * embedded-DB sink, read it back via JDBC, and return it ordered. The
    * DuckDB oracle computes the same projection straight from parquet, so a
    * hash match proves the sink+scan preserve every value exactly. */
  val queries: Seq[QueryDef] = Seq(
    QueryDef.sql(
      "q_jdbc_roundtrip",
      """SELECT CAST(s_suppkey AS BIGINT) AS suppkey, s_name,
        |  CAST(s_nationkey AS BIGINT) AS nationkey,
        |  CAST(FLOOR(s_acctbal * 100) AS BIGINT) AS acctbal_cents
        |FROM supplier ORDER BY suppkey""".stripMargin) { (s, d) =>
      val proj = Tables.supplier(s, d).select(
        col("s_suppkey").cast("long").as("suppkey"),
        col("s_name"),
        col("s_nationkey").cast("long").as("nationkey"),
        floor(col("s_acctbal") * 100).cast("long").as("acctbal_cents"))
      val db = java.nio.file.Files.createTempDirectory("graft-k3")
        .resolve("catalog_db").toString
      writeTable(proj, db, "supplier_min")
      readTable(s, db, "supplier_min").orderBy(col("suppkey"))
    }
  )
}
