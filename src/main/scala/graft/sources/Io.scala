package graft.sources

import java.io.{ByteArrayOutputStream, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.functions._

/** Sources/sinks beyond plain parquet/CSV (SURVEY.md §2.1).
  *
  *   - Zipped single-entry JSON (S7, utils.py:11-24): driver-side util —
  *     these are small catalog artifacts, not distributed datasets.
  *   - Nested JSON document (K4): the frame-to-burst closure
  *     (README.md:98-139). Built distributed (`to_json(struct)` per
  *     frame), assembled driver-side only at the final ~46k-row document
  *     boundary — the one place a collect is correct (§7.5 risk 6).
  */
object Io {

  // ---------------- zipped JSON (single entry)

  def writeJsonZip(path: String, entryName: String, json: String): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(path))
    try {
      zos.putNextEntry(new ZipEntry(entryName))
      zos.write(json.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    } finally zos.close()
  }

  def readJsonZip(path: String): String = {
    val zis = new ZipInputStream(new FileInputStream(path))
    try {
      val e = zis.getNextEntry
      require(e != null, s"$path: empty zip")
      val bos = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = zis.read(buf)
      while (n > 0) { bos.write(buf, 0, n); n = zis.read(buf) }
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally zis.close()
  }

  // ---------------- nested JSON document (K4 / F11 shape)

  /** JSON string escape (backslash, quote, all control chars) for the
    * hand-assembled document keys/metadata — an id or metadata value
    * containing a quote must not produce a malformed document. */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** frame-to-burst document: {"data": {fid: {...,"burst_ids":[...]}},
    * "metadata": {...}}. `frames` needs (fid, epsg, is_land,
    * is_north_america, xmin, ymin, xmax, ymax, burst_ids). */
  def frameToBurstJson(frames: DataFrame, metadata: Map[String, String]): String = {
    // final small document assembly only: the rows are joined into one
    // string on the driver anyway, so they are ordered there too
    val rows = collectOrdered(frames.select(col("fid"),
        to_json(struct(col("epsg"), col("is_land"), col("is_north_america"),
          col("xmin"), col("ymin"), col("xmax"), col("ymax"),
          col("burst_ids"))).as("j")), "fid")
    val data = rows.map(r => s"${jsonEscape(String.valueOf(r.getAs[Any]("fid")))}: ${r.getAs[String]("j")}")
      .mkString("{", ", ", "}")
    s"""{"data": $data, "metadata": ${metaJson(metadata)}}"""
  }

  /** `df`'s rows in the order `df.orderBy(col(key))` gives them: Spark's
    * ascending order for the key's type, nulls first (so strings in UTF-8
    * byte order, which differs from `String.compareTo` for supplementary
    * characters). For a document's rows, which are collected and joined
    * into one string on the driver anyway: sorting them there saves the
    * distributed sort's range-partition sample job and its shuffle. */
  private[graft] def collectOrdered(df: DataFrame, key: String): Array[Row] = {
    val i = df.schema.fieldIndex(key)
    val dt = df.schema(i).dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    df.collect().map(r => (InternalRow(toCatalyst(r.get(i))), r))
      .sortBy(_._1)(InterpretedOrdering.forSchema(Seq(dt))).map(_._2)
  }

  /** A document's metadata object: keys in order, keys and values escaped. */
  private[graft] def metaJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }.mkString("{", ", ", "}")
}
