package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the registry's ten input tables (the TPC-H-like
  * star schema plus events, documents and embeddings), with the schemas,
  * key ranges and value distributions of the test tables the registry
  * queries are written against. Every value is a pure function of
  * `(seed, table, column, row id)` through `xxhash64`, so the same seed
  * writes the same rows whatever the partitioning. Each table is written
  * as one parquet file, like the test tables. */
object TableGen {

  /** Rows per table at scale factor `sf`. */
  def sizes(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> (150000 * sf).round, "supplier" -> (10000 * sf).round,
    "part" -> (200000 * sf).round, "orders" -> (1500000 * sf).round,
    "lineitem" -> (6000000 * sf).round, "events" -> (1000000 * sf).round,
    "documents" -> (50000 * sf).round,
    "embeddings" -> math.min((50000 * sf).round, 2000L))

  private def h(seed: Long, salt: String): Column =
    xxhash64(lit(seed), lit(salt), col("id"))

  /** Uniform double in [0, 1). */
  private def u(seed: Long, salt: String): Column =
    shiftrightunsigned(h(seed, salt), 11).cast("double") / 9007199254740992.0

  /** Uniform integer in [0, n). */
  private def ui(seed: Long, salt: String, n: Long): Column =
    pmod(h(seed, salt), lit(n))

  private def pick(seed: Long, salt: String, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (ui(seed, salt, xs.length) + 1).cast("int"))

  private def money(seed: Long, salt: String, lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, salt) * (hi - lo), 2)

  private def day(seed: Long, salt: String, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), ui(seed, salt, days).cast("int"))
      .cast("timestamp")

  val Words: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** Text of document `id`: 10..100 words drawn from [[Words]]. */
  private def docText(seed: Long, id: Column): Column = {
    def hh(salt: String, extra: Column*) = xxhash64((lit(seed) +: lit(salt) +: id +: extra): _*)
    val n = pmod(hh("doc.len"), lit(91)) + 10
    val vocab = array(Words.map(lit): _*)
    array_join(transform(sequence(lit(0), n.cast("int") - 1),
      i => element_at(vocab, (pmod(hh("doc.word", i), lit(Words.length.toLong)) + 1).cast("int"))), " ")
  }

  def table(spark: SparkSession, name: String, sf: Double, seed: Long): DataFrame = {
    val n = sizes(sf)
    def ids(t: String) = spark.range(n(t))
    def s(t: String, c: String) = s"$t.$c"
    name match {
      case "region" =>
        ids(name).select(col("id").cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
            (col("id") + 1).cast("int")).as("r_name"))
      case "nation" =>
        ids(name).select(col("id").cast("int").as("n_nationkey"),
          concat(lit("NATION_"), col("id")).as("n_name"),
          (col("id") % 5).cast("int").as("n_regionkey"))
      case "customer" =>
        ids(name).select(col("id").as("c_custkey"),
          format_string("Customer#%09d", col("id")).as("c_name"),
          ui(seed, s(name, "nation"), 25).cast("int").as("c_nationkey"),
          money(seed, s(name, "acctbal"), -1000, 10000).as("c_acctbal"),
          pick(seed, s(name, "seg"), Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
            "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
      case "supplier" =>
        ids(name).select(col("id").as("s_suppkey"),
          format_string("Supplier#%09d", col("id")).as("s_name"),
          ui(seed, s(name, "nation"), 25).cast("int").as("s_nationkey"),
          money(seed, s(name, "acctbal"), -1000, 10000).as("s_acctbal"))
      case "part" =>
        ids(name).select(col("id").as("p_partkey"),
          concat_ws(" ",
            pick(seed, s(name, "adj"), Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
            pick(seed, s(name, "noun"), Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
            .as("p_name"),
          concat(lit("Brand#"), ui(seed, s(name, "brand"), 25) + 1).as("p_brand"),
          pick(seed, s(name, "type"), Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
            "STANDARD")).as("p_type"),
          (ui(seed, s(name, "size"), 50) + 1).cast("int").as("p_size"),
          round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice"))
      case "orders" =>
        ids(name).select(col("id").as("o_orderkey"),
          ui(seed, s(name, "cust"), n("customer")).as("o_custkey"),
          pick(seed, s(name, "status"), Seq("F", "O", "P")).as("o_orderstatus"),
          money(seed, s(name, "price"), 1000, 500000).as("o_totalprice"),
          day(seed, s(name, "date"), "1995-01-01", 2405).as("o_orderdate"),
          pick(seed, s(name, "prio"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
            "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
      case "lineitem" =>
        ids(name).select(ui(seed, s(name, "order"), n("orders")).as("l_orderkey"),
          ui(seed, s(name, "part"), n("part")).as("l_partkey"),
          ui(seed, s(name, "supp"), n("supplier")).as("l_suppkey"),
          (ui(seed, s(name, "line"), 7) + 1).cast("int").as("l_linenumber"),
          (ui(seed, s(name, "qty"), 50) + 1).cast("double").as("l_quantity"),
          money(seed, s(name, "price"), 900, 105000).as("l_extendedprice"),
          (ui(seed, s(name, "disc"), 11) / 100.0).as("l_discount"),
          (ui(seed, s(name, "tax"), 9) / 100.0).as("l_tax"),
          pick(seed, s(name, "rf"), Seq("A", "N", "R")).as("l_returnflag"),
          pick(seed, s(name, "ls"), Seq("F", "O")).as("l_linestatus"),
          day(seed, s(name, "ship"), "1995-01-02", 2499).as("l_shipdate"))
      case "events" =>
        val span = 30L * 86400L * 1000000L
        ids(name).select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) + ui(seed, s(name, "ts"), span)).as("ts"),
          ui(seed, s(name, "user"), math.max(1L, (15000 * sf).round)).as("user_id"),
          pick(seed, s(name, "type"), Seq("click", "error", "purchase", "signup", "view"))
            .as("event_type"),
          round(-log1p(-u(seed, s(name, "value"))) * 50.0, 2).as("value"),
          format_string("{\"k\": %d}", ui(seed, s(name, "k"), 100)).as("props"))
      case "documents" =>
        // 5% are near-duplicates: an earlier document with one word swapped
        // for "dup", which gives the dedup queries real pairs to find
        val isDup = ui(seed, s(name, "dup"), 20) === 0 && col("id") > 0
        val src = col("id") - 1 - pmod(h(seed, s(name, "src")), least(col("id"), lit(50L)))
        val pos = ui(seed, s(name, "pos"), 10).cast("int")
        val dupText = array_join(transform(split(docText(seed, src), " "),
          (w, i) => when(i === pos, lit("dup")).otherwise(w)), " ")
        ids(name).withColumn("text", when(isDup, dupText).otherwise(docText(seed, col("id"))))
          .select(col("id").as("doc_id"), col("text"),
            element_at(array(Seq("en", "en", "en", "de", "es", "fr", "zh").map(lit): _*),
              (ui(seed, s(name, "lang"), 7) + 1).cast("int")).as("lang"),
            concat(lit("src"), col("id") % 20).as("source"),
            length(col("text")).cast("long").as("n_chars"))
      case "embeddings" =>
        // unit vectors around one of ten label directions (dim 64)
        val dim = 64
        val label = ui(seed, s(name, "label"), 10)
        def gauss(salt: String, a: Column, i: Column): Column = {
          def uu(k: String) = (shiftrightunsigned(xxhash64(lit(seed), lit(salt + k), a, i), 11)
            .cast("double") + 1.0) / 9007199254740993.0
          sqrt(log(uu("u1")) * -2.0) * cos(uu("u2") * (2 * math.Pi))
        }
        ids(name).withColumn("label", label)
          .withColumn("raw", transform(sequence(lit(0), lit(dim - 1)),
            i => gauss("emb.noise", col("id"), i) + gauss("emb.center", col("label"), i) * 0.08))
          .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
          .select(col("id").as("vec_id"),
            transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
            col("label").cast("int"))
    }
  }

  /** Write every table under `dir/<name>.parquet`; returns rows and bytes
    * per table. */
  def writeAll(spark: SparkSession, dir: String, sf: Double, seed: Long,
      names: Seq[String]): Map[String, (Long, Long)] = {
    val conf = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "TIMESTAMP_MICROS")
    // the tables are independent: write them as concurrent jobs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try names.map { t =>
      pool.submit(() => {
        val path = s"$dir/$t.parquet"
        table(spark, t, sf, seed).coalesce(1).write.mode("overwrite").parquet(path)
        t -> (sizes(sf)(t), Files.bytes(path))
      })
    }.map(_.get).toMap
    finally {
      pool.shutdown()
      prev match {
        case Some(v) => spark.conf.set(conf, v)
        case None => spark.conf.unset(conf)
      }
    }
  }
}

/** Small file helpers shared by the generators. */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}

  def bytes(path: String): Long = {
    val p = Paths.get(path)
    if (!JFiles.exists(p)) 0L
    else if (JFiles.isDirectory(p)) {
      val s = JFiles.walk(p)
      try s.filter(JFiles.isRegularFile(_)).mapToLong(JFiles.size(_)).sum()
      finally s.close()
    } else JFiles.size(p)
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(JFiles.delete(_))
      finally s.close()
    }
  }

  def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(JFiles.createDirectories(_))
    JFiles.write(p, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def read(path: String): String =
    new String(JFiles.readAllBytes(Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
}
