package perfbench

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the ten parquet tables the `graft` queries read
  * (`Tables.table(spark, dir, name)`), with the schemas of the project's
  * testdata star schema and the distributions measured on its sf0.01
  * tables (perfbench/README.md, "Inputs"). The same (seed, sf) always
  * writes the same rows. Row counts scale like the testdata: lineitem =
  * 6M x sf, orders = 1.5M x sf, events = 1M x sf over 15k x sf users,
  * documents = max(500, 50k x sf), embeddings = max(500, 20k x sf).
  */
object Data {

  private val Words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Seq("en", "en", "en", "zh", "es", "de", "fr")
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  private def cents(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0
  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** Writes one plain parquet file `<dir>/<name>.parquet`, the layout
    * both Spark and the DuckDB oracle read.
    */
  private def save(spark: SparkSession, dir: String, name: String,
      schema: StructType, rows: Seq[Row], parts: Int): Unit = {
    val staging = Paths.get(dir, s"$name.staging")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging)
    try {
      val file = part.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(file, Paths.get(dir, s"$name.parquet"))
    } finally part.close()
    Files.walk(staging).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  private def f(n: String, t: DataType) = StructField(n, t)

  /** An event value: exponential with mean 50, in cents, at least 0.01. */
  def eventValue(r: Random): Double =
    math.max(0.01, math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0)

  /** Events as (event_id, ts, user_id, event_type, value, props), sorted
    * by ts over 30 days of 2024.
    */
  def events(seed: Long, n: Int, users: Int): Seq[Row] = {
    val r = new Random(seed * 31 + 7)
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanUs = 30L * 86400L * 1000000L
    val offsets = Array.fill(n)((r.nextDouble() * spanUs).toLong).sorted
    (0 until n).map { i =>
      Row(i.toLong, t0.plusNanos(offsets(i) * 1000L), r.nextInt(users).toLong,
        pick(r, EventTypes), eventValue(r), s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  val EventsSchema: StructType = StructType(Seq(f("event_id", LongType),
    f("ts", TimestampNTZType), f("user_id", LongType), f("event_type", StringType),
    f("value", DoubleType), f("props", StringType)))

  /** Writes all ten tables under `dir`; returns the lineitem row count. */
  def writeAll(spark: SparkSession, dir: String, seed: Long, sf: Double): Long = {
    val r = new Random(seed)
    val parts = spark.sparkContext.defaultParallelism
    def n(base: Double, min: Int) = math.max(min, math.round(base * sf).toInt)
    val nCust = n(150000, 50); val nSupp = n(10000, 10); val nPart = n(200000, 50)
    val nOrders = n(1500000, 200); val nLine = n(6000000, 800)
    val nEvents = n(1000000, 500); val nDocs = n(50000, 500); val nVecs = n(20000, 500)
    val nUsers = n(15000, 1)

    save(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType),
      f("r_name", StringType))), Regions.indices.map(i => Row(i, Regions(i))), 1)
    save(spark, dir, "nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)), 1)
    save(spark, dir, "customer", StructType(Seq(f("c_custkey", LongType),
      f("c_name", StringType), f("c_nationkey", IntegerType),
      f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(r, -999.99, 9999.99), pick(r, Segments))), parts)
    save(spark, dir, "supplier", StructType(Seq(f("s_suppkey", LongType),
      f("s_name", StringType), f("s_nationkey", IntegerType),
      f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(r, -999.99, 9999.99))), parts)
    save(spark, dir, "part", StructType(Seq(f("p_partkey", LongType),
      f("p_name", StringType), f("p_brand", StringType), f("p_type", StringType),
      f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(r, Adjectives)} ${pick(r, Nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes), 1 + r.nextInt(50),
        math.round((900.0 + (i % 1000) * 0.1) * 100.0) / 100.0)), parts)
    val orderDay0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orderDays = Array.fill(nOrders)(r.nextInt(2404))
    save(spark, dir, "orders", StructType(Seq(f("o_orderkey", LongType),
      f("o_custkey", LongType), f("o_orderstatus", StringType),
      f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
      f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        pick(r, Seq("F", "O", "P")), cents(r, 1000.0, 500000.0),
        orderDay0.plusDays(orderDays(i).toLong), pick(r, Priorities))), parts)
    save(spark, dir, "lineitem", StructType(Seq(f("l_orderkey", LongType),
      f("l_partkey", LongType), f("l_suppkey", LongType),
      f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
      f("l_tax", DoubleType), f("l_returnflag", StringType),
      f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      (0 until nLine).map { _ =>
        val o = r.nextInt(nOrders)
        val qty = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
          1 + r.nextInt(7), qty, cents(r, 900.0, 105000.0),
          math.round(r.nextDouble() * 10.0) / 100.0, math.round(r.nextDouble() * 8.0) / 100.0,
          pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")),
          // the ship date follows a random order's date, not this line's
          orderDay0.plusDays(orderDays(r.nextInt(nOrders)).toLong + 1 + r.nextInt(96)))
      }, parts)
    save(spark, dir, "events", EventsSchema, events(seed, nEvents, nUsers), parts)

    // documents: random word streams; one in twenty is a near copy of an
    // earlier document, its last word dropped or " dup" appended
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until nDocs).foreach { i =>
      texts += (if (i > 10 && r.nextDouble() < 0.05) {
          val ws = texts(r.nextInt(i)).split(" ")
          if (r.nextBoolean() && ws.length > 10) ws.init.mkString(" ") else ws.mkString(" ") + " dup"
        } else Seq.fill(10 + r.nextInt(90))(pick(r, Words)).mkString(" "))
    }
    save(spark, dir, "documents", StructType(Seq(f("doc_id", LongType),
      f("text", StringType), f("lang", StringType), f("source", StringType),
      f("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), pick(r, Langs), s"src${i % 20}",
        texts(i).length.toLong)).toSeq, parts)

    // embeddings: random 64-d unit vectors, each with one of ten labels
    save(spark, dir, "embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val v = Array.fill(64)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      }, parts)
    nLine.toLong
  }

  /** Epoch micros of an events `ts` value as [[events]] builds it. */
  def micros(ts: LocalDateTime): Long = {
    val i = ts.toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
}
