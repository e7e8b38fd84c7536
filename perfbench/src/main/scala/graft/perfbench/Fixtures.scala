package graft.perfbench

import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the ten fixture tables the program reads
  * (`graft.io.Sources.tableNames`), with the schemas and value domains of
  * the TPC-H-ish fixtures the program was written against (FIXTURES.md).
  *
  * Rows are drawn in the JVM from one `java.util.SplittableRandom`, so
  * the same seed and shape always give the same rows, and each table is
  * written as a single Parquet file. Timestamps are written time-zone
  * naive, as in the fixtures, so `graft.io.Sources` reads them the same
  * way. The shape sets row counts and the date spans; the date spans set
  * how many partitions the ETL writes.
  */
object Fixtures {

  /** Sizes of one generated fixture set. `factStart`/`factDays` bound
    * `o_orderdate` and `l_shipdate`; events cover `eventDays` days from
    * 2024-01-01.
    */
  final case class Shape(
      lineitem: Int, orders: Int, customer: Int, part: Int, supplier: Int,
      events: Int, documents: Int, embeddings: Int,
      factStart: LocalDate, factDays: Int, eventDays: Int) {
    def factEnd: LocalDate = factStart.plusDays(factDays - 1L)
    val eventStart: LocalDate = LocalDate.of(2024, 1, 1)
    def eventEnd: LocalDate = eventStart.plusDays(eventDays - 1L)
  }

  /** The incremental tables and the date span each covers. */
  def spans(shape: Shape): Seq[(String, LocalDate, LocalDate)] = Seq(
    ("orders", shape.factStart, shape.factEnd),
    ("lineitem", shape.factStart, shape.factEnd),
    ("events", shape.eventStart, shape.eventEnd))

  /** The ETL shape: the fact span starts on a seeded day in 1995-2001,
    * like the fixtures' dates, but covers `factDays` days instead of
    * ~2,500, and events 10 days instead of 30, so one backfill fits in a
    * run. Line items and orders keep sf0.1's density per day (about 300
    * and 75 rows).
    */
  def etlShape(seed: Long, factDays: Int): Shape = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val first = LocalDate.of(1995, 1, 1)
    val last = LocalDate.of(2001, 11, 4).minusDays(factDays.toLong)
    val start = first.plusDays(rnd.nextLong(last.toEpochDay - first.toEpochDay + 1))
    Shape(lineitem = 300 * factDays, orders = 75 * factDays, customer = 250, part = 350,
      supplier = 20,
      events = 2000, documents = 100, embeddings = 100,
      factStart = start, factDays = factDays, eventDays = 10)
  }

  /** The operator-mix shape: the fixtures' own spans at roughly sf0.01
    * row counts.
    */
  val opsShape: Shape = Shape(lineitem = 60000, orders = 15000, customer = 1500, part = 2000,
    supplier = 100, events = 10000, documents = 500, embeddings = 500,
    factStart = LocalDate.of(1995, 1, 1), factDays = 2499, eventDays = 30)

  private val words = Array("row", "the", "query", "stream", "value", "hash", "batch", "sort",
    "data", "big", "filter", "dup", "fast", "spark", "line", "small", "customer", "group",
    "key", "agg", "scan", "slow", "table", "part", "a", "merge", "window", "order", "column",
    "join", "vector")
  private val adjectives = Array("red", "old", "cold", "hot", "new", "large", "small", "blue")
  private val nouns = Array("bolt", "widget", "gear", "ring", "plate", "anvil", "rod", "gizmo")
  private val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val partTypes = Array("SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD", "LARGE")
  private val eventTypes = Array("click", "signup", "error", "view", "purchase")
  private val langs = Array("en", "en", "en", "fr", "zh", "de", "es")

  private def cents(x: Double): Double = math.round(x * 100) / 100.0
  private def midnight(d: LocalDate): LocalDateTime = d.atStartOfDay()

  /** Write every table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, shape: Shape): Generated = {
    val rnd = new java.util.SplittableRandom(seed)
    def uniform(lo: Double, hi: Double): Double = lo + rnd.nextDouble() * (hi - lo)
    def pick[T](xs: Array[T]): T = xs(rnd.nextInt(xs.length))
    def day(start: LocalDate, days: Int): LocalDate = start.plusDays(rnd.nextInt(days).toLong)

    val tables = ArrayBuffer.empty[(String, StructType, Seq[Row])]
    def table(name: String, fields: (String, DataType)*)(rows: Seq[Row]): Unit =
      tables += ((name, StructType(fields.map { case (n, t) => StructField(n, t) }), rows))

    table("region", "r_regionkey" -> IntegerType, "r_name" -> StringType)(
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    table("nation", "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType)((0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    table("supplier", "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)(
      (0 until shape.supplier).map(i =>
        Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), cents(uniform(-999.99, 9999.99)))))
    table("customer", "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)(
      (0 until shape.customer).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        cents(uniform(-999.99, 9999.99)), pick(segments))))
    table("part", "p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType)(
      (0 until shape.part).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(partTypes), 1 + rnd.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    table("orders", "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType)(
      (0 until shape.orders).map(i => Row(i.toLong, rnd.nextInt(shape.customer).toLong,
        pick(Array("F", "O", "P")), cents(uniform(1000, 500000)),
        midnight(day(shape.factStart, shape.factDays)), pick(priorities))))
    table("lineitem", "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType)(
      (0 until shape.lineitem).map { _ =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(rnd.nextInt(shape.orders).toLong, rnd.nextInt(shape.part).toLong,
          rnd.nextInt(shape.supplier).toLong, 1 + rnd.nextInt(7), qty,
          cents(qty * uniform(900, 3000)), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          pick(Array("A", "N", "R")), pick(Array("O", "F")),
          midnight(day(shape.factStart, shape.factDays)))
      })
    // ascending ids at ascending instants, as in the fixtures
    val eventSpanMs = shape.eventDays * 86400000L
    val eventTimes = Array.fill(shape.events)(rnd.nextLong(eventSpanMs)).sorted
    val users = math.max(10, shape.customer / 10)
    table("events", "event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)(
      eventTimes.toSeq.zipWithIndex.map { case (ms, i) =>
        Row(i.toLong, shape.eventStart.atStartOfDay().plusNanos(ms * 1000000L),
          rnd.nextInt(users).toLong, pick(eventTypes), cents(uniform(0.01, 490)),
          s"""{"k": ${rnd.nextInt(100)}}""")
      })
    table("documents", "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType)(
      (0 until shape.documents).map { i =>
        val text = Seq.fill(8 + rnd.nextInt(90))(pick(words)).mkString(" ")
        Row(i.toLong, text, pick(langs), s"src${rnd.nextInt(20)}", text.length.toLong)
      })
    val centroids = Array.fill(10, 64)(rnd.nextDouble() * 2 - 1)
    table("embeddings", "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType)(
      (0 until shape.embeddings).map { i =>
        val label = rnd.nextInt(10)
        val v = centroids(label).map(_ + (rnd.nextDouble() * 2 - 1) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })

    // one small write job per table; several at once keep the cores busy
    Parallel.map(tables.toSeq, 4) { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    val dateIndex = Map("orders" -> 4, "lineitem" -> 10, "events" -> 1)
    Generated(
      tables.map { case (name, _, rows) => name -> rows.size.toLong }.toMap,
      tables.collect { case (name, _, rows) if dateIndex.contains(name) =>
        name -> rows.groupBy(r => r.getAs[LocalDateTime](dateIndex(name)).toLocalDate)
          .map { case (d, rs) => d -> rs.size.toLong }
      }.toMap)
  }

  /** What a fixture set holds: rows per table, and rows per day of
    * each incremental table (the ETL checks compare the warehouse
    * against these).
    */
  final case class Generated(rows: Map[String, Long], days: Map[String, Map[LocalDate, Long]])
}
