package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generates the ten registry tables (TPC-H-like star schema plus the
  * `events`, `documents` and `embeddings` tables) with the schemas and value
  * domains the registry queries read. Row counts scale with `sf` the way
  * the reference test tables do (lineitem = 6 M x sf; at least 500
  * documents and embeddings).
  *
  * The content is a pure function of (`sf`, `seed`): one SplittableRandom
  * per table, written as a single parquet file per table, so the recorded
  * row counts and hashes of the registry slice stay valid across runs.
  */
object RegistryTables {

  private val Vocab = Array("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg",
    "value", "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the")

  private def round2(x: Double): Double = math.rint(x * 100.0) / 100.0

  private def ntz(epochSecond: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(epochSecond, 0, ZoneOffset.UTC)

  private def day(y: Int, m: Int, d: Int): Long =
    LocalDateTime.of(y, m, d, 0, 0).toEpochSecond(ZoneOffset.UTC)

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long = 42L): Unit = {
    def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLine = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000)
    val nDocs = math.max(500, n(50000)); val nEmb = math.max(500, n(20000))

    // one plain parquet FILE per table, like the reference tables: streaming
    // queries copy `<name>.parquet` as a file into their stage directory
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = Paths.get(dir, s"_$name")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no parquet part written for $name"))
      Files.move(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }

    def rng(table: Int) = new SplittableRandom(seed * 1000003L + table)
    def pick[T](r: SplittableRandom, xs: Array[T]): T = xs(r.nextInt(xs.length))

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (name, i) => Row(i, name) })

    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val rc = rng(2)
    save("customer", StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        round2(rc.nextDouble(-999.99, 9999.99)), pick(rc, segments))))

    val rs = rng(3)
    save("supplier", StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        round2(rs.nextDouble(-999.99, 9999.99)))))

    val colors = Array("red", "blue", "green", "small", "large", "black", "white")
    val nouns = Array("widget", "bolt", "ring", "gear", "valve", "panel")
    val types = Array("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")
    val rp = rng(4)
    save("part", StructType(Seq(StructField("p_partkey", LongType),
        StructField("p_name", StringType), StructField("p_brand", StringType),
        StructField("p_type", StringType), StructField("p_size", IntegerType),
        StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(rp, colors)} ${pick(rp, nouns)}",
        s"Brand#${1 + rp.nextInt(25)}", pick(rp, types), 1 + rp.nextInt(50),
        round2(900.0 + (i % 1000) / 10.0))))

    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng(5)
    val oFrom = day(1995, 1, 1)
    val oDays = ((day(2001, 8, 1) - oFrom) / 86400).toInt
    save("orders", StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampNTZType),
        StructField("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        pick(ro, Array("F", "O", "P")), round2(ro.nextDouble(1000.0, 500000.0)),
        ntz(oFrom + 86400L * ro.nextInt(oDays + 1)), pick(ro, priorities))))

    val rl = rng(6)
    val lFrom = day(1995, 1, 2)
    val lDays = ((day(2001, 11, 4) - lFrom) / 86400).toInt
    save("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampNTZType))),
      (0 until nLine).map { _ =>
        val qty = (1 + rl.nextInt(50)).toDouble
        Row(rl.nextInt(nOrders).toLong, rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong,
          1 + rl.nextInt(7), qty, round2(qty * rl.nextDouble(900.0, 1000.0)),
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, pick(rl, Array("A", "N", "R")),
          pick(rl, Array("F", "O")), ntz(lFrom + 86400L * rl.nextInt(lDays + 1)))
      })

    // events: time-ordered by event_id across 30 days, exponential values
    val re = rng(7)
    val eFrom = day(2024, 1, 1) * 1000000L
    val meanGapUs = 30L * 86400L * 1000000L / nEvents
    var tUs = eFrom
    val eventTypes = Array("click", "signup", "error", "view", "purchase")
    save("events", StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampNTZType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType))),
      (0 until nEvents).map { i =>
        tUs += (-math.log(1.0 - re.nextDouble()) * meanGapUs).toLong
        val ts = LocalDateTime.ofEpochSecond(tUs / 1000000L, ((tUs % 1000000L) * 1000L).toInt,
          ZoneOffset.UTC)
        Row(i.toLong, ts, re.nextInt(nUsers).toLong, pick(re, eventTypes),
          math.max(0.01, round2(-math.log(1.0 - re.nextDouble()) * 50.0)),
          s"""{"k": ${re.nextInt(100)}}""")
      })

    // documents: vocabulary text, ~5% near-duplicates (an earlier text + " dup")
    val rd = rng(8)
    val langs = Array("en", "en", "en", "fr", "es", "zh", "de")
    val texts = new Array[String](nDocs)
    save("documents", StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType))),
      (0 until nDocs).map { i =>
        texts(i) =
          if (i > 0 && rd.nextInt(20) == 0) texts(rd.nextInt(i)) + " dup"
          else Array.fill(10 + rd.nextInt(90))(pick(rd, Vocab)).mkString(" ")
        Row(i.toLong, texts(i), pick(rd, langs), s"src${i % 20}", texts(i).length.toLong)
      })

    // embeddings: unit vectors scattered around ten label centroids
    val rv = rng(9)
    val dim = 64
    val centroids = Array.fill(10, dim)(rv.nextDouble(-1.0, 1.0))
    save("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))),
      (0 until nEmb).map { i =>
        val label = rv.nextInt(10)
        val v = Array.tabulate(dim)(d => centroids(label)(d) + rv.nextDouble(-1.0, 1.0))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
