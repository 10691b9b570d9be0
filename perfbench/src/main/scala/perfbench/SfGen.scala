package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator for the TPC-H-ish tables the query registry reads
  * (`graft.Tables.names`), with the schemas, value ranges and row counts of
  * the repository's sf0.1 test data (TESTDATA.md, FIXTURES.md §2): 600k lineitems, 150k
  * orders, 100k events, 5,000 documents (5% planted near duplicates) and
  * 2,000 64-dim unit embeddings. Everything fits in memory; data larger
  * than memory is ScaleBench's job.
  *
  * Values are pure functions of (seed, row id), so the same seed writes the
  * same tables. */
object SfGen {

  /** Rows per table at scale factor `sf` (sf0.1 = the sizes above). */
  def rows(sf: Double): Map[String, Long] = Map(
    "customer" -> (150000 * sf).toLong, "supplier" -> (10000 * sf).toLong,
    "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
    "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong,
    "documents" -> (50000 * sf).toLong, "embeddings" -> (20000 * sf).toLong)

  private val vocab = IndexedSeq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  def generate(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    val n = rows(sf)
    def h(salt: Int): Column = xxhash64(lit(seed), col("id"), lit(salt))
    def ri(salt: Int, m: Long): Column = pmod(h(salt), lit(m))
    def u(salt: Int): Column = (h(salt).bitwiseAND(lit((1L << 52) - 1))).cast("double") / (1L << 52).toDouble
    def money(salt: Int, lo: Double, hi: Double): Column = round(lit(lo) + u(salt) * (hi - lo), 2)
    def choose(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (ri(salt, xs.size) + 1).cast("int"))
    def days(salt: Int, from: String, span: Int): Column =
      to_timestamp(date_add(lit(from).cast("date"), ri(salt, span).cast("int")))
    def range(t: String): DataFrame = spark.range(n(t)).toDF()
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", spark.createDataFrame(
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (r, i) => Row(i, r) }.asJava,
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    write("nation", spark.range(25).toDF().select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", range("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ri(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
      choose(3, Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")).as("c_mktsegment")))
    write("supplier", range("supplier").select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ri(1, 25).cast("int").as("s_nationkey"), money(2, -999.99, 9999.99).as("s_acctbal")))
    write("part", range("part").select(col("id").as("p_partkey"),
      concat_ws(" ", choose(1, Seq("large", "hot", "blue", "old", "cold", "small", "red", "shiny")),
        choose(2, Seq("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"))).as("p_name"),
      concat(lit("Brand#"), ri(3, 25) + 1).as("p_brand"),
      choose(4, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (ri(5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice")))
    write("orders", range("orders").select(col("id").as("o_orderkey"),
      ri(1, n("customer")).as("o_custkey"), choose(2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(3, 1000.0, 500000.0).as("o_totalprice"), days(4, "1995-01-01", 2404).as("o_orderdate"),
      choose(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    write("lineitem", range("lineitem").select(ri(1, n("orders")).as("l_orderkey"),
      ri(2, n("part")).as("l_partkey"), ri(3, n("supplier")).as("l_suppkey"),
      (ri(4, 7) + 1).cast("int").as("l_linenumber"), (ri(5, 50) + 1).cast("double").as("l_quantity"),
      money(6, 900.0, 105000.0).as("l_extendedprice"), (ri(7, 11) / 100.0).as("l_discount"),
      (ri(8, 9) / 100.0).as("l_tax"), choose(9, Seq("A", "N", "R")).as("l_returnflag"),
      choose(10, Seq("O", "F")).as("l_linestatus"), days(11, "1995-01-02", 2498).as("l_shipdate")))
    val evStep = 30L * 86400L * 1000000L / math.max(1L, n("events"))
    write("events", range("events").select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * evStep + ri(1, evStep)).as("ts"),
      ri(2, 1500).as("user_id"),
      choose(3, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      money(4, 0.0, 560.0).as("value"), format_string("{\"k\": %d}", ri(5, 100)).as("props")))
    write("documents", documents(spark, seed, n("documents").toInt))
    write("embeddings", embeddings(spark, seed, n("embeddings").toInt))
  }

  /** Documents over a 30-word vocabulary, 10-100 words each; 5% are near
    * duplicates (another document plus " dup") and a few are exact copies. */
  def documentTexts(seed: Long, n: Int): IndexedSeq[String] = {
    val r = Gen.rng(seed, 31)
    val base = (0 until n).map(_ =>
      (0 until 10 + r.nextInt(91)).map(_ => vocab(r.nextInt(vocab.size))).mkString(" "))
    base.indices.map { i =>
      r.nextInt(1000) match {
        case x if x < 50 => base(r.nextInt(n)) + " dup"
        case x if x < 52 => base(r.nextInt(n))
        case _ => base(i)
      }
    }
  }

  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = Gen.rng(seed, 32)
    val langs = IndexedSeq("en", "en", "en", "zh", "de", "fr", "es")
    val rows = documentTexts(seed, n).zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(r.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = Gen.rng(seed, 33)
    val rows = (0 until n).map { i =>
      val v = Array.fill(64)(gauss(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  def gauss(r: java.util.SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
}
