package bench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.time.LocalDateTime

/** The `query_mix` input: the TPC-H-ish star schema plus the `events`,
  * `documents` and `embeddings` tables the `SparkEntry` queries read, in
  * the column layout of the repository's test data, at about scale 0.01.
  * Every value is a pure function of (seed, table, row), and each table is
  * one parquet file, like the test data the queries were written against.
  */
object Tables {
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Colors = Array("red", "blue", "green", "small", "large", "shiny", "matte", "old")
  private val Nouns = Array("widget", "bolt", "ring", "gear", "valve", "panel", "spring")
  private val Types = Array("ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO")
  private val EventTypes = Array("click", "view", "purchase", "error", "signup")
  private val Words = ("the a key agg row scan slow fast table value part hash merge batch " +
    "spark line sort window join data column order group filter query stream customer " +
    "small big vector index shuffle plan cache commit snapshot schema version delta").split(" ")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "de", "fr", "es")

  private def r2(x: Double) = math.round(x * 100) / 100.0
  private def day(base: LocalDateTime, x: Long, days: Long) = base.plusDays(Mix.below(x, days))

  private val Orders = 15000
  private val Customers = 1500
  private val Parts = 2000
  private val Suppliers = 100

  private def schema(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** (schema, row count, row generator) per table. */
  private def spec(seed: Long, name: String): (StructType, Int, Int => Seq[Row]) = {
    def h(i: Long, k: Int) = Mix.h(seed, name.hashCode.toLong, i, k)
    def u(i: Long, k: Int) = Mix.unit(h(i, k))
    def pick[T](a: Array[T], i: Long, k: Int) = a(Mix.below(h(i, k), a.length.toLong).toInt)
    name match {
      case "region" => (schema("r_regionkey" -> IntegerType, "r_name" -> StringType), 5,
        i => Seq(Row(i, Regions(i))))
      case "nation" => (schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), 25, i => Seq(Row(i, s"NATION_$i", i % 5)))
      case "customer" => (schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        Customers, i => Seq(Row(i.toLong, f"Customer#$i%09d", Mix.below(h(i, 1), 25L).toInt,
          r2(u(i, 2) * 10999 - 999), pick(Segments, i, 3))))
      case "supplier" => (schema("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), Suppliers,
        i => Seq(Row(i.toLong, f"Supplier#$i%09d", Mix.below(h(i, 1), 25L).toInt,
          r2(u(i, 2) * 10999 - 999))))
      case "part" => (schema("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType), Parts,
        i => Seq(Row(i.toLong, s"${pick(Colors, i, 1)} ${pick(Nouns, i, 2)}",
          s"Brand#${Mix.below(h(i, 3), 25L)}", pick(Types, i, 4),
          1 + Mix.below(h(i, 5), 50L).toInt, 900.0 + (i % 1000) / 10.0)))
      case "orders" => (schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), Orders,
        i => Seq(Row(i.toLong, Mix.below(h(i, 1), Customers.toLong), pick(Array("F", "O", "P"), i, 2),
          r2(1000 + u(i, 3) * 499000), day(LocalDateTime.of(1992, 1, 1, 0, 0), h(i, 4), 2500),
          pick(Priorities, i, 5))))
      case "lineitem" =>
        // 1–7 lines per order (about 60k rows); keys (order, line) are unique
        val ordersSpec = Orders
        (schema("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
          "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
          "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
          "l_returnflag" -> StringType, "l_linestatus" -> StringType,
          "l_shipdate" -> TimestampNTZType), ordersSpec,
          o => (1 to 1 + Mix.below(h(o, 9), 7L).toInt).map { ln =>
            val i = o.toLong * 8 + ln
            val qty = (1 + Mix.below(h(i, 1), 50L)).toDouble
            Row(o.toLong, Mix.below(h(i, 2), Parts.toLong), Mix.below(h(i, 3), Suppliers.toLong),
              ln, qty, r2(qty * (900 + u(i, 4) * 2100)), Mix.below(h(i, 5), 11L) / 100.0,
              Mix.below(h(i, 6), 9L) / 100.0, pick(Array("A", "N", "R"), i, 7),
              pick(Array("F", "O"), i, 8), day(LocalDateTime.of(1992, 1, 2, 0, 0), h(i, 10), 2600))
          })
      case "events" => (schema("event_id" -> LongType, "ts" -> TimestampNTZType,
        "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType), 10000,
        i => Seq(Row(i.toLong,
          LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(i * 190L + Mix.below(h(i, 1), 180L))
            .plusNanos(Mix.below(h(i, 2), 1000000L) * 1000L),
          Mix.below(h(i, 3), 100L), pick(EventTypes, i, 4), r2(u(i, 5) * 20),
          s"""{"k": ${Mix.below(h(i, 6), 100L)}}""")))
      case "documents" => (schema("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType), 500,
        i => {
          // every 10th document repeats an earlier one, every 15th extends one
          def body(d: Long): String = (0 until 20 + Mix.below(Mix.h(seed, 77L, d, 1), 60L).toInt)
            .map(k => Words(Mix.below(Mix.h(seed, 77L, d, 100 + k), Words.length.toLong).toInt))
            .mkString(" ")
          val text =
            if (i % 10 == 9) body(i - 7)
            else if (i % 15 == 14) body(i - 3) + " " + body(i + 1000).split(" ").take(4).mkString(" ")
            else body(i)
          Seq(Row(i.toLong, text, pick(Langs, i, 2), s"src${i % 5}", text.length.toLong))
        })
      case "embeddings" => (schema("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = false), "label" -> IntegerType), 500,
        i => {
          val label = Mix.below(h(i, 1), 8L).toInt
          val v = (0 until 64).map { d =>
            val center = Mix.unit(Mix.h(seed, 88L, label, d)) - 0.5
            center + (Mix.unit(h(i, 100 + d)) - 0.5) * 0.6
          }
          val norm = math.sqrt(v.map(x => x * x).sum)
          Seq(Row(i.toLong, v.map(x => (x / norm).toFloat), label))
        })
    }
  }

  /** Write every table under `dir` as `<name>.parquet`. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit =
    Names.foreach { name =>
      val (sch, n, gen) = spec(seed, name)
      spark.createDataFrame(spark.sparkContext.parallelize(0 until n, 1).flatMap(gen), sch)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  /** Row count and content hash of one table (generator self-test). */
  def signature(seed: Long, name: String): (Int, Long) = {
    val (_, n, gen) = spec(seed, name)
    val rows = (0 until n).flatMap(gen)
    (rows.size, rows.map(_.toString.hashCode.toLong).sum)
  }
}
