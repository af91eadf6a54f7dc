package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.EclLayout

/** Seeded input generators. The same seed always yields the same rows,
  * independent of partitioning: each row draws from its own generator
  * keyed by (seed, table, row index). */
object Gen {

  def rng(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt << 40) ^ i)

  // ---- pipe: one relation over every ECL type family ------------------

  val pipeLayout: EclLayout = EclLayout.parse(
    "id:integer8,i1:integer1,i2:integer2,i4:integer4,i8:integer8," +
      "u1:unsigned1,u2:unsigned2,u4:unsigned4,u8:unsigned8,r4:real4,r8:real8," +
      "s1:string1,s2:string2,s3:string3,s5:string5,s8:string8,s10:string10," +
      "s16:string16,s20:string20,s32:string32,s40:string40")

  private val Alnum = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')
  /** Characters that need quoting in CSV (quote ', separator ,), the
    * first byte of the two-byte terminator |\n (a partial match the reader
    * must look past), or escaping in XML. The whole terminator never
    * occurs: the CSV writer rejects rows that contain it. */
  private val Special = Seq("'", ",", "|", "<", ">", "&", "\"", " ")

  /** A string of exactly `n` ASCII bytes. Alphanumeric at both ends (XML
    * trims surrounding whitespace); with `special`, CSV/XML metacharacters
    * inside. */
  def text(r: SplittableRandom, n: Int, special: Boolean): String = {
    val b = new StringBuilder
    while (b.length < n) {
      if (special && b.nonEmpty && b.length < n - 2 && r.nextInt(4) == 0) {
        val s = Special(r.nextInt(Special.size))
        if (b.length + s.length < n) b ++= s
      } else b += Alnum(r.nextInt(Alnum.size))
    }
    b.toString
  }

  /** Row `i` of the pipe relation, in the Spark types of [[pipeLayout]]. */
  def pipeRow(seed: Long, i: Long): Row = {
    val r = rng(seed, 1, i)
    val special = r.nextInt(5) == 0
    def pick[A](edge: Seq[A], draw: => A): A =
      if (r.nextInt(50) == 0) edge(r.nextInt(edge.size)) else draw
    val u8 = new java.math.BigDecimal(new java.math.BigInteger(64, new java.util.Random(r.nextLong())))
    Row(i,
      pick(Seq(Byte.MinValue, Byte.MaxValue), (r.nextInt(256) - 128).toByte),
      pick(Seq(Short.MinValue, Short.MaxValue), (r.nextInt(65536) - 32768).toShort),
      pick(Seq(Int.MinValue, Int.MaxValue), r.nextInt()),
      pick(Seq(Long.MinValue, Long.MaxValue), r.nextLong()),
      pick(Seq(0.toShort, 255.toShort), r.nextInt(256).toShort),
      pick(Seq(0, 65535), r.nextInt(65536)),
      pick(Seq(0L, 4294967295L), r.nextLong(4294967296L)),
      pick(Seq(java.math.BigDecimal.ZERO, new java.math.BigDecimal("18446744073709551615")), u8),
      ((r.nextDouble() - 0.5) * 2e6).toFloat,
      (r.nextDouble() - 0.5) * 2e12,
      text(r, 1, false), text(r, 2, false), text(r, 3, false),
      text(r, 5, special), text(r, 8, special), text(r, 10, special),
      text(r, 16, special), text(r, 20, special), text(r, 32, special),
      text(r, 40, special))
  }

  def pipeRelation(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame = {
    val schema = pipeLayout.schema
    val rdd = spark.sparkContext.range(0L, rows, 1, parts)
      .map(i => pipeRow(seed, i))
    spark.createDataFrame(rdd, schema)
  }

  // ---- board: the star schema and side tables the operator packs read --

  private val Words = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "a", "merge", "batch", "spark", "the", "line",
    "sort", "window", "order", "data", "column", "join", "small", "big",
    "customer", "query", "filter", "group", "stream", "vector")
  private val Colors = Seq("red", "blue", "hot", "old", "large", "small", "green", "dark")
  private val Nouns = Seq("plate", "widget", "ring", "rod", "bolt", "gizmo", "nut", "gear")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: String, days: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDate.parse(from)
      .plusDays(r.nextInt(days).toLong).atStartOfDay())

  /** Rows of each board table at one-hundredth of TPC-H scale (60k
    * lineitems), with the column names, types and value domains the
    * operator packs expect. */
  def boardTables(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    val nCust = 1500; val nPart = 2000; val nSupp = 100; val nOrd = 15000
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val segments = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val customer = (0 until nCust).map { i =>
      val r = rng(seed, 2, i)
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        segments(r.nextInt(5)))
    }
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val part = (0 until nPart).map { i =>
      val r = rng(seed, 3, i)
      Row(i.toLong, s"${Colors(r.nextInt(8))} ${Nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)
    }
    val supplier = (0 until nSupp).map { i =>
      val r = rng(seed, 4, i)
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDays = 2404 // 1995-01-01 .. 2001-08-01
    val orders = (0 until nOrd).map { i =>
      val r = rng(seed, 5, i)
      Row(i.toLong, r.nextInt(nCust).toLong, Seq("P", "O", "F")(r.nextInt(3)),
        money(r, 1000, 500000), day(r, "1995-01-01", orderDays), prios(r.nextInt(5)))
    }
    val lineitem = orders.flatMap { o =>
      val ok = o.getLong(0)
      val r = rng(seed, 6, ok)
      val od = o.getAs[Timestamp](4).toLocalDateTime
      (1 to 1 + r.nextInt(7)).map { ln =>
        Row(ok, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln,
          (1 + r.nextInt(50)).toDouble, money(r, 900, 105000),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
          Timestamp.valueOf(od.plusDays(1L + r.nextInt(121))))
      }
    }
    val kinds = Seq("click", "signup", "error", "view", "purchase")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until 10000).map { i =>
      val r = rng(seed, 7, i)
      Row(i.toLong, new Timestamp(t0 + r.nextLong(30L * 86400000L)),
        r.nextInt(150).toLong, kinds(r.nextInt(5)),
        math.min(490.0, math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0 + 0.01),
        s"""{"k": ${r.nextInt(100)}}""")
    }
    val langs = Seq("en", "en", "zh", "de", "fr", "es")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val documents = (0 until 500).map { i =>
      val r = rng(seed, 8, i)
      // one document in six is a near-duplicate of an earlier one, so the
      // dedup and similarity packs find real clusters
      val t = if (i > 10 && r.nextInt(6) == 0) {
        val ws = texts(r.nextInt(texts.size)).split(' ')
        (0 until 1 + r.nextInt(3)).foreach(_ => ws(r.nextInt(ws.length)) = Words(r.nextInt(Words.size)))
        ws.mkString(" ")
      } else Seq.fill(8 + r.nextInt(90))(Words(r.nextInt(Words.size))).mkString(" ")
      texts += t
      Row(i.toLong, t, langs(r.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
    }
    val centroids = (0 until 10).map { c =>
      val r = rng(seed, 9, c); Array.fill(64)(r.nextGaussian())
    }
    val embeddings = (0 until 500).map { i =>
      val r = rng(seed, 10, i)
      val label = r.nextInt(10)
      val v = centroids(label).map(_ + 0.6 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    Seq(
      ("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("part", st("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType), part),
      ("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      ("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType), orders),
      ("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType), lineitem),
      ("events", st("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType), events),
      ("documents", st("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
        documents),
      ("embeddings", st("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType), embeddings))
  }

  /** Writes each board table as `<dir>/<name>.parquet`, one file each (the
    * fixtures' shape). The ten small writes run concurrently. */
  def writeBoard(spark: SparkSession, seed: Long, dir: String): Long = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val writes = boardTables(seed).map { case (name, schema, rows) =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
            rows.size.toLong
          }
        })
      }
      writes.map(_.get).sum
    } finally pool.shutdown()
  }
}
