package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the pipeline inputs: the star schema plus the events, documents
  * and embeddings tables the registry queries read, one parquet file per
  * table (`<dir>/<table>.parquet`), with the schemas and value distributions
  * of graft's fixture tables. Row counts scale with `sf` as those tables do
  * (lineitem = 6M × sf). The same `seed` always gives the same files. */
object DataGen {

  private def d(v: Double): Double = math.round(v * 100) / 100.0

  private val day = 86400000L
  private def ts(base: String, offsetMs: Long) =
    new Timestamp(Timestamp.valueOf(base).getTime + offsetMs)

  private val words = Seq("the", "a", "data", "spark", "table", "query", "row", "column",
    "join", "filter", "group", "agg", "sort", "merge", "scan", "hash", "key", "value",
    "order", "line", "part", "customer", "window", "stream", "batch", "vector", "fast",
    "slow", "big", "small")

  def write(spark: SparkSession, dir: Path, sf: Double, seed: Long): Unit = {
    Files.createDirectories(dir)
    def n(base: Double) = math.max(1, math.round(base * sf)).toInt
    def rnd(table: String) = new scala.util.Random(seed * 1000003L + table.hashCode)
    // tables are generated one after another and written concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val writes = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    def table(name: String, schema: StructType, rows: Iterator[Row]): Unit = {
      val df = spark.createDataFrame(rows.toSeq.asJava, schema)
      writes += pool.submit(new Runnable { def run(): Unit = save(name, df) })
    }
    def save(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
    def pick[T](r: scala.util.Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (f, t) => StructField(f, t) })

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    table("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      regions.indices.iterator.map(i => Row(i, regions(i))))
    table("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).iterator.map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000); val nOrd = n(1500000)
    locally {
      val r = rnd("customer")
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      table("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        (0 until nCust).iterator.map(k => Row(k.toLong, f"Customer#$k%09d", r.nextInt(25),
          d(-999.99 + r.nextDouble() * 10999.98), pick(r, segs))))
    }
    locally {
      val r = rnd("supplier")
      table("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType),
        (0 until nSupp).iterator.map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25),
          d(-999.99 + r.nextDouble() * 10999.98))))
    }
    locally {
      val r = rnd("part")
      val adj = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
      val noun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
      val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
      table("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
        (0 until nPart).iterator.map(k => Row(k.toLong, s"${pick(r, adj)} ${pick(r, noun)}",
          s"Brand#${1 + r.nextInt(25)}", pick(r, types), 1 + r.nextInt(50), d(900 + (k % 1000) / 10.0))))
    }
    locally {
      val r = rnd("orders")
      val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      table("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
        (0 until nOrd).iterator.map(k => Row(k.toLong, r.nextInt(nCust).toLong, pick(r, Seq("F", "O", "P")),
          d(1000 + r.nextDouble() * 499000), ts("1995-01-01 00:00:00", r.nextInt(2404) * day),
          pick(r, prio))))
    }
    locally {
      val r = rnd("lineitem")
      table("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
        (0 until n(6000000)).iterator.map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          d(900 + r.nextDouble() * 104100), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")),
          ts("1995-01-02 00:00:00", r.nextInt(2499) * day))))
    }
    locally {
      val r = rnd("events")
      val nEv = n(1000000)
      val types = Seq("click", "error", "purchase", "signup", "view")
      val offsets = Array.fill(nEv)((r.nextDouble() * 30 * day * 1000).toLong).sorted
      table("events", st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
        (0 until nEv).iterator.map { k =>
          val t = ts("2024-01-01 00:00:00", offsets(k) / 1000)
          t.setNanos(t.getNanos + (offsets(k) % 1000).toInt * 1000)
          Row(k.toLong, t, r.nextInt(math.max(15, nEv * 15 / 1000)).toLong, pick(r, types),
            d(0.01 + r.nextDouble() * 490), s"""{"k": ${r.nextInt(100)}}""")
        })
    }
    locally {
      val r = rnd("documents")
      val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
      table("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType),
        (0 until math.max(500, n(50000))).iterator.map { k =>
          val text = Seq.fill(10 + r.nextInt(90))(if (r.nextInt(2000) == 0) "dup" else pick(r, words))
            .mkString(" ")
          Row(k.toLong, text, pick(r, langs), s"src${k % 20}", text.length.toLong)
        })
    }
    locally {
      val r = rnd("embeddings")
      table("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
        (0 until math.max(500, n(20000))).iterator.map { k =>
          val v = Array.fill(64)(r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(k.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        })
    }
    try writes.foreach(_.get()) finally pool.shutdown()
  }
}
