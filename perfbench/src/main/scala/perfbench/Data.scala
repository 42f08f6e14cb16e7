package perfbench

import java.io.File
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything the benchmark feeds the program
  * comes from here, so the same seed always yields the same bytes.
  *
  * The query tables follow the shapes the query surface reads (see
  * FIXTURES.md): a TPC-H-like star schema, an `events` stream table, a
  * `documents` corpus of lowercase word soup with ~5% near-duplicates
  * (a copy of another document plus the token "dup"), and 64-dim unit
  * embeddings in ten weak clusters. Timestamps are written as
  * TIMESTAMP_NTZ, the physical type the query loaders expect.
  */
object Data {

  final case class Doc(id: Long, text: String, lang: String, source: String)

  private val vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "en", "en", "zh", "es", "de", "fr")

  /** `n` documents with ids `0 until n`. */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      texts(i) =
        if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Iterator.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.length)))
          .mkString(" ")
    }
    texts.indices.map(i => Doc(i.toLong, texts(i),
      langs(r.nextInt(langs.length)), s"src${i % 20}"))
  }

  /** The query-suite tables at about 1/200 of TPC-H scale factor 1,
    * written as one parquet file per table under `dir`.
    */
  def writeQueryTables(spark: SparkSession, seed: Long, dir: String): Unit = {
    val r = new SplittableRandom(seed)
    def money(lo: Double, hi: Double): Double =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick(xs: Array[String]): String = xs(r.nextInt(xs.length))
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    def day(maxDays: Int): LocalDateTime = day0.plusDays(r.nextInt(maxDays).toLong)
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val colors = Array("red", "blue", "green", "black", "white", "small", "large", "shiny")
    val nouns = Array("bolt", "nut", "ring", "widget", "gear", "screw", "pipe", "valve")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val eventTypes = Array("click", "error", "purchase", "signup", "view")
    val (customers, suppliers, parts, orders, lineitems) = (750, 50, 1000, 7500, 30000)
    val (events, users, docs, vectors) = (5000, 75, 500, 500)
    // Rows are drawn in a fixed order, then the files are written
    // concurrently.
    val tables = scala.collection.mutable.ArrayBuffer.empty[(String, String, Seq[Row])]
    def write(spark: SparkSession, dir: String, name: String, ddl: String,
        rows: Seq[Row]): Unit = tables += ((name, ddl, rows))

    write(spark, dir, "region", "r_regionkey INT, r_name STRING",
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    write(spark, dir, "nation", "n_nationkey INT, n_name STRING, n_regionkey INT",
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write(spark, dir, "customer",
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99), pick(segments))))
    write(spark, dir, "supplier",
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99))))
    write(spark, dir, "part",
      "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE",
      (0 until parts).map(i => Row(i.toLong,
        pick(colors) + " " + pick(nouns),
        s"Brand#${1 + r.nextInt(25)}", pick(types),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    write(spark, dir, "orders",
      "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
      (0 until orders).map(i => Row(i.toLong, r.nextInt(customers).toLong,
        pick(Array("F", "O", "P")), money(1000, 500000), day(2404),
        pick(prios))))
    write(spark, dir, "lineitem",
      "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
      (0 until lineitems).map(_ => Row(r.nextInt(orders).toLong,
        r.nextInt(parts).toLong, r.nextInt(suppliers).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, money(900, 105000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, pick(Array("A", "N", "R")),
        pick(Array("F", "O")), day(2499))))

    var micros = 0L
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    write(spark, dir, "events",
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
      (0 until events).map { i =>
        micros += (-math.log(1.0 - r.nextDouble()) * 259e6).toLong
        Row(i.toLong, t0.plusNanos(micros * 1000), r.nextInt(users).toLong,
          pick(eventTypes),
          math.max(0.01, math.round(-math.log(1.0 - r.nextDouble()) * 5000) / 100.0),
          s"""{"k": ${r.nextInt(100)}}""")
      })

    write(spark, dir, "documents",
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
      documents(r.nextLong(), docs).map(d =>
        Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)))

    val dim = 64
    val centroids = Array.fill(10)(unit(Array.fill(dim)(gaussian(r))))
    write(spark, dir, "embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
      (0 until vectors).map { i =>
        val label = r.nextInt(10)
        val v = unit(Array.tabulate(dim)(j =>
          centroids(label)(j) * 0.15 + gaussian(r) / math.sqrt(dim.toDouble)))
        Row(i.toLong, v.map(_.toFloat).toSeq, label)
      })

    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(tables.toSeq) { case (n, ddl, rows) =>
        Future(Data.write(spark, dir, n, ddl, rows))
      }, Duration.Inf)
    } finally pool.shutdown()
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian on JDK 17.
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Write `rows` as the single parquet file `dir/name.parquet`, the
    * layout `graft.Tables.load` and the DuckDB oracle both read.
    */
  def write(spark: SparkSession, dir: String, name: String, ddl: String,
      rows: Seq[Row]): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType.fromDDL(ddl))
      .write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}
