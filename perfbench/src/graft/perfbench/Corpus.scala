package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Fixed synthetic tables for the query workloads, in the layout the query
  * builders read: one parquet file per table, `<dir>/<table>.parquet`.
  *
  * Shapes and distributions follow the repo's test tables (TPC-H-like star
  * schema, an event stream, a small-vocabulary text corpus with ~5% repeated
  * documents, unit-norm 64-d embeddings). Row counts scale with `sf` like
  * theirs. The generator seed is fixed, so the recorded result digests in
  * `digests.tsv` stay valid; the workload seed only permutes query order.
  *
  * The benchmark reads nothing outside its checkout, so it cannot use the
  * test tables themselves; each run writes this copy into its work folder.
  */
object Corpus {
  private val Vocab = ("a agg batch big column customer data fast filter " +
    "group hash join key line merge order part query row scan slow small " +
    "sort spark stream table the value vector window").split(" ")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("blue", "cold", "hot", "large", "new", "old",
    "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "plate", "ring", "rod",
    "widget")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDate, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong).atStartOfDay()

  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    def n(base: Int): Int = math.max(1, math.round(base * sf).toInt)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLines = n(6000000); val nEvents = n(1000000)
    val nDocs = n(50000); val nVecs = n(20000)
    new File(dir).mkdirs()
    def rng(table: Int) = new SplittableRandom(42L * 1000 + table)

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = s"$dir/_$name"
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      Files.move(part.toPath, new File(s"$dir/$name.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
      Files.walk(new File(tmp).toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    def f(name: String, t: DataType) = StructField(name, t)

    write("region", StructType(Seq(f("r_regionkey", IntegerType),
      f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng(1)
    write("customer", StructType(Seq(f("c_custkey", LongType),
      f("c_name", StringType), f("c_nationkey", IntegerType),
      f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        cents(rc, -999.99, 9999.99), Segments(rc.nextInt(Segments.length)))))
    val rs = rng(2)
    write("supplier", StructType(Seq(f("s_suppkey", LongType),
      f("s_name", StringType), f("s_nationkey", IntegerType),
      f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        cents(rs, -999.99, 9999.99))))
    val rp = rng(3)
    write("part", StructType(Seq(f("p_partkey", LongType),
      f("p_name", StringType), f("p_brand", StringType), f("p_type", StringType),
      f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${Adjectives(rp.nextInt(Adjectives.length))} ${Nouns(rp.nextInt(Nouns.length))}",
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(PartTypes.length)),
        1 + rp.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    val ro = rng(4)
    val orderStart = LocalDate.of(1995, 1, 1)
    write("orders", StructType(Seq(f("o_orderkey", LongType),
      f("o_custkey", LongType), f("o_orderstatus", StringType),
      f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
      f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        "FOP".charAt(ro.nextInt(3)).toString, cents(ro, 1000, 500000),
        day(ro, orderStart, 2404), Priorities(ro.nextInt(Priorities.length)))))
    val rl = rng(5)
    write("lineitem", StructType(Seq(f("l_orderkey", LongType),
      f("l_partkey", LongType), f("l_suppkey", LongType),
      f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
      f("l_tax", DoubleType), f("l_returnflag", StringType),
      f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      (0 until nLines).map(_ => Row(rl.nextInt(nOrders).toLong,
        rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7),
        (1 + rl.nextInt(50)).toDouble, cents(rl, 900, 105000),
        rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
        "ANR".charAt(rl.nextInt(3)).toString, "FO".charAt(rl.nextInt(2)).toString,
        day(rl, orderStart.plusDays(1), 2498))))

    val re = rng(6)
    val month = 30L * 86400 * 1000000
    val stamps = Array.fill(nEvents)((re.nextDouble() * month).toLong).sorted
    val eventStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    write("events", StructType(Seq(f("event_id", LongType),
      f("ts", TimestampNTZType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      stamps.toSeq.zipWithIndex.map { case (us, i) => Row(i.toLong,
        eventStart.plusNanos(us * 1000), re.nextInt(math.max(1, nCust / 10)).toLong,
        EventTypes(re.nextInt(EventTypes.length)),
        math.round(-50 * math.log(1 - re.nextDouble()) * 100) / 100.0,
        s"""{"k": ${re.nextInt(100)}}""") })

    val rd = rng(7)
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      texts(i) =
        if (i > 10 && rd.nextInt(20) == 0) texts(rd.nextInt(i)) + " dup"
        else Seq.fill(10 + rd.nextInt(91))(Vocab(rd.nextInt(Vocab.length)))
          .mkString(" ")
    }
    write("documents", StructType(Seq(f("doc_id", LongType),
      f("text", StringType), f("lang", StringType), f("source", StringType),
      f("n_chars", LongType))),
      texts.toSeq.zipWithIndex.map { case (t, i) => Row(i.toLong, t,
        Langs(rd.nextInt(Langs.length)), s"src${i % 20}", t.length.toLong) })

    val rv = rng(8)
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val v = Array.fill(64)(nextGaussian(rv))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rv.nextInt(10))
      })
  }

  private def nextGaussian(r: SplittableRandom): Double = {
    val u = 1 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
