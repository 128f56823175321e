package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.queries.Shared

/** Cold passes over a fixed query set: each pass builds every query with
  * `SparkEntry.queries(name)(spark, dir)`, forces its physical plan and
  * evaluates it through a `noop` sink, then drops the `Shared` artifacts so
  * the next pass is again a cold daily run. The seed permutes the order of
  * the queries within each pass.
  *
  * Before the timed passes, one untimed pass collects every result and
  * compares its order-independent digest with `digests.tsv`, whose entries
  * were recorded from query outputs that matched the DuckDB oracle.
  */
object QueryWorkload {
  /** Builders that run Spark jobs before they return: q111 iterates
    * connected components, q197 and q268 fold quantiles on the driver. */
  val ConstructSet: Seq[String] = Seq("q111_canonical_by_length",
    "q197_mad_outliers", "q268_greedy_coverage")
  /** Similarity join and salted skew: shuffle-bound. A change to
    * construction should leave these unmoved. */
  val ShuffleSet: Seq[String] = Seq("q22_ngram_jaccard", "q101_salted_join")
  val All: Seq[String] = ConstructSet ++ ShuffleSet

  /** Scale of the generated tables, in the test tables' sf units. */
  val Scale = 0.01
  /** Expected seconds of one pass; sizes the run from `--seconds`. */
  private val NominalPassS = 8.0

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/corpus"
    Corpus.generate(spark, dir, Scale)
    val expected = Digests.load(ctx.benchDir, Scale)
    val mismatches = All.flatMap { q =>
      try {
        val got = Digests.of(SparkEntry.queries(q)(spark, dir))
        if (expected.get(q).contains(got)) None
        else Some(s"$q: digest $got, recorded ${expected.getOrElse(q, "none")}")
      } catch { case e: Exception => Some(s"$q: failed: ${e.getMessage}") }
    }
    Shared.reset(spark)

    val passes = math.max(3, math.round(ctx.seconds / NominalPassS).toInt)
    val rng = new scala.util.Random(ctx.seed)
    val orders = Seq.fill(passes)(rng.shuffle(All))
    var failed = 0L
    val timed = ctx.timed {
      orders.map { order =>
        val t0 = System.nanoTime()
        val parts = Map.newBuilder[String, Double]
        val unit = ctx.tracer.unit("pass") {
          order.foreach { q =>
            val q0 = System.nanoTime()
            try evaluate(ctx, spark, q, dir)
            catch { case e: Exception =>
              failed += 1
              System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
            }
            parts += q -> (System.nanoTime() - q0) / 1e9
          }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val stored = Layers.storage(spark)
        Shared.reset(spark)
        (wall, unit, stored, parts.result())
      }
    }
    val perUnit = timed.value.flatMap { case (_, unit, storage, _) =>
      unit.map(u => Layers.common(ctx.tracer, u) ++
        Layers.perQuery(ctx.tracer, u) ++ storage)
    }
    mismatches.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    val attempted = orders.map(_.size).sum.toLong
    Outcome(
      correct = mismatches.isEmpty && failed == 0,
      attempted = attempted,
      failed = failed,
      unitP50S = Stats.composedMedian(timed.value.map(_._4)),
      timed = timed,
      layers = Layers.medians(perUnit) +
        ("failed_ratio" -> failed.toDouble / attempted))
  }

  private def evaluate(ctx: Ctx, spark: SparkSession, q: String,
                       dir: String): Unit = {
    val df = ctx.tracer.span("queries", q)(SparkEntry.queries(q)(spark, dir))
    ctx.tracer.span("planning", q)(df.queryExecution.executedPlan)
    ctx.tracer.span("execution", q)(
      df.write.format("noop").mode("overwrite").save())
  }
}

/** Order-independent result digests: every row rendered with its columns
  * sorted by name, the rendered rows sorted, then SHA-256 over the lot. */
object Digests {
  private val File = "digests.tsv"

  def of(df: DataFrame): String = {
    val names = df.columns.map(_.toLowerCase)
    val order = names.indices.sortBy(names(_))
    val lines = df.collect().map(r => order.map(i => canon(r.get(i)))
      .mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString("|").getBytes(StandardCharsets.UTF_8))
    lines.foreach(l => md.update(("\n" + l).getBytes(StandardCharsets.UTF_8)))
    s"${lines.length}:" + md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Recorded digests for one corpus scale, keyed by query name. */
  def load(benchDir: String, scale: Double): Map[String, String] =
    Files.readAllLines(Paths.get(benchDir, File)).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t"))
      .collect { case Array(sc, q, d) if sc.toDouble == scale => q -> d }
      .toMap

  /** Digest every query output `graft.Verify` wrote under `verifyDir`. */
  def record(spark: SparkSession, verifyDir: String, scale: Double,
             queries: Seq[String]): Seq[String] =
    queries.map { q =>
      require(new File(s"$verifyDir/$q").isDirectory, s"no Verify output for $q")
      s"$scale\t$q\t${of(spark.read.parquet(s"$verifyDir/$q"))}"
    }
}
