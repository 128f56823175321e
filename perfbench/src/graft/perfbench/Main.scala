package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Engine

/** What one run hands back to `Main`. `layers` holds per-layer medians over
  * the run's units (passes or simulated days). */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         unitP50S: Double, timed: Timed[_],
                         layers: Map[String, Double])

/** Result of the timed section, with the totals measured around it. */
final case class Timed[T](value: T, runS: Double, cpuS: Double,
                          heapPeakMb: Double, gcS: Double)

/** `work` is emptied before every run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                val benchDir: String, val seed: Long, val seconds: Int,
                startMs: Long) {
  private var setup = -1.0
  def setupS: Double = setup

  /** The timed section. The first call fixes `setupS`: the time from
    * process start to the first timed operation. */
  def timed[T](body: => T): Timed[T] = {
    if (setup < 0) setup = (System.currentTimeMillis() - startMs) / 1e3
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    // collect the warm-up's garbage and give the ContextCleaner time to drop
    // its shuffles and blocks, so that work does not land in the timed section
    System.gc()
    Thread.sleep(1500)
    tracer.drain()
    val cpu0 = tracer.total.snapshot.cpuNs
    heap.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val v = body
    val runS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    val peakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
    tracer.drain()
    Timed(v, runS, (tracer.total.snapshot.cpuNs - cpu0) / 1e9, peakMb, gcS)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A typical unit composed part by part: the sum, over the parts every
    * unit has (each query of a pass; each daily job and the strike run of
    * a day), of the part's median over the units. A burst of host noise
    * then moves one part's median instead of the whole unit. */
  def composedMedian(units: Seq[Map[String, Double]]): Double = {
    val common = units.map(_.keySet).reduce(_ intersect _)
    common.toSeq.map(k => median(units.map(_(k)))).sum
  }
}

/** Per-layer metrics of one unit span, from the spans nested under it. */
object Layers {
  private def sum(ss: Seq[Span]): Counters = {
    val c = new Counters; ss.foreach(s => c += s.counters); c
  }

  def common(tr: Tracer, unit: Span): Map[String, Double] = {
    val sub = tr.subtree(unit)
    val by = sub.groupBy(_.layer).withDefaultValue(Nil)
    def self(l: String) = by(l).map(_.selfNs).sum / 1e9
    val all = sum(sub)
    val sinks = sum(by("sinks"))
    Map(
      "queries.construct_s" -> self("queries"),
      "queries.construct_jobs" -> sum(by("queries")).jobs.toDouble,
      "planning.plan_s" -> self("planning"),
      "execution.sink_s" -> self("execution"),
      "execution.jobs" -> all.jobs.toDouble,
      "execution.stages" -> all.stages.toDouble,
      "execution.tasks" -> all.tasks.toDouble,
      "execution.executor_run_s" -> all.runMs / 1e3,
      "execution.gc_s" -> all.gcMs / 1e3,
      "shuffle.write_bytes" -> all.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> all.shuffleRead.toDouble,
      "shuffle.spill_bytes" -> all.spill.toDouble,
      "sources.list_s" -> self("sources"),
      "sources.input_bytes" -> all.inputBytes.toDouble,
      "sources.input_rows" -> all.inputRows.toDouble,
      "jobs.construct_s" -> self("jobs"),
      "jobs.construct_jobs" -> sum(by("jobs")).jobs.toDouble,
      "sinks.write_s" -> self("sinks"),
      "sinks.calls" -> by("sinks").size.toDouble,
      "sinks.jobs" -> sinks.jobs.toDouble,
      "sinks.output_bytes" -> sinks.outputBytes.toDouble,
      "runner.self_s" -> self("runner"),
      "streaming.run_self_s" -> self("streaming"))
  }

  /** Construction, sink and shuffle figures of each query in a pass. */
  def perQuery(tr: Tracer, unit: Span): Map[String, Double] =
    tr.subtree(unit).filter(_.layer != "bench").groupBy(_.name).toSeq
      .flatMap { case (q, ss) =>
        val by = ss.groupBy(_.layer).withDefaultValue(Nil)
        Seq(
          s"queries.construct_s.$q" -> by("queries").map(_.durNs).sum / 1e9,
          s"queries.construct_jobs.$q" -> sum(by("queries")).jobs.toDouble,
          s"execution.sink_s.$q" -> by("execution").map(_.durNs).sum / 1e9,
          s"shuffle.write_bytes.$q" -> sum(ss).shuffleWrite.toDouble)
      }.toMap

  /** Bytes and RDDs held in block storage at the end of a unit: `Shared`
    * persists plus the lineage cuts' local checkpoints still referenced. */
  def storage(spark: SparkSession): Map[String, Double] = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    Map("storage.cached_bytes" -> infos.map(i => i.memSize + i.diskSize).sum.toDouble,
      "storage.cached_rdds" -> infos.length.toDouble)
  }

  /** Median of each metric over the units that report it. */
  def medians(units: Seq[Map[String, Double]]): Map[String, Double] =
    units.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(units.flatMap(_.get(k)))
    }.toMap
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * runs one workload and prints one JSON result line last on stdout.
  * `--record-digests <verifyOutDir>` is the maintenance mode behind
  * `digests.tsv` (see README.md).
  *
  * The metric names and units come from `BENCHMARK.json` at the checkout
  * root: an untraced run prints exactly its `end_to_end` list, a traced run
  * its `per_layer` list, with 0 for a layer the workload does not touch.
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "etl_replay" -> EtlReplay.run, "query_passes" -> QueryWorkload.run)

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = Engine.session("perfbench", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        if (opts.contains("--record-digests")) {
          Digests.record(spark, opt("--record-digests"), QueryWorkload.Scale,
            QueryWorkload.All).foreach(println); 0
        } else runWorkload(spark, opt)
      } finally spark.stop()
    sys.exit(code)
  }

  /** `(name, unit)` of every metric BENCHMARK.json lists under `key`. */
  private def declared(benchDir: String, key: String): Seq[(String, String)] =
    json.readTree(new File(benchDir, "../BENCHMARK.json")).get(key).elements()
      .asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  private def runWorkload(spark: SparkSession, opt: String => String): Int = {
    val name = opt("--workload")
    val workload = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val trace = opt("--trace") == "1"
    val work = opt("--work")
    val benchDir = opt("--bench-dir")
    val listed = declared(benchDir, if (trace) "per_layer" else "end_to_end")
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, benchDir, opt("--seed").toLong,
      opt("--seconds").toInt, opt("--start-ms").toLong)
    val out = workload(ctx)
    val t = out.timed
    val measured =
      if (!trace) Map("setup_s" -> ctx.setupS, "run_s" -> t.runS,
        "unit_p50_s" -> out.unitP50S, "executor_cpu_s" -> t.cpuS)
      else {
        tracer.write(s"$work/trace-$name-${opt("--seed")}.jsonl")
        out.layers ++ Map("jvm.heap_peak_mb" -> t.heapPeakMb, "jvm.gc_s" -> t.gcS,
          "trace.run_s" -> t.runS)
      }
    val unknown = measured.keySet -- listed.map(_._1)
    require(unknown.isEmpty, s"metrics not in BENCHMARK.json: ${unknown.toSeq.sorted}")
    if (!trace) {
      val missing = listed.map(_._1).filterNot(measured.contains)
      require(missing.isEmpty, s"end-to-end metrics not measured: $missing")
    }
    val metrics = ListMap(listed.map { case (k, unit) =>
      val v = measured.getOrElse(k, 0.0)
      require(!v.isNaN && !v.isInfinite, s"non-finite metric $k = $v")
      k -> ListMap("value" -> v, "unit" -> unit)
    }: _*)
    val line = json.writeValueAsString(ListMap("correct" -> out.correct,
      "attempted" -> out.attempted, "failed" -> out.failed, "metrics" -> metrics))
    Files.writeString(Paths.get(work, "result.json"), line + "\n")
    if (out.correct) 0 else 1
  }
}
