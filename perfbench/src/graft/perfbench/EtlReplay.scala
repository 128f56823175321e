package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.Schemas
import graft.jobs.EmployeePipeline
import graft.operators.Merge
import graft.runner.Runner
import graft.runner.Runner.{Daily, Job, JobResult, Monthly, Yearly}
import graft.sources.{Sinks, Sources}
import graft.streaming.StrikeMonitor

/** The employee pipeline as a scheduler would run it, one simulated day at a
  * time: each day's CSV drops arrive, then `Runner.runCadence` runs the
  * yearly (1 January), daily and monthly (last day of month) cadences, then
  * one `StrikeMonitor` run with `Trigger.AvailableNow` restarts from the
  * same checkpoint so strike state carries across days.
  *
  * Dims are versioned: every generation of the timeframe, leave and employee
  * dims is written to a new path and the next day reads the previous one.
  * `Sinks.overwriteParquet` onto the path a plan reads from deletes the
  * input before the plan has read it, so an in-place write-back would
  * destroy the dim.
  */
final class EtlPipeline(spark: SparkSession, tr: Tracer, root: String) {
  private val feeds = s"$root/feeds"
  /** Current generation of each versioned table. */
  val current = mutable.Map.empty[String, String]
  /** Output part files written per sink call, counted only when tracing. */
  var outputFiles = 0L
  /** Wall seconds of every job run since the last `takeJobWalls`. */
  private val jobWalls = mutable.ArrayBuffer.empty[(String, Double)]

  def takeJobWalls(): Map[String, Double] = {
    val m = jobWalls.groupMapReduce(_._1)(_._2)(_ + _)
    jobWalls.clear()
    m
  }

  private def read(table: String): Option[DataFrame] =
    current.get(table).map(p => tr.span("sources", s"read_$table")(spark.read.parquet(p)))

  private def newest(feed: String, schema: StructType): DataFrame =
    tr.span("sources", s"newest_$feed")(
      Sources.newestCsv(spark, s"$feeds/$feed", schema)
        .getOrElse(sys.error(s"no $feed drop")))

  private def sink(kind: String, path: String)(write: => Unit): Unit = {
    tr.span("sinks", kind)(write)
    if (tr.enabled)
      outputFiles += Option(new File(path).listFiles()).getOrElse(Array.empty[File])
        .count(f => f.getName.startsWith("part-"))
  }

  private def construct[T](name: String)(body: => T): T = tr.span("jobs", name)(body)

  /** Write the next generation of `table` and make it current. */
  private def nextGen(table: String, day: String, suffix: String)(df: DataFrame): Unit = {
    val path = s"$root/dims/$table/g=$day$suffix"
    sink("overwriteParquet", path)(Sinks.overwriteParquet(df, path))
    current(table) = path
  }

  private def report(kind: String, day: String, suffix: String)(df: DataFrame): Unit = {
    val path = s"$root/reports/$kind/$day$suffix"
    sink("overwriteCsv", path)(Sinks.overwriteCsv(df, path))
  }

  private def job(name: String, cadence: Runner.Cadence)(body: String => Unit): Job =
    Job(name, cadence, (_, day) => {
      val t0 = System.nanoTime()
      try tr.span("runner", name)(body(day))
      finally jobWalls += name -> (System.nanoTime() - t0) / 1e9
    })

  /** The pipeline's jobs; `sfx` tags every path they write (replays). */
  def jobs(sfx: String): Seq[Job] = Seq(
    job("load_quota", Yearly) { _ =>
      val raw = newest("quota", Schemas.leaveQuotaRaw)
      sink("appendParquet", s"$root/dims/quota")(
        Sinks.appendParquet(raw, s"$root/dims/quota"))
      current("quota") = s"$root/dims/quota"
    },
    job("load_calendar", Yearly) { day =>
      val raw = newest("calendar", Schemas.leaveCalendarRaw)
      val cal = construct("calendar_dates")(
        raw.withColumn("date", to_date(col("date"), "yyyy-MM-dd")))
      nextGen("calendar", day, sfx)(cal)
    },
    job("ingest_employee", Daily) { day =>
      val raw = newest("employee", Schemas.empDataRaw)
      val merged = read("employee").fold(raw)(dim =>
        construct("Merge.upsert")(Merge.upsert(dim, raw, Seq("emp_id"))))
      nextGen("employee", day, sfx)(merged)
    },
    job("ingest_timeframe", Daily) { day =>
      val raw = newest("timeframe", Schemas.empTimeframeRaw)
      val path = s"$root/staging/timeframe/$day$sfx"
      val clean = construct("EmployeePipeline.cleanTimeframe")(
        EmployeePipeline.cleanTimeframe(raw))
      sink("overwriteParquet", path)(Sinks.overwriteParquet(clean, path))
      current("staging_timeframe") = path
    },
    job("ingest_leave", Daily) { day =>
      val raw = newest("leave", Schemas.leaveRaw)
      val path = s"$root/staging/leave/$day$sfx"
      val clean = construct("EmployeePipeline.cleanLeave")(EmployeePipeline.cleanLeave(raw))
      sink("overwriteParquet", path)(Sinks.overwriteParquet(clean, path))
      current("staging_leave") = path
    },
    job("merge_timeframe_dim", Daily) { day =>
      val staging = read("staging_timeframe").get
      val merged = read("timeframe").fold(staging)(dim =>
        construct("EmployeePipeline.mergeTimeframeDim")(
          EmployeePipeline.mergeTimeframeDim(dim, staging)))
      nextGen("timeframe", day, sfx)(merged)
    },
    job("upsert_leave_dim", Daily) { day =>
      val staging = read("staging_leave").get
      val merged = read("leave").fold(staging)(dim =>
        construct("Merge.upsert")(Merge.upsert(dim, staging, Seq("emp_id", "leave_date"))))
      nextGen("leave", day, sfx)(merged)
    },
    job("report_active", Daily) { day =>
      val dim = read("timeframe").get
      report("active", day, sfx)(construct("EmployeePipeline.activeByDesignation")(
        EmployeePipeline.activeByDesignation(dim)))
    },
    job("report_upcoming", Daily) { day =>
      val (leave, cal) = (read("leave").get, read("calendar").get)
      report("upcoming", day, sfx)(construct("EmployeePipeline.upcomingLeaveAbuse")(
        EmployeePipeline.upcomingLeaveAbuse(spark, leave, cal, day)))
    },
    job("report_quota", Monthly) { day =>
      val (quota, leave) = (read("quota").get, read("leave").get)
      report("quota", day, sfx)(construct("EmployeePipeline.quotaAbuse")(
        EmployeePipeline.quotaAbuse(quota, leave, day)))
    })

  /** Cadences due on `date`, in dependency order. */
  def cadences(date: LocalDate, first: Boolean): Seq[Runner.Cadence] =
    (if (first || date.getDayOfYear == 1) Seq(Yearly) else Nil) ++ Seq(Daily) ++
      (if (date.plusDays(1).getMonthValue != date.getMonthValue) Seq(Monthly) else Nil)

  def runDay(date: LocalDate, first: Boolean): Seq[JobResult] = {
    val all = jobs("")
    cadences(date, first).flatMap(c =>
      tr.span("runner", s"cadence_$c")(Runner.runCadence(spark, all, c, date.toString)))
  }

  /** One strike-monitor run over the messages that arrived since the last. */
  def strikeRun(): StreamingStats = tr.span("streaming", "strike") {
    import spark.implicits._
    val w0 = System.nanoTime()
    val salaries = tr.span("streaming", "salaries") {
      read("timeframe").get.filter(col("end_date").isNull)
        .select(col("emp_id"), col("updated_salary").cast(DoubleType)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val messages = Sources.csvStream(spark, s"$feeds/messages", EtlReplay.MessageSchema)
      .as[StrikeMonitor.Message]
    val t0 = System.currentTimeMillis()
    val query = StrikeMonitor.monitor(spark, messages, EtlGen.Reserved, salaries)
      .writeStream.format("parquet")
      .option("path", s"$root/flagged")
      .option("checkpointLocation", s"$root/checkpoints/strike")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val ps = query.recentProgress.toSeq
    val state = ps.lastOption.flatMap(_.stateOperators.headOption)
    StreamingStats(
      startS = ps.headOption.fold(0.0)(p =>
        (java.time.Instant.parse(p.timestamp).toEpochMilli - t0) / 1e3),
      batchS = ps.map(_.durationMs.get("triggerExecution").longValue).sum / 1e3,
      inputRows = ps.map(_.numInputRows).sum,
      stateRows = state.fold(0L)(_.numRowsTotal),
      stateMemBytes = state.fold(0L)(_.memoryUsedBytes),
      wallS = (System.nanoTime() - w0) / 1e9)
  }
}

final case class StreamingStats(startS: Double, batchS: Double, inputRows: Long,
                                stateRows: Long, stateMemBytes: Long,
                                wallS: Double)

object EtlReplay {
  val MessageSchema: StructType = StructType(Seq(
    StructField("emp_id", LongType), StructField("message", StringType),
    StructField("ts", TimestampType)))

  /** Employees at day 0; sized so a simulated day stays bound by per-job
    * overhead, as the pipeline is at this scale. */
  val Employees = 20000
  /** Warm-up full load; the timed days start the next day, so every span
    * covers a month end (31 December) and a year start (1 January). */
  val FirstDay: LocalDate = LocalDate.of(2024, 12, 30)
  /** Expected seconds of one simulated day; sizes the run from `--seconds`. */
  private val NominalDayS = 5.0

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val root = s"${ctx.work}/etl"
    val nDays = math.max(3, math.round(ctx.seconds / NominalDayS).toInt)
    val dates = (0 to nDays).map(i => FirstDay.plusDays(i.toLong))
    val drops = EtlGen.generate(ctx.seed, Employees, dates)
    val files = drops.map(d => EtlGen.write(d, s"$root/incoming"))
    val pipe = new EtlPipeline(spark, ctx.tracer, root)
    var attempted, failed = 0L

    /** Deliver a day's drops into the feed folders, newest by mtime. */
    def deliver(i: Int): Unit = files(i).foreach { f =>
      val feed = new File(s"$root/feeds/${f.getParentFile.getName}")
      feed.mkdirs()
      val dest = new File(feed, f.getName).toPath
      Files.move(f.toPath, dest, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(EtlGen.epochS(dates(i)) * 1000))
    }
    def day(i: Int): (Seq[JobResult], StreamingStats) = {
      val results = pipe.runDay(dates(i), first = i == 0)
      val stats =
        try pipe.strikeRun()
        catch { case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] ${dates(i)} strike run failed: ${e.getMessage}")
          StreamingStats(0, 0, 0, 0, 0, 0)
        }
      attempted += results.size + 1
      failed += results.count(!_.ok)
      results.filterNot(_.ok).foreach(r =>
        System.err.println(s"[perfbench] ${dates(i)} ${r.name} failed: ${r.error}"))
      (results, stats)
    }

    deliver(0)
    day(0)
    attempted = 0; failed = 0
    val timed = ctx.timed {
      (1 to nDays).map { i =>
        deliver(i)
        pipe.outputFiles = 0
        val t0 = System.nanoTime()
        var out: (Seq[JobResult], StreamingStats) = null
        pipe.takeJobWalls()
        val unit = ctx.tracer.unit("day") { out = day(i) }
        val wall = (System.nanoTime() - t0) / 1e9
        val parts = pipe.takeJobWalls() + ("strike" -> out._2.wallS)
        (wall, unit, dates(i), out._1, out._2, pipe.outputFiles, Layers.storage(spark), parts)
      }
    }
    val clean = pipe.current.toMap
    val last = dates.last
    val replay = replayCheck(spark, pipe, root, last)
    val problems = check(spark, root, clean, drops, last)
    problems.foreach(p => System.err.println(s"[perfbench] MISMATCH $p"))

    Outcome(
      correct = problems.isEmpty && failed == 0,
      attempted = attempted,
      failed = failed,
      unitP50S = Stats.composedMedian(timed.value.map(_._8)),
      timed = timed,
      layers = if (!ctx.tracer.enabled) Map.empty else {
        // the file sink reports no output count; messages carry their day
        val flaggedByDay = spark.read.parquet(s"$root/flagged")
          .groupBy(to_date(col("ts"))).count().collect()
          .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
        val jobNames = pipe.jobs("").map(_.name).toSet
        val perDay = timed.value.flatMap { case (_, unit, date, results, st, files, stored, _) =>
          unit.map { u =>
            val jobSpans = ctx.tracer.subtree(u)
              .filter(s => s.layer == "runner" && jobNames(s.name))
            Layers.common(ctx.tracer, u) ++ stored ++
              jobSpans.groupBy(_.name).map { case (j, ss) =>
                s"runner.job_s.$j" -> ss.map(_.durNs).sum / 1e9 } ++
              Map(
                "runner.attempts" -> results.map(_.attempts).sum.toDouble,
                "runner.retries" -> results.map(_.attempts - 1).sum.toDouble,
                "runner.failed" -> results.count(!_.ok).toDouble,
                "sinks.output_files" -> files.toDouble,
                "streaming.strike_p50_s" -> st.wallS,
                "streaming.start_s" -> st.startS,
                "streaming.batch_s" -> st.batchS,
                "streaming.input_rows" -> st.inputRows.toDouble,
                "streaming.state_rows" -> st.stateRows.toDouble,
                "streaming.state_mem_bytes" -> st.stateMemBytes.toDouble,
                "streaming.flagged_rows" -> flaggedByDay.getOrElse(date, 0L).toDouble)
          }
        }
        val replayFailed = if (replay.differing.isEmpty) 0 else 1
        Layers.medians(perDay) ++ Map(
          "dim.timeframe_rows" -> spark.read.parquet(clean("timeframe")).count().toDouble,
          "dim.leave_rows" -> spark.read.parquet(clean("leave")).count().toDouble,
          "replay.failed" -> replayFailed.toDouble,
          "replay.extra_rows" -> replay.extraRows.toDouble,
          "failed_ratio" -> (failed + replayFailed).toDouble / (attempted + 1))
      })
  }

  final case class Replay(differing: Seq[String], extraRows: Long)

  /** Re-run the last day's daily cadence on top of its own outputs, writing
    * new generations, and compare every table with the clean run's. An
    * idempotent pipeline leaves them identical. */
  private def replayCheck(spark: SparkSession, pipe: EtlPipeline, root: String,
                          day: LocalDate): Replay = {
    val clean = pipe.current.toMap
    val results = Runner.runCadence(spark, pipe.jobs("-replay"), Daily, day.toString)
    val replayed = pipe.current.toMap
    def rows(path: String, csv: Boolean) = {
      val df = if (csv) spark.read.option("header", "true").csv(path)
               else spark.read.parquet(path)
      df.collect().map(_.mkString("|")).groupBy(identity).map { case (k, v) => k -> v.length }
    }
    val pairs = Seq("timeframe", "leave", "employee").map(t =>
      (t, clean(t), replayed(t), false)) ++
      Seq("active", "upcoming").map(k =>
        (k, s"$root/reports/$k/$day", s"$root/reports/$k/$day-replay", true))
    val diffs = pairs.map { case (name, a, b, csv) =>
      val (ra, rb) = (rows(a, csv), rows(b, csv))
      name -> (ra.keySet ++ rb.keySet).toSeq.map(k =>
        math.abs(ra.getOrElse(k, 0) - rb.getOrElse(k, 0)).toLong).sum
    }
    val differing = diffs.filter(_._2 > 0).map(_._1) ++
      results.filterNot(_.ok).map(r => s"${r.name} failed")
    if (differing.nonEmpty)
      System.err.println(s"[perfbench] replay of $day is not a no-op: " +
        diffs.filter(_._2 > 0).map { case (t, n) => s"$t differs by $n rows" }.mkString(", "))
    Replay(differing, diffs.map(_._2).sum)
  }

  /** Compare the clean run's outputs with the plain-Scala model. */
  private def check(spark: SparkSession, root: String, clean: Map[String, String],
                    drops: Seq[DayDrop], last: LocalDate): Seq[String] = {
    val model = new EtlModel
    drops.zipWithIndex.foreach { case (d, i) =>
      model.day(d, first = i == 0,
        monthEnd = d.date.plusDays(1).getMonthValue != d.date.getMonthValue)
    }
    def ts(r: Row, i: Int): Option[Long] =
      Option(r.getAs[Timestamp](i)).map(_.getTime / 1000)
    val dimRows = spark.read.parquet(clean("timeframe")).select("emp_id", "designation",
      "start_date", "end_date", "salary", "status", "strike_count", "updated_salary",
      "cooldown_start_date").collect()
    val dim = dimRows.map(r => EtlModel.dimLine(r.getLong(0), r.getString(1),
      ts(r, 2).get, ts(r, 3), r.getLong(4), r.getString(5), r.getInt(6), r.getLong(7)) +
      (if (r.isNullAt(8)) "" else "|cooldown set"))
    val openPerEmp = dimRows.filter(_.isNullAt(3)).groupBy(_.getLong(0)).values
    val leave = spark.read.parquet(clean("leave")).select("emp_id", "leave_date", "status")
      .collect().map(r => s"${r.getLong(0)}|${r.getDate(1).toLocalDate}|${r.getString(2)}")
    def csv(kind: String, day: LocalDate): Set[String] =
      spark.read.option("header", "true").csv(s"$root/reports/$kind/$day").collect()
        .map(_.toSeq.map(v => String.valueOf(v)).mkString("|")).toSet
    val quotaDays = model.quotaReports.keys.toSeq.sortBy(_.toEpochDay)
    val quota = quotaDays.map(d => d -> csv("quota", d).map { l =>
      val f = l.split("\\|"); s"${f(0)}|${f(1)}|${f(2)}|${f(3).toDouble}" })
    val flaggedRows = spark.read.parquet(s"$root/flagged").select("emp_id", "message",
      "ts", "strike_no", "updated_salary", "status").collect()
    val flagged = flaggedRows.map(r => EtlModel.flaggedLine(r.getLong(0), r.getString(1),
      r.getAs[Timestamp](2).getTime, r.getInt(3), r.getDouble(4), r.getString(5)))
    // final strike states, read back from the query's state store
    val states = spark.read.format("statestore").load(s"$root/checkpoints/strike")
      .select(col("key.value"), col("value.groupState.*")).collect()
      .map(r => s"${r.getLong(0)}|${r.getInt(1)}|${r.getDouble(2)}|${r.getBoolean(3)}|${r.getInt(4)}")
    val modelStates = model.strikes.map { case (id, st) =>
      s"$id|${st.strikes}|${st.salary}|${st.active}|${st.lastMonth}" }

    def same(what: String, got: Seq[String], want: Seq[String]): Option[String] =
      if (got.sorted == want.sorted) None
      else Some(s"$what: ${got.size} rows, model ${want.size}; first differences " +
        (got.diff(want).take(2) ++ want.diff(got).take(2).map("model " + _)).mkString("; "))
    Seq(
      if (openPerEmp.forall(_.length == 1)) None
      else Some("timeframe dim: an employee has more than one open row"),
      same("timeframe dim (SCD2 image)", dim.toSeq, model.dimLines),
      same("leave dim", leave.toSeq, model.leaveLines),
      same(s"active report $last", csv("active", last).toSeq, model.activeReport.toSeq),
      same(s"upcoming report $last", csv("upcoming", last).toSeq,
        model.upcomingReport(last).toSeq),
      same("flagged-message log", flagged.toSeq, model.flagged.toSeq),
      same("final strike states", states.toSeq, modelStates.toSeq),
      if (quotaDays.nonEmpty) None else Some("no month end in the replayed span")
    ).flatten ++ quota.flatMap { case (d, got) =>
      same(s"quota report $d", got.toSeq, model.quotaReports(d).toSeq) }
  }
}
