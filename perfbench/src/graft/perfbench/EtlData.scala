package graft.perfbench

import java.io.{File, PrintWriter}
import java.time.{DayOfWeek, Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

/** Raw feed rows, exactly as written to the CSV drops. */
final case class EmpRow(id: Long, name: String, age: Int)
final case class TfRow(id: Long, designation: String, start: Long,
                       end: Option[Long], salary: Long)
final case class LeaveRow(id: Long, date: LocalDate, status: String)
final case class QuotaRow(id: Long, quota: Int, year: Int)
final case class Holiday(reason: String, date: LocalDate)
final case class MsgRow(id: Long, text: String, tsMs: Long)

/** One day's drops. Empty feeds write no file that day. */
final case class DayDrop(date: LocalDate, employees: Seq[EmpRow],
                         timeframe: Seq[TfRow], leave: Seq[LeaveRow],
                         quota: Seq[QuotaRow], calendar: Seq[Holiday],
                         messages: Seq[MsgRow])

/** Seeded generator for the employee pipeline's five feeds plus the message
  * stream. Day 0 is the full load; every later day carries ~2% timeframe
  * changes, new hires, leave applications with in-file duplicates and
  * cancellations, and a fixed number of messages. Row counts per day do not
  * depend on the seed, so count metrics repeat exactly across seeds.
  */
object EtlGen {
  val Reserved: Set[String] = Set("fraud", "bribe", "leak", "confidential")
  private val Clean = ("status update meeting report deadline review lunch " +
    "schedule client project team call notes plan draft budget").split(" ")
  private val Designations = Array("engineer", "analyst", "manager",
    "designer", "support", "sales", "hr", "ops")
  /** Employees that send `OffenderDaily` flagged messages every day: they
    * reach ten strikes on the second day and go INACTIVE. */
  val Offenders = 3
  val OffenderDaily = 6
  private val Dec31 = LocalDate.of(2024, 12, 31)

  def epochS(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toEpochSecond

  def holidays(year: Int): Seq[Holiday] = {
    val fixed = Seq("new_year" -> (1, 1), "mlk" -> (1, 15), "presidents" -> (2, 19),
      "memorial" -> (5, 27), "independence" -> (7, 4), "labor" -> (9, 2),
      "columbus" -> (10, 14), "veterans" -> (11, 11), "thanksgiving" -> (11, 28),
      "christmas" -> (12, 25), "new_years_eve" -> (12, 31))
    fixed.map { case (r, (m, d)) => Holiday(r, LocalDate.of(year, m, d)) }
  }

  def generate(seed: Long, nEmp: Int, days: Seq[LocalDate]): Seq[DayDrop] = {
    val r = new SplittableRandom(seed)
    def pick[T](xs: Array[T]): T = xs(r.nextInt(xs.length))
    def dateIn(from: LocalDate, to: LocalDate): LocalDate =
      from.plusDays(r.nextInt((to.toEpochDay - from.toEpochDay + 1).toInt).toLong)
    /** `k` distinct draws; the seed picks which, never how many. */
    def distinct[T](k: Int)(draw: => T): Seq[T] = {
      val seen = mutable.LinkedHashSet.empty[T]
      while (seen.size < k) seen += draw
      seen.toSeq
    }
    var lastId = nEmp.toLong
    val leaveKeys = mutable.ArrayBuffer.empty[(Long, LocalDate)]
    val leaveSeen = mutable.HashSet.empty[(Long, LocalDate)]
    def freshLeave(id: => Long, date: => LocalDate): (Long, LocalDate) = {
      var key = (id, date)
      while (leaveSeen.contains(key)) key = (id, date)
      leaveSeen += key; leaveKeys += key
      key
    }
    val offenders = distinct(Offenders)(1L + r.nextInt(nEmp))

    /** `n` rows: every tenth repeats an earlier row of the file with the
      * other status (the later row wins), `cancels` in ten cancel an
      * existing leave, the rest apply for new dates in [from, to]. */
    def leaveRows(n: Int, from: LocalDate, to: LocalDate, cancels: Int): Seq[LeaveRow] = {
      val rows = mutable.ArrayBuffer.empty[LeaveRow]
      for (j <- 0 until n) rows += {
        if (j % 10 == 9) {
          val prev = rows(r.nextInt(rows.size))
          prev.copy(status = if (prev.status == "ACTIVE") "CANCELLED" else "ACTIVE")
        } else if (j % 10 < cancels) {
          val (id, d) = leaveKeys(r.nextInt(leaveKeys.size))
          LeaveRow(id, d, "CANCELLED")
        } else {
          val (id, d) = freshLeave(1L + r.nextInt(lastId.toInt), dateIn(from, to))
          LeaveRow(id, d, "ACTIVE")
        }
      }
      rows.toSeq
    }

    def messages(date: LocalDate, n: Int): Seq[MsgRow] = {
      val base = epochS(date) * 1000
      val reserved = Reserved.toArray.sorted
      def text(flag: Boolean) = {
        val words = Seq.fill(3 + r.nextInt(8))(pick(Clean))
        (if (flag) words.patch(r.nextInt(words.size), Seq(pick(reserved)), 0)
         else words).mkString(" ")
      }
      def msg(id: Long, flag: Boolean) =
        MsgRow(id, text(flag), base + r.nextInt(86400) * 1000L)
      def other(): Long = {
        var id = 1L + r.nextInt(nEmp)
        while (offenders.contains(id)) id = 1L + r.nextInt(nEmp)
        id
      }
      val flagged = n / 50
      offenders.flatMap(id => Seq.fill(OffenderDaily)(msg(id, flag = true))) ++
        Seq.fill(flagged)(msg(other(), flag = true)) ++
        Seq.fill(n - flagged - OffenderDaily * Offenders)(msg(other(), flag = false))
    }

    val nMsg = nEmp / 4
    days.zipWithIndex.map { case (date, i) =>
      val yearStart = date.getDayOfYear == 1
      if (i == 0) {
        val emps = (1L to nEmp).map(id => EmpRow(id, s"Employee $id", 22 + r.nextInt(39)))
        val tf = (1L to nEmp).flatMap { id =>
          val start = epochS(dateIn(LocalDate.of(2020, 1, 1), date.minusDays(30)))
          val salary = 30000L + 100L * r.nextInt(1700)
          val open = TfRow(id, pick(Designations), start, None, salary)
          val history =
            if (id % 10 == 0)
              Seq(TfRow(id, pick(Designations), start - 86400L * (30 + r.nextInt(700)),
                Some(start), salary - 1000))
            else Nil
          // an in-file duplicate open row: the cleaner keeps the higher salary
          val dup =
            if (id % 100 == 7) Seq(open.copy(salary = salary + 100L * (1 + r.nextInt(50))))
            else Nil
          history ++ Seq(open) ++ dup
        }
        // this year's history: a heavy leaver in twenty is near the quota
        val past = (1L to nEmp).flatMap { id =>
          val k = if (id % 20 == 0) 20 + (id % 9).toInt else (id % 5).toInt
          (0 until k).map { j =>
            val (_, d) = freshLeave(id, dateIn(LocalDate.of(date.getYear, 1, 1), date))
            LeaveRow(id, d, if (j % 10 == 9) "CANCELLED" else "ACTIVE")
          }
        }
        // next year's plans: a heavy planner in fifty trips the 8% report
        val planned = (1L to nEmp).flatMap { id =>
          val k = if (id % 50 == 0) 25 + (id % 10).toInt else (id % 3).toInt
          Seq.fill(k)(LeaveRow(id,
            freshLeave(id, dateIn(date.plusDays(1), Dec31.plusYears(1)))._2, "ACTIVE"))
        }
        val leave = past ++ planned ++ leaveRows(nEmp / 10, date.plusDays(1), Dec31, 0)
        val quota = (1L to nEmp).flatMap { id =>
          QuotaRow(id, 18 + r.nextInt(13), date.getYear) +:
            (if (id % 20 == 3) Seq(QuotaRow(id, 2 + r.nextInt(4), date.getYear)) else Nil)
        }
        DayDrop(date, emps, tf, leave, quota, holidays(date.getYear),
          messages(date, nMsg))
      } else {
        val hires = (1 to nEmp / 1000).map { _ => lastId += 1; lastId }
        val emps = hires.map(id => EmpRow(id, s"Employee $id", 22 + r.nextInt(39))) ++
          distinct(nEmp / 1000)(1L + r.nextInt(nEmp))
            .map(id => EmpRow(id, s"Employee $id", 22 + r.nextInt(39)))
        val changed = distinct(nEmp / 50)(1L + r.nextInt(nEmp))
        val tf = (changed ++ hires).zipWithIndex.flatMap { case (id, j) =>
          val row = TfRow(id, pick(Designations), epochS(date), None,
            30000L + 100L * r.nextInt(1700))
          if (j % 100 == 0) Seq(row, row.copy(salary = row.salary + 100)) else Seq(row)
        }
        val leave = leaveRows(nEmp / 5, date.plusDays(1),
          LocalDate.of(date.getYear, 12, 31).plusYears(1), 2)
        val quota =
          if (yearStart) (1L to lastId).map(id => QuotaRow(id, 18 + r.nextInt(13), date.getYear))
          else Nil
        DayDrop(date, emps, tf, leave, quota,
          if (yearStart) holidays(date.getYear) else Nil, messages(date, nMsg))
      }
    }
  }

  /** Write one day's drops as CSV files under `dir/<feed>/`. */
  def write(d: DayDrop, dir: String): Seq[File] = {
    val tag = d.date.toString
    def csv[T](feed: String, header: String, rows: Seq[T])(line: T => String): Option[File] =
      if (rows.isEmpty) None
      else {
        val f = new File(s"$dir/$feed/${feed}_$tag.csv")
        f.getParentFile.mkdirs()
        val out = new PrintWriter(f)
        try { out.println(header); rows.foreach(x => out.println(line(x))) }
        finally out.close()
        Some(f)
      }
    Seq(
      csv("employee", "emp_id,emp_name,emp_age", d.employees)(e =>
        s"${e.id},${e.name},${e.age}"),
      csv("timeframe", "emp_id,designation,start_date,end_date,salary", d.timeframe)(t =>
        s"${t.id},${t.designation},${t.start},${t.end.fold("")(_.toString)},${t.salary}"),
      csv("leave", "emp_id,date,status", d.leave)(l => s"${l.id},${l.date},${l.status}"),
      csv("quota", "emp_id,leave_quota,leave_year", d.quota)(q =>
        s"${q.id},${q.quota},${q.year}"),
      csv("calendar", "reason,date", d.calendar)(h => s"${h.reason},${h.date}"),
      csv("messages", "emp_id,message,ts", d.messages)(m =>
        s"${m.id},${m.text},${Instant.ofEpochMilli(m.tsMs).toString
          .replace("T", " ").stripSuffix("Z")}")
    ).flatten
  }
}

/** Plain-Scala ground truth for the pipeline, built from the generated rows
  * alone. It shares no code with the engine: it is the oracle the run's
  * outputs are checked against.
  */
final class EtlModel {
  /** SCD2 rows: (emp, designation, start, end, salary, status). */
  final case class Gen(id: Long, designation: String, start: Long,
                       end: Option[Long], salary: Long, status: String)
  final case class Strike(strikes: Int, salary: Double, active: Boolean,
                          lastMonth: Int)

  val dim = mutable.ArrayBuffer.empty[Gen]
  val leave = mutable.LinkedHashMap.empty[(Long, LocalDate), String]
  val quota = mutable.ArrayBuffer.empty[QuotaRow]
  var calendar: Seq[LocalDate] = Nil
  val strikes = mutable.Map.empty[Long, Strike]
  val flagged = mutable.ArrayBuffer.empty[String]
  val quotaReports = mutable.Map.empty[LocalDate, Set[String]]

  /** Keep one open row per employee: highest salary, then earliest start. */
  private def clean(rows: Seq[TfRow]): Seq[Gen] = {
    val (closed, open) = rows.partition(_.end.isDefined)
    val kept = open.groupBy(_.id).values.map(_.sortBy(t => (-t.salary, t.start)).head)
    (closed ++ kept).map(t => Gen(t.id, t.designation, t.start, t.end, t.salary,
      if (t.end.isEmpty) "Active" else "Inactive"))
  }

  def day(d: DayDrop, first: Boolean, monthEnd: Boolean): Unit = {
    if (d.quota.nonEmpty) quota ++= d.quota
    if (d.calendar.nonEmpty) calendar = d.calendar.map(_.date)
    val staged = clean(d.timeframe)
    if (first) dim ++= staged
    else {
      val newStart = staged.groupBy(_.id).map { case (k, g) => k -> g.map(_.start).min }
      for (i <- dim.indices) {
        val g = dim(i)
        if (g.end.isEmpty && newStart.contains(g.id))
          dim(i) = g.copy(end = Some(newStart(g.id)), status = "Inactive")
      }
      dim ++= staged.map(_.copy(end = None, status = "Active"))
    }
    val lastWins = mutable.LinkedHashMap.empty[(Long, LocalDate), String]
    d.leave.foreach(l => lastWins((l.id, l.date)) = l.status)
    leave ++= lastWins
    if (monthEnd) quotaReports(d.date) = quotaReport(d.date)
    strikeRun(d.messages)
  }

  private def strikeRun(msgs: Seq[MsgRow]): Unit = {
    val salary = dim.filter(_.end.isEmpty).map(g => g.id -> g.salary.toDouble).toMap
    msgs.groupBy(_.id).toSeq.sortBy(_._1).foreach { case (id, ms) =>
      var s = strikes.getOrElse(id, Strike(0, salary.getOrElse(id, 100000.0), active = true, -1))
      ms.sortBy(m => (m.tsMs, m.text)).foreach { m =>
        val t = Instant.ofEpochMilli(m.tsMs).atZone(ZoneOffset.UTC)
        val month = t.getYear * 12 + t.getMonthValue
        if (s.lastMonth != -1 && month > s.lastMonth && s.active) s = s.copy(strikes = 0)
        s = s.copy(lastMonth = math.max(s.lastMonth, month))
        val words = m.text.toLowerCase.split("[^a-z0-9_]+")
        if (s.active && words.exists(EtlGen.Reserved.contains)) {
          val n = s.strikes + 1
          s = Strike(n, s.salary * 0.9, n < 10, s.lastMonth)
          flagged += EtlModel.flaggedLine(id, m.text, m.tsMs, n, s.salary,
            if (s.active) "Active" else "INACTIVE")
        }
      }
      strikes(id) = s
    }
  }

  private def weekday(d: LocalDate) = d.getDayOfWeek != DayOfWeek.SATURDAY &&
    d.getDayOfWeek != DayOfWeek.SUNDAY

  def dimLines: Seq[String] = dim.map(g => EtlModel.dimLine(g.id, g.designation,
    g.start, g.end, g.salary, g.status, 0, g.salary)).toSeq

  def leaveLines: Seq[String] = leave.map { case ((id, d), st) => s"$id|$d|$st" }.toSeq

  def activeReport: Set[String] =
    dim.filter(_.status == "Active").groupBy(_.designation)
      .map { case (k, g) => s"$k|${g.size}" }.toSet

  def upcomingReport(run: LocalDate): Set[String] = {
    val end = LocalDate.of(run.getYear, 12, 31)
    val hol = calendar.filter(h => h.isAfter(run) && h.getYear == run.getYear &&
      weekday(h)).toSet
    val remaining = Iterator.iterate(run)(_.plusDays(1)).takeWhile(!_.isAfter(end))
      .count(d => weekday(d) && !hol.contains(d))
    leave.toSeq.collect { case ((id, d), "ACTIVE") if d.isAfter(run) &&
        d.getYear == run.getYear && weekday(d) && !hol.contains(d) => id }
      .groupBy(identity).collect {
        case (id, ds) if ds.size.toDouble / remaining * 100 > 8 => s"$id|${ds.size}"
      }.toSet
  }

  private def quotaReport(run: LocalDate): Set[String] = {
    val available = quota.filter(_.year == run.getYear).groupBy(_.id)
      .map { case (id, qs) => id -> qs.map(_.quota.toLong).sum }
    val availed = leave.toSeq.collect { case ((id, d), "ACTIVE")
      if d.getYear == run.getYear => id }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    available.flatMap { case (id, av) =>
      availed.get(id).flatMap { used =>
        val pct = BigDecimal(used.toDouble / av * 100)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (pct > 80) Some(s"$id|$av|$used|$pct") else None
      }
    }.toSet
  }
}

object EtlModel {
  def dimLine(id: Long, designation: String, start: Long, end: Option[Long],
              salary: Long, status: String, strikes: Int, updated: Long): String =
    s"$id|$designation|$start|${end.fold("NULL")(_.toString)}|$salary|$status|" +
      s"$strikes|$updated|NULL"

  def flaggedLine(id: Long, text: String, tsMs: Long, strike: Int,
                  salary: Double, status: String): String =
    s"$id|$text|$tsMs|$strike|$salary|$status"
}
