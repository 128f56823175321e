package graft.perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Spark counters summed over the stages of the jobs a span launched. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, inputRows, outputBytes = 0L

  def +=(o: Counters): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes; inputRows += o.inputRows
    outputBytes += o.outputBytes
  }

  def snapshot: Counters = { val c = new Counters; c += this; c }
}

/** One timed call into a layer. `parent` is -1 for a top-level span. */
final class Span(val id: Int, val layer: String, val name: String,
                 val parent: Int, val startNs: Long) {
  var endNs = 0L
  var childNs = 0L
  val counters = new Counters
  def durNs: Long = endNs - startNs
  def selfNs: Long = durNs - childNs
}

/** Spans around the benchmark's calls into the engine, plus a listener
  * that charges every stage to the span that launched its job.
  *
  * A span sets the job-group id of the driver thread, so a job carries the
  * span that launched it. Jobs with a foreign group (streaming micro-batches
  * run under the query's own run id) are charged to the span active on the
  * driver. With tracing off, spans only run their body; the listener still
  * sums the totals the end-to-end metrics need.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val runId: String = java.util.UUID.randomUUID().toString.take(8)
  private val GroupKey = "spark.jobGroup.id"
  private val GroupPrefix = s"perfbench-$runId-"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var current: Span = _

  val total = new Counters
  private val stageSpan = new ConcurrentHashMap[Int, Span]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(Option(e.properties).map(_.getProperty(GroupKey)).orNull)
      total.synchronized(total.jobs += 1)
      if (span != null) {
        span.counters.synchronized(span.counters.jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, span))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val m = info.taskMetrics
      if (m != null) {
        val c = new Counters
        c.stages = 1; c.tasks = info.numTasks
        c.cpuNs = m.executorCpuTime; c.runMs = m.executorRunTime
        c.gcMs = m.jvmGCTime
        c.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead = m.shuffleReadMetrics.totalBytesRead
        c.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes = m.inputMetrics.bytesRead
        c.inputRows = m.inputMetrics.recordsRead
        c.outputBytes = m.outputMetrics.bytesWritten
        total += c
        val span = stageSpan.get(info.stageId)
        if (span != null) span.counters += c
      }
    }
  })

  private def spanOf(group: String): Span =
    if (!enabled) null
    else if (group != null && group.startsWith(GroupPrefix))
      spans.synchronized(spans(group.stripPrefix(GroupPrefix).toInt))
    else current

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = spans.synchronized {
        val s = new Span(spans.size, layer, name, parent.fold(-1)(_.id),
          System.nanoTime())
        spans += s
        s
      }
      stack = s :: stack
      current = s
      val prevGroup = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, GroupPrefix + s.id)
      try body
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(GroupKey, prevGroup)
        stack = stack.tail
        parent.foreach(_.childNs += s.durNs)
        current = parent.orNull
      }
    }

  /** Run `body` as a top-level unit span (a pass or a day); returns the
    * span when tracing. */
  def unit(name: String)(body: => Unit): Option[Span] =
    if (!enabled) { body; None }
    else {
      val id = spans.synchronized(spans.size)
      span("bench", name)(body)
      Some(spans.synchronized(spans(id)))
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Spans nested under `root`, itself included. */
  def subtree(root: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    walk(root)
  }

  /** JSON lines, one per span, then one line of per-layer self times. */
  def write(path: String): Unit = {
    val out = new PrintWriter(path)
    try {
      all.foreach { s =>
        val c = s.counters
        out.println(Main.json.writeValueAsString(ListMap(
          "run" -> runId, "id" -> s.id, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "self_s" -> s.selfNs / 1e9, "jobs" -> c.jobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9,
          "shuffle_write_bytes" -> c.shuffleWrite,
          "shuffle_read_bytes" -> c.shuffleRead,
          "output_bytes" -> c.outputBytes)))
      }
      out.println(Main.json.writeValueAsString(ListMap("run" -> runId,
        "self_s_by_layer" -> ListMap(selfByLayer(all).toSeq.sortBy(_._1): _*))))
    } finally out.close()
  }

  def selfByLayer(ss: Seq[Span]): Map[String, Double] =
    ss.groupBy(_.layer).map { case (l, xs) => l -> xs.map(_.selfNs).sum / 1e9 }
}
