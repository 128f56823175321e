package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.concurrent.TrieMap

/** Per-JOB timing probe (optimization-round measurement tool, guide §1):
  * `runMain graft.JobProbe <queryName> [sfDir]` runs the named query
  * once warm and prints every Spark job it launches — start order,
  * wall seconds, and the call site description — separating
  * CONSTRUCTION-time planner actions (collects inside the query
  * builder: quantile sketches, partials fetches, centroid trains) from
  * the final noop-sink job. This is how a "1.8 s query" decomposes
  * into its 5 × 0.3 s planner actions; Bench's per-query wall clock
  * cannot see inside.
  */
object JobProbe {
  private class JobLog extends SparkListener {
    val t0 = TrieMap.empty[Int, (Long, String)]
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]
    // SQL jobs leave `callSite.short` unset, and AQE submits its query
    // stages from a pool thread, so their stages are named after that
    // thread. The call site that started the SQL execution (e.g.
    // "collect at Quantile.scala:120") is its description; a job outside
    // any execution falls back to its result stage, created last.
    private val execSite = TrieMap.empty[String, String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId.toString, s.description)
      case _ =>
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val site = Option(js.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(execSite.get)
        .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("?")
      t0.put(js.jobId, (System.nanoTime(), site))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      t0.remove(je.jobId).foreach { case (s, site) =>
        rows.add(f"job ${je.jobId}%3d  ${(System.nanoTime() - s) / 1e9}%7.3f s  $site")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && SparkEntry.queries.contains(args(0)),
      s"usage: JobProbe <queryName> [sfDir]")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val s = Engine.session("jobprobe", "32")
    if (sys.env.get("SPARK_GRAFT_EAGER").contains("1"))
      graft.queries.Shared.eagerBuilds = true
    try SparkEntry.entry(s).count() catch { case _: Throwable => () }
    // warm run 1 (builds shared artifacts, codegen)
    val tw0 = System.nanoTime()
    SparkEntry.queries(args(0))(s, sfDir)
      .write.format("noop").mode("overwrite").save()
    println(f"warm run ${(System.nanoTime() - tw0) / 1e9}%.2f s")
    // probed run 2: per-job log. Construction actions run during fn();
    // the final job is the noop write.
    val log = new JobLog
    s.sparkContext.addSparkListener(log)
    val t1 = System.nanoTime()
    val df = SparkEntry.queries(args(0))(s, sfDir)
    val tCons = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val tSink = (System.nanoTime() - t2) / 1e9
    Thread.sleep(1000) // drain listener bus
    println(f"construction ${tCons}%.3f s   sink ${tSink}%.3f s   total ${tCons + tSink}%.3f s")
    log.rows.forEach(r => println(r))
    s.stop()
  }
}
