package graft.runner

import org.apache.spark.sql.{AnalysisException, SparkSession}

/** Cadence-based job registry (SURVEY.md §2.11 C1-C4): the engine-side
  * replacement for the reference's three Airflow DAGs. Jobs are named
  * thunks grouped by cadence; `runDate` is threaded explicitly so every
  * run is deterministic and replayable (no `current_date()` capture).
  *
  * Retries (C4) are a thin wrapper here; real scheduling/backoff belongs
  * to whatever invokes the runner (cron, Airflow, dagster) — the engine
  * only guarantees jobs are idempotent (overwrite/upsert sinks). Only
  * failures that a rerun can fix are retried: an `AnalysisException`
  * (missing table or column, bad plan) or an `IllegalArgumentException`
  * (a `require` guard) fails the job on its first attempt.
  */
object Runner {

  sealed trait Cadence
  case object Daily extends Cadence
  case object Monthly extends Cadence
  case object Yearly extends Cadence

  final case class Job(name: String, cadence: Cadence,
                       run: (SparkSession, String) => Unit)

  final case class JobResult(name: String, ok: Boolean, attempts: Int,
                             error: Option[String])

  /** Run all jobs of `cadence` in registration order with bounded retries
    * of transient failures (reference default_args: 3 retries
    * daily/monthly, 2 yearly); deterministic failures are not retried.
    */
  def runCadence(spark: SparkSession, jobs: Seq[Job], cadence: Cadence,
                 runDate: String, maxRetries: Int = 3): Seq[JobResult] =
    jobs.filter(_.cadence == cadence).map { job =>
      var attempts = 0
      var lastError: Option[String] = None
      var ok = false
      var retryable = true
      while (!ok && retryable && attempts <= maxRetries) {
        attempts += 1
        try { job.run(spark, runDate); ok = true; lastError = None }
        catch { case e: Exception =>
          lastError = Some(e.getMessage)
          retryable = !deterministic(e)
        }
      }
      JobResult(job.name, ok, attempts, lastError)
    }

  /** Failures a rerun of the same job on the same inputs repeats. */
  private def deterministic(e: Exception): Boolean = e match {
    case _: AnalysisException | _: IllegalArgumentException => true
    case _ => false
  }
}
