package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Shared

/** Generated code stays cached across query passes: Engine.session sizes
  * Spark's JVM-wide codegen class cache above the working set of a pass,
  * so repeating the passes of a long-lived engine compiles nothing new.
  * With Spark's default of 100 entries each pass of this mix evicts and
  * recompiles its ~200 classes.
  */
class CodegenCacheSpec extends AnyFunSuite with SparkSpec {

  // The benchmark's query mix: three construction-bound builders and two
  // shuffle-bound queries.
  private val mix = Seq("q111_canonical_by_length", "q197_mad_outliers",
    "q268_greedy_coverage", "q22_ngram_jaccard", "q101_salted_join")

  private def pass(): Long = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    mix.foreach { q =>
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
    }
    Shared.reset(spark)
    compiles.getCount - before
  }

  test("a third pass over the benchmark mix compiles no generated class") {
    val first = pass()
    pass()
    val third = pass()
    assert(third == 0,
      s"third pass compiled $third classes (first pass: $first)")
  }
}
