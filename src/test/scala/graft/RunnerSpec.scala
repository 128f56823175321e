package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.runner.Runner
import graft.runner.Runner.{Daily, Job, Monthly}

class RunnerSpec extends AnyFunSuite with SparkSpec {

  test("cadence registry runs matching jobs in order with retries") {
    val ran = scala.collection.mutable.ArrayBuffer[String]()
    var flaky = 0
    val jobs = Seq(
      Job("a", Daily, (_, rd) => ran += s"a@$rd"),
      Job("b", Daily, (_, _) => {
        flaky += 1
        if (flaky < 3) sys.error("transient")
        ran += "b"
      }),
      Job("m", Monthly, (_, _) => ran += "m"),
      Job("dead", Daily, (_, _) => sys.error("always down")),
      // deterministic failures: analysis error and a `require` guard
      Job("missing", Daily, (s, _) => s.table("no_such_table")),
      Job("guard", Daily, (_, _) => require(false, "bad input"))
    )
    val res = Runner.runCadence(spark, jobs, Daily, "2024-06-01",
      maxRetries = 3)
    assert(ran.toSeq == Seq("a@2024-06-01", "b")) // monthly not run
    assert(res.map(r => (r.name, r.ok, r.attempts)) ==
      Seq(("a", true, 1), ("b", true, 3), ("dead", false, 4),
        ("missing", false, 1), ("guard", false, 1)))
    assert(res(2).error.contains("always down"))
  }
}
