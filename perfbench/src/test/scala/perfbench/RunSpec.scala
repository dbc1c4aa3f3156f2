package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RunSpec extends AnyFunSuite with LocalSpark {

  test("an exception counts as one failed operation and the run goes on") {
    val run = new Run(spark, Options())
    assert(run.attempt("ok")(42) === Some(42))
    assert(run.attempt("boom")(throw new IllegalStateException("boom")) === None)
    run.fail("wrong output")
    assert((run.attempted, run.failed) === ((2L, 2L)))
  }

  test("a run prints every metric of its mode, failures included") {
    val r = Result(attempted = 3, failed = 1, metrics = Map("setup_s" -> 1.5), traced = false)
    val json = r.json
    assert(json.startsWith("""{"correct": false, "attempted": 3, "failed": 1, "metrics": {"""))
    assert(Metrics.endToEnd.forall { case (n, u) => json.contains(s""""$n": {"value": """) && json.contains(s""""unit": "$u"""") })
    assert(json.contains(""""setup_s": {"value": 1.5, "unit": "s"}"""))
    assert(json.contains(""""op_p50_s": {"value": 0.0, "unit": "s"}"""))
  }
}
