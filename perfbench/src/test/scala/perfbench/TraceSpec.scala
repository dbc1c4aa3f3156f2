package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with LocalSpark {

  test("listener counts are attributed to the enclosing span") {
    val sc = spark.sparkContext
    val t = new Tracer(sc)
    t.start()
    sc.parallelize(1 to 10, 2).count() // outside any span
    t.span("outer") {
      sc.parallelize(1 to 100, 4).count()
      t.span("inner") {
        sc.parallelize(1 to 10, 2).collect()
        sc.parallelize(1 to 100, 3).map(x => (x % 5, 1)).reduceByKey(_ + _, 2).collect()
      }
    }
    t.stop() // waits for the events already posted
    val outer = t.spans.find(_.name == "outer").get
    val inner = t.spans.find(_.name == "inner").get
    assert(inner.parent === outer.id)
    assert(t.own(outer.id)("jobs") === 1)
    assert(t.own(outer.id)("tasks") === 4)
    assert(t.own(inner.id)("jobs") === 2)
    assert(t.own(inner.id)("stages") === 3)
    assert(t.own(inner.id)("tasks") === 2 + 3 + 2)
    assert(t.own(inner.id)("shuffle_write_bytes") > 0)
    assert(t.total(outer)("jobs") === 3)
    assert(t.total(outer)("tasks") === 11)
    assert(t.own(0L).isEmpty, "jobs outside a span are not attributed to one")
  }

  test("spans record nothing while the tracer is stopped") {
    val t = new Tracer(spark.sparkContext)
    assert(t.span("idle")(spark.range(5).count()) === 5)
    assert(t.spans.isEmpty)
  }

  test("an SQL execution's counts name the path it writes") {
    val sc = spark.sparkContext
    val t = new Tracer(sc)
    val out = java.nio.file.Files.createTempDirectory("written").resolve("table_a").toString
    t.start()
    t.span("write") {
      spark.range(0, 50, 1, 2).count()
      spark.range(0, 50, 1, 2).write.parquet(out)
    }
    t.stop()
    val span = t.spans.find(_.name == "write").get
    val execs = t.executions(span.id)
    assert(execs.map(_.writes.isDefined) === Seq(false, true))
    assert(execs.last.writes.get.endsWith("/table_a"))
    assert(execs.last.counts("output_records") === 50)
    assert(Tracer.sum(execs.map(_.counts))("jobs") === t.own(span.id)("jobs"))
  }
}
