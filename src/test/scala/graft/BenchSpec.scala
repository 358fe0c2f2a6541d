package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The headline benchmark's entry point, run for one round over the
  * smallest test data, and its summary arithmetic. */
class BenchSpec extends SparkSpec {

  test("summarize: quartiles of 1..7 interpolate between order statistics") {
    val s = Bench.summarize(Seq(7.0, 3.0, 1.0, 5.0, 2.0, 6.0, 4.0))
    assert(s == Bench.Summary(median = 4.0, min = 1.0, max = 7.0, q1 = 2.5, q3 = 5.5))
    assert(Bench.summarize(Seq(1.0, 2.0)).median == 1.5)
    assert(Bench.summarize(Seq(0.3)) == Bench.Summary(0.3, 0.3, 0.3, 0.3, 0.3))
    intercept[IllegalArgumentException](Bench.summarize(Nil))
  }

  test("one round publishes every headline entry with this run's summary and the gate") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val out = Bench.run(spark, sf, cpus = 4, rounds = 1, Bench.HeadlineEntries)
    val b = new ObjectMapper().readTree(out.json)
    assert(b.get("rounds").asInt == 1)
    assert(b.get("env").get("bench_cpus").isInt && b.get("env").get("bench_cpus").asInt == 4)
    val h = b.get("headline")
    assert(h.get("bench_cpus").asInt == 4)
    val entries = b.get("entries")
    assert(entries.fieldNames.asScala.toSeq == Bench.HeadlineEntries)
    Bench.HeadlineEntries.foreach { n =>
      val e = entries.get(n)
      Seq("median", "min", "max", "q1", "q3").foreach(k =>
        assert(e.get(k).isNumber && e.get(k).asDouble > 0, s"$n.$k"))
      assert(e.get("reps").size == 1 && e.get("steal_ms").size == 1, n)
      assert(e.get("min").asDouble <= e.get("median").asDouble)
      assert(e.get("median").asDouble <= e.get("max").asDouble)
      assert(b.get("queries").get(n).asDouble == e.get("median").asDouble)
    }
    val x10 = entries.get("q06_x10_6Mrows").get("median").asDouble
    assert(h.get("q06_x10_6Mrows").asDouble == x10)
    assert(math.abs(h.get("x10_vs_baseline_sf1").asDouble - x10 / 0.707) < 1e-3)
    assert(h.get("gate_ok").asBoolean == (x10 / 0.707 < 2.0))
    assert(b.get("value").asDouble == entries.get("q06_q1_flagship").get("median").asDouble)
    val stages = new ObjectMapper().readTree(out.stagesJson)
    assert(stages.fieldNames.asScala.toSeq == Bench.HeadlineEntries)
  }

  test("a command-line name may be any SparkEntry query; an unknown one fails loudly") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/lineitem.parquet").exists())
    val out = Bench.run(spark, sf, cpus = 4, rounds = 1, Seq("q02_project_arith"))
    val b = new ObjectMapper().readTree(out.json)
    assert(b.get("entries").fieldNames.asScala.toSeq == Seq("q02_project_arith"))
    assert(b.get("headline").get("gate_ok").isNull)
    intercept[IllegalArgumentException](
      Bench.run(spark, sf, cpus = 4, rounds = 1, Seq("q_no_such_entry")))
  }
}
