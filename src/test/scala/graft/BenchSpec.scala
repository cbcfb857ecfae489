package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite
import graft.Bench._
import graft.spark.TaskMeter

/** [[Bench.records]]: the stdout line and the full record parse as JSON,
  * with the extraction figures inside `extract` and every other section
  * at the top level. */
class BenchSpec extends AnyFunSuite {

  test("both bench records close extract after clean_reps and keep the other sections top-level") {
    val level = Level(Vector(Rep(1000.0, 500.0, 0.1, clean = true), Rep(900.0, 480.0, 0.2, clean = true)))
    val counts = TaskMeter.Counts(jobs = 3, stages = 3, tasks = 12, cpuNs = 2000000000L,
      maxTaskMs = 40, medianTaskMs = 20.0, shuffleReadBytes = 100, shuffleWriteBytes = 200,
      spillBytes = 0, drained = true)
    val q = QTime(QRun(1.25, counts, 0.1, 1.0, clean = true), clean = true, coherent = true, runs = 2)
    val skew = SkewResult(1, 4000, 4000, 9.5, 4.2, 9000, 3000, drained = true)
    val (line, full) = Bench.records("sf0.1", 8000, level, level, level, level, level,
      anomaly = false, stealPct = 0.3, qTimes = Seq("q1_pricing" -> q), skew = skew,
      fullPath = "BENCH_FULL.json")

    def keys(v: JValue): Set[String] = v match {
      case JObject(fields) => fields.map(_._1).toSet
      case other => fail(s"not an object: $other")
    }
    val top = Set("metric", "queries", "extract", "skew_fanout", "queries_dirty", "host_steal_pct",
      "host_cores")
    Seq("line" -> parse(line), "full" -> parse(full)).foreach { case (what, record) =>
      assert(top.subsetOf(keys(record)), s"$what: ${keys(record)}")
      val extract = keys(record \ "extract")
      assert(Set("docs", "scaling_efficiency_2_8", "clean_reps").subsetOf(extract), s"$what: $extract")
      assert((extract & top).isEmpty, s"$what: $extract")
      assert(record \ "host_cores" == JInt(Runtime.getRuntime.availableProcessors))
    }
    assert(parse(line) \ "full_record" == JString("BENCH_FULL.json"))
    assert(Set("reps", "query_meta", "protocol").subsetOf(keys(parse(full))))
    assert(parse(full) \ "query_meta" \ "q1_pricing" \ "jobs" == JInt(3))
    assert(parse(full) \ "extract" \ "query_meta" == JNothing)
  }
}
