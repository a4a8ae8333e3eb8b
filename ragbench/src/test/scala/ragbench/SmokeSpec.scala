package ragbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every workload end to end at the tiny scale, and the printed metric
  * names and units against `BENCHMARK.json`. */
class SmokeSpec extends AnyFunSuite {
  private val bench = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    bench.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText() -> m.get("unit").asText())

  private def run(workload: String, trace: Boolean): Main.Result =
    Main.run(Main.Args(workload, seed = 3L, seconds = 2.0, trace = trace,
      scale = Scale.Tiny, work = s"target/smoke/$workload-work",
      out = "target/smoke/out"))

  test("BENCHMARK.json declares the workloads and metrics the code prints") {
    assert(bench.get("workloads").elements().asScala.map(_.get("name").asText())
      .toSeq == Workload.Names)
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.PerLayer)
  }

  Workload.Names.foreach { w =>
    test(s"$w runs, passes its gate and prints every end-to-end metric") {
      val r = run(w, trace = false)
      assert(r.correct, s"$w failed its gate")
      assert(r.attempted >= 1 && r.failed == 0)
      assert(r.metrics.map(m => m._1 -> m._3) == declared("end_to_end"))
      assert(r.metrics.forall(m => m._2 > 0), r.metrics)
    }
  }

  test("a traced run prints every per-layer metric and charges jobs to layers") {
    val r = run("sync", trace = true)
    assert(r.correct)
    assert(r.metrics.map(m => m._1 -> m._3) == declared("per_layer"))
    val v = r.metrics.map(m => m._1 -> m._2).toMap
    assert(v("index.jobs") > 0 && v("search.jobs") > 0 && v("rag.jobs") > 0)
    assert(v("ivf.jobs_per_request") > 0 && v("sync.jobs_per_batch") > 0)
    assert(v("sync.optimize_ms") > 0 && v("spark.busy_ms") > 0)
    assert(new File("target/smoke/out/sync-seed3-trace1-spans.jsonl").length > 0)
  }
}
