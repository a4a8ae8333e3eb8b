package ragbench

import java.io.{File, PrintWriter}
import scala.jdk.CollectionConverters._

/** The run's sidecar record under `--out` and its human summary. */
object Report {
  def name(a: Main.Args): String =
    s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"

  def write(a: Main.Args, wl: Workload, run: Run, warmup: Workload.Warmup,
      warm: Window, plain: Window, traced: Window, e2e: Map[String, Double],
      result: Main.Result,
      trace: Option[(Tracer, Seq[Tracer.JobRec])]): Unit = {
    val dir = new File(a.out)
    dir.mkdirs()
    val failures = run.failures.asScala.toSeq.map { case (op, cls, msg) =>
      Map("op" -> op, "exception" -> cls, "message" -> msg)
    }
    val layers = trace.map { case (tracer, jobs) =>
      val spans = tracer.allSpans
      // span kinds: count, wall, the counters of their jobs, and which
      // lazily built work their actions ran
      val kinds = spans.groupBy(_.kind).map { case (k, ss) =>
        val js = jobs.filter(_.span.exists(_.kind == k))
        val c = Tracer.sumBy(js)(_ => k).getOrElse(k, new Counters)
        k -> Json.Raw(Json.obj(
          "spans" -> ss.length, "wall_ms" -> ss.map(_.wallMs).sum,
          "layer" -> ss.head.layer,
          "executes_deferred" -> ss.head.deferred,
          "jobs_by_layer" -> js.groupBy(_.layer).map { case (l, x) => l -> x.length },
          "counters" -> Json.Raw(c.toJson)))
      }
      val byLayer = Tracer.sumBy(jobs)(_.layer).map { case (l, c) =>
        l -> Json.Raw(c.toJson)
      }
      val spansFile = new File(dir, s"${name(a)}-spans.jsonl")
      val w = new PrintWriter(spansFile, "UTF-8")
      try spans.foreach { sp =>
        val js = jobs.filter(_.span.exists(_.id == sp.id))
        w.println(Json.obj("id" -> sp.id, "kind" -> sp.kind,
          "layer" -> sp.layer, "op" -> sp.op, "t0_ms" -> sp.t0,
          "wall_ms" -> sp.wallMs, "deferred" -> sp.deferred,
          "jobs" -> js.map(j => Json.Raw(Json.obj("job" -> j.jobId,
            "layer" -> j.layer, "ms" -> j.ms,
            "counters" -> Json.Raw(j.c.toJson))))))
      } finally w.close()
      Json.Raw(Json.obj(
        "span_kinds" -> Json.Raw(Json.value(kinds)),
        "layers" -> Json.Raw(Json.value(byLayer)),
        "end_to_end_traced" -> wl.endToEnd(traced),
        "samples_ms_traced" -> traced.all,
        "traced_ops" -> tracer.ops.groupBy(_.kind).map { case (k, os) =>
          k -> os.length },
        "spans_file" -> spansFile.getName))
    }
    val body = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "correct" -> result.correct,
      "attempted" -> result.attempted, "failed" -> result.failed,
      "failed_ops_ratio" ->
        result.failed.toDouble / math.max(1L, result.attempted),
      "failures" -> failures,
      "gate_checks" -> run.gateChecks.get,
      "gate_failures" -> run.gateFailed.take(50),
      "end_to_end" -> e2e,
      "window_s" -> plain.wallS,
      "peak_rss_mb" -> Metrics.peakRssMb(),
      "samples_ms" -> plain.all,
      "details" -> wl.details(plain).map { case (n, v, u) =>
        Json.Raw(Json.obj("name" -> n, "value" -> v, "unit" -> u))
      },
      "phases_s" -> run.phases.asScala.toSeq.map { case (n, v) =>
        Json.Raw(Json.obj(n -> v))
      },
      // the warm-up ran until op times stopped falling (settled) or its
      // time ran out; window_drift shows how far they still moved after
      "warmup" -> Map("op_kind" -> wl.opKind, "op_ms" -> warmup.opMs,
        "seconds" -> warmup.seconds, "settled" -> warmup.settled,
        "samples_ms" -> warm.all),
      "window_drift" -> Workload.drift(plain.ms(wl.opKind)),
      "metrics" -> Json.Raw(result.line),
      "trace" -> layers)
    val w = new PrintWriter(new File(dir, s"${name(a)}.json"), "UTF-8")
    try w.println(body) finally w.close()
  }

  def summary(a: Main.Args, wl: Workload, run: Run, warmup: Workload.Warmup,
      plain: Window, e2e: Map[String, Double], result: Main.Result): Unit = {
    def line(n: String, v: Double, u: String): Unit =
      println(f"[ragbench] ${a.workload}%-5s $n%-36s $v%14.4f $u")
    Metrics.EndToEnd.foreach { case (n, u) => line(n, e2e(n), u) }
    wl.details(plain).foreach { case (n, v, u) => line(n, v, u) }
    line("peak_rss_mb", Metrics.peakRssMb(), "MiB")
    line("failed_ops_ratio",
      result.failed.toDouble / math.max(1L, result.attempted), "ratio")
    run.failures.asScala.take(5).foreach { case (op, cls, msg) =>
      println(s"[ragbench] failed op $op: $cls: $msg")
    }
    run.gateFailed.take(10).foreach(f => println(s"[ragbench] GATE FAILED $f"))
    println(s"[ragbench] warm-up: ${warmup.opMs.length} ${wl.opKind}s, " +
      (if (warmup.settled) "settled" else "stopped by its time cap") +
      warmup.opMs.map(ms => f"${ms / 1e3}%.2f").mkString(" (s: ", " ", ")") +
      f"; window drift ${100 * Workload.drift(plain.ms(wl.opKind))}%+.1f%%")
    println("[ragbench] phases (s): " + run.phases.asScala
      .map { case (n, v) => f"$n $v%.2f" }.mkString(", "))
    println(s"[ragbench] ${run.gateChecks.get} checks, " +
      s"${run.gateFailed.length} failed; record in ${a.out}/${name(a)}.json")
  }
}
