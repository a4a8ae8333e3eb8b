package ragbench

/** The metric names and units the benchmark prints; `BENCHMARK.json`
  * lists the same (the benchmark's tests hold the two together). Every
  * workload prints every metric of its mode, so names are generic and
  * each workload gives them its own reading (see README.md). */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "read_p50_ms" -> "ms",
    "recall_at_5" -> "ratio",
    "stored_bytes_per_live_byte" -> "ratio")

  /** Counters charged to each layer, per workload op. */
  val LayerCounters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "job_ms" -> "ms", "span_ms" -> "ms",
    "tasks" -> "count", "executor_cpu_ms" -> "ms",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "input_bytes" -> "bytes", "input_records" -> "records",
    "output_bytes" -> "bytes", "files_read" -> "files",
    "files_written" -> "files")

  val PerLayer: Seq[(String, String)] =
    Layers.All.flatMap(l => LayerCounters.map { case (c, u) => s"$l.$c" -> u }) ++
    Seq(
      "unattributed.jobs" -> "count",
      "spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.scheduler_delay_ms" -> "ms", "spark.busy_ms" -> "ms",
      "spark.driver_ms" -> "ms",
      "jvm.gc_ms" -> "ms", "jvm.peak_rss_mb" -> "MiB",
      "ivf.jobs_per_request" -> "count",
      "ivf.files_read_per_request" -> "files",
      "ivf.input_records_per_request" -> "records",
      "request.driver_ms" -> "ms",
      "sync.jobs_per_batch" -> "count",
      "sync.bytes_written_per_changed_row" -> "bytes",
      "sync.layout_files" -> "files",
      "sync.optimize_ms" -> "ms",
      "sync.optimize_bytes_rewritten" -> "bytes",
      "sync.embed_ms" -> "ms",
      "bulk.operators_input_bytes_per_raw_byte" -> "ratio",
      "bulk.embed_fit_ms" -> "ms",
      "bulk.build_jobs" -> "count",
      "bulk.build_output_bytes" -> "bytes",
      "trace.overhead_op_p50_pct" -> "%",
      "trace.overhead_read_p50_pct" -> "%")

  /** Per-layer values per traced workload op of kind `opKind` (a `sync`
    * cycle, a `bulk` iteration): only the jobs, spans and wall of those
    * ops count. A `sync` compaction is an op of its own and has its own
    * metrics. */
  def perLayer(opKind: String, jobs: Seq[Tracer.JobRec], spans: Seq[Span],
      tracedOps: Seq[TracedOp]): Map[String, Double] = {
    val main = tracedOps.filter(_.kind == opKind)
    val ids = main.map(_.id).toSet
    def mine(op: Option[TracedOp]) = op.exists(o => ids(o.id))
    val ops = math.max(1, main.length).toDouble
    val myJobs = jobs.filter(j => mine(j.op))
    val byLayer = Tracer.sumBy(myJobs)(_.layer)
    val layers = Layers.All.flatMap { l =>
      val c = byLayer.getOrElse(l, new Counters)
      val spanMs = spans.filter(sp => sp.layer == l && mine(sp.traced))
        .map(_.wallMs).sum
      Seq(
        "jobs" -> c.jobs.toDouble, "job_ms" -> c.jobMs.toDouble,
        "span_ms" -> spanMs.toDouble, "tasks" -> c.tasks.toDouble,
        "executor_cpu_ms" -> c.cpuMs, "shuffle_bytes" -> c.shuffleBytes.toDouble,
        "spill_bytes" -> c.spillBytes.toDouble,
        "input_bytes" -> c.inputBytes.toDouble,
        "input_records" -> c.inputRecords.toDouble,
        "output_bytes" -> c.outputBytes.toDouble,
        "files_read" -> c.filesRead.toDouble,
        "files_written" -> c.filesWritten.toDouble,
      ).map { case (k, v) => s"$l.$k" -> v / ops }
    }
    val all = new Counters
    byLayer.values.foreach(all.add)
    val wall = main.map(o => o.t1 - o.t0).sum
    val busy = main.map(o => Tracer.busyMs(o.t0, o.t1, myJobs)).sum
    layers.toMap ++ Map(
      "unattributed.jobs" ->
        byLayer.get("unattributed").map(_.jobs).getOrElse(0L) / ops,
      "spark.jobs" -> all.jobs / ops,
      "spark.tasks" -> all.tasks / ops,
      "spark.scheduler_delay_ms" -> all.schedulerDelayMs / ops,
      "spark.busy_ms" -> busy / ops,
      "spark.driver_ms" -> (wall - busy) / ops,
      "jvm.gc_ms" -> main.map(_.gcMs).sum / ops)
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MiB; 0 elsewhere. */
  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)

  /** (busy, stolen) CPU ticks of the whole host so far, from Linux
    * `/proc/stat`; stolen ticks are time the hypervisor gave to other
    * guests. (0, 0) elsewhere. */
  def cpuTicks(): (Long, Long) =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
      } finally src.close()
    }.getOrElse((0L, 0L))

  /** Total GC time of this JVM so far. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }
}
