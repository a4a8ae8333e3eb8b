package ragbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last stdout line:
  *
  *   Main --workload sync|bulk --seed N --seconds S --trace 0|1
  *        [--work DIR] [--out DIR]
  *
  * `--trace 0` prints the end-to-end metrics of one measured window.
  * `--trace 1` sends the window's ops alternately to a traced and an
  * untraced window, and prints the per-layer metrics of the traced one
  * plus the tracing overhead between the two. A failed check or a
  * failed op exits 1; bad arguments exit 2; a run that throws before it
  * has a result exits 4. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, scale: Scale, work: String, out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val known = Set("--workload", "--seed", "--seconds", "--trace", "--work",
      "--out")
    require(args.length % 2 == 0 && m.keySet.subsetOf(known),
      s"arguments come in pairs, keys among ${known.mkString(" ")}")
    require(Workload.Names.contains(need("--workload")),
      s"--workload takes one of ${Workload.Names.mkString(", ")}")
    require(Set("0", "1")(need("--trace")), "--trace takes 0 or 1")
    val seconds = need("--seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    Args(need("--workload"), need("--seed").toLong, seconds,
      need("--trace") == "1", Scale.Full,
      m.getOrElse("--work", ".ragbench_work/run"),
      m.getOrElse("--out", ".ragbench_out"))
  }

  def session(work: String, traced: Boolean): SparkSession = {
    // Spark keeps 20 frames of a job's call stack from the first frame
    // outside Spark; the graft frame that fired the job can sit deeper
    if (traced) System.setProperty("spark.callstack.depth", "400")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("ragbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(s"$work/spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(s"$work/warehouse").getAbsolutePath)
      // the traced run reads file counts back from the SQL status store
      .config("spark.sql.ui.retainedExecutions",
        if (traced) "1000000" else "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    graft.plans.WindowTopK.enable(spark)
    spark
  }

  /** The result: (correct, attempted, failed, metrics name → (value, unit)). */
  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]) {
    def line: String = Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(metrics.map { case (n, v, u) =>
        s"${Json.str(n)}: ${Json.obj("value" -> v, "unit" -> u)}"
      }.mkString("{", ", ", "}")))
  }

  def run(a: Args): Result = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    deleteRecursively(new File(a.work))
    val t0 = System.currentTimeMillis()
    val spark = session(a.work, a.trace)
    try {
      val run = new Run(spark, a.work, a.scale, a.seed)
      run.phases.add(("jvm", (t0 - jvmStart) / 1e3))
      run.phases.add(("session", (System.currentTimeMillis() - t0) / 1e3))
      val wl = Workload(a.workload, run)
      wl.setup()
      val warm = new Window
      val warmup = run.phase("warmup") { Workload.warmUp(wl, warm) }
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
      val plain = new Window
      val traced = new Window
      val tracer = if (a.trace) Some(new Tracer(spark)) else None
      run.tracer = tracer
      val ticks0 = Metrics.cpuTicks()
      Workload.measure(wl, run, plain, tracer.map(_ => traced), a.seconds)
      val ticks1 = Metrics.cpuTicks()
      run.tracer = None
      run.phases.add(("window_cpu_steal_pct", 100.0 * (ticks1._2 - ticks0._2) /
        math.max(1L, ticks1._1 - ticks0._1 + ticks1._2 - ticks0._2)))
      run.phase("check") { wl.check() }
      val e2e = Map("setup_s" -> setupS) ++ wl.endToEnd(plain)
      val trace = tracer.map(t => (t, t.finish()))
      val measured = trace match {
        case Some((t, jobs)) =>
          // both windows take their ops in turn (ABBA), so the warm-up
          // still under way weighs on both alike
          def overhead(kind: String) = {
            val u = Stats.median(plain.ms(kind))
            100 * (Stats.median(traced.ms(kind)) - u) / u
          }
          val layer = Metrics.perLayer(wl.opKind, jobs, t.allSpans, t.ops) ++
            wl.perLayer(traced, jobs, t.allSpans) ++ Map(
              "jvm.peak_rss_mb" -> Metrics.peakRssMb(),
              "trace.overhead_op_p50_pct" -> overhead(wl.opKind),
              "trace.overhead_read_p50_pct" -> overhead(wl.readKind))
          Metrics.PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
        case None => Metrics.EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      }
      val result = Result(run.correct(measured.map(_._2)), run.attempted.get,
        run.failed.get, measured)
      Report.write(a, wl, run, warmup, warm, plain, traced, e2e, result, trace)
      Report.summary(a, wl, run, warmup, plain, e2e, result)
      result
    } finally spark.stop()
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val a = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"ragbench: ${e.getMessage}")
        sys.exit(2)
    }
    val result = try run(a) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println("ragbench: the run failed before it had a result")
        e.printStackTrace()
        sys.exit(4)
    }
    println(result.line)
    System.out.flush()
    sys.exit(if (result.correct) 0 else 1)
  }
}
