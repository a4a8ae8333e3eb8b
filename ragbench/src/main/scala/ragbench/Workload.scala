package ragbench

/** One benchmark workload. [[setup]] builds inputs and indexes; [[step]]
  * runs one workload op (a `sync` cycle, a `bulk` iteration); [[check]]
  * runs the correctness gate after the last timed op. */
trait Workload {
  def name: String
  /** Sample kind of one whole workload op: its times show the warm-up
    * settling, and its median is the traced run's op overhead. */
  def opKind: String
  /** Sample kind of one read, for the traced run's read overhead. */
  def readKind: String
  /** The warm-up runs at least this many ops ... */
  def warmMinOps: Int
  /** ... and stops starting new ones after this many seconds. */
  def warmCapS: Double

  def setup(): Unit
  /** Runs one op, recording its samples in `w`, with the tracer attached
    * when `traced`. */
  def step(w: Window, traced: Boolean): Unit
  /** Whether the measured windows hold what the workload's figures need
    * (`traced` is the traced window of a `--trace 1` run). */
  def enough(plain: Window, traced: Option[Window]): Boolean
  def check(): Unit

  /** Values of the end-to-end metrics that every workload reports
    * (`throughput_per_s`, `read_p50_ms`, `recall_at_5`,
    * `stored_bytes_per_live_byte`) over one window. */
  def endToEnd(w: Window): Map[String, Double]

  /** Workload-specific figures under their own names, with units. */
  def details(w: Window): Seq[(String, Double, String)]

  /** Workload-specific per-layer values of the traced window. */
  def perLayer(w: Window, jobs: Seq[Tracer.JobRec],
      spans: Seq[Span]): Map[String, Double] = Map.empty
}

object Workload {
  val Names: Seq[String] = Seq("sync", "bulk")

  def apply(name: String, run: Run): Workload = name match {
    case "sync" => new Sync(run)
    case "bulk" => new Bulk(run)
    case other =>
      throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** Ops each window of a traced run holds at least: one ABBA round, so
    * a drift over the window weighs on both alike. */
  val TracedMinOps = 2

  /** An op counts as settled when it is at most this much faster than
    * the fastest op before it. */
  val Plateau = 0.05

  /** Warm-up evidence: every warm-up op's time, how long it took, and
    * whether it stopped because op times stopped falling (`settled`) or
    * because it ran out of time. */
  final case class Warmup(opMs: Seq[Double], seconds: Double,
      settled: Boolean)

  /** Runs ops until their times stop falling (an op no more than
    * [[Plateau]] faster than the fastest before it), after at least
    * `warmMinOps` ops; from `warmCapS` seconds on it starts no new op. */
  def warmUp(wl: Workload, w: Window): Warmup = {
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var steps = 0
    var settled = false
    do {
      val before = w.ms(wl.opKind)
      wl.step(w, traced = false)
      steps += 1
      val after = w.ms(wl.opKind)
      settled = before.nonEmpty && after.length > before.length &&
        after.last >= (1 - Plateau) * before.min
    } while (steps < wl.warmMinOps || !(settled || elapsedS >= wl.warmCapS))
    w.close()
    Warmup(w.ms(wl.opKind), elapsedS, settled)
  }

  /** Runs ops until `seconds` have gone and the windows hold what the
    * figures need, at most 60 s longer. In a traced run each op goes to
    * the traced or the untraced window as [[Run.traceNext]] says. */
  def measure(wl: Workload, run: Run, plain: Window, traced: Option[Window],
      seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val cap = deadline + 60L * 1000000000L
    plain.t0 = System.nanoTime()
    traced.foreach(_.t0 = plain.t0)
    do {
      val on = traced.isDefined && run.traceNext(wl.opKind)
      wl.step(if (on) traced.get else plain, on)
    } while (System.nanoTime() < cap &&
      (System.nanoTime() < deadline || !wl.enough(plain, traced)))
    plain.close()
    traced.foreach(_.close())
  }

  /** Median of the later half of `xs` over that of the earlier half,
    * minus 1: how far op times still fell (< 0) or rose over a window. */
  def drift(xs: Seq[Double]): Double =
    if (xs.length < 2) Double.NaN
    else {
      val (a, b) = xs.splitAt(xs.length / 2)
      Stats.median(b.takeRight(a.length)) / Stats.median(a) - 1
    }
}
