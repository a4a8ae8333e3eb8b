package ragbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Timed samples of one measured window. `kind` names the operation
  * ("request.exact", "sync", "ingest", ...). */
final class Window {
  import Window.Sample
  private val samples = new ConcurrentLinkedQueue[Sample]()
  @volatile var t0: Long = System.nanoTime()
  @volatile var t1: Long = 0L
  /** Workload ops completed in the window (requests, cycles, iterations). */
  val ops = new AtomicLong(0L)
  /** Work units done by those ops (changed rows). */
  val units = new AtomicLong(0L)

  def add(kind: String, ms: Double, op: Long = 0L): Unit =
    samples.add(Sample(kind, ms, op))
  def samplesOf(kind: String): Seq[Sample] =
    samples.asScala.filter(_.kind == kind).toSeq
  def ms(kind: String): Seq[Double] = samplesOf(kind).map(_.ms)
  /** Every sample's milliseconds, by kind, in completion order. */
  def all: Map[String, Seq[Double]] =
    samples.asScala.toSeq.groupBy(_.kind).map { case (k, ss) => k -> ss.map(_.ms) }
  def wallS: Double = (t1 - t0) / 1e9
  def close(): Unit = t1 = System.nanoTime()
}

object Window {
  final case class Sample(kind: String, ms: Double, op: Long)
}

/** State shared by one benchmark run: the session, the working
  * directory, failure accounting, the correctness gate and the tracer
  * (set for the measured window of a `--trace 1` run). */
final class Run(val spark: SparkSession, val work: String,
    val scale: Scale, val seed: Long) {
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  /** (op, exception class, message) of every failed op. */
  val failures = new ConcurrentLinkedQueue[(String, String, String)]()
  /** Failed correctness checks. */
  val gateFailures = new ConcurrentLinkedQueue[String]()
  val gateChecks = new AtomicLong(0L)
  @volatile var tracer: Option[Tracer] = None
  /** True while a traced op runs; spans are opened only then. */
  @volatile private var tracing = false
  private val scheduled = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  /** Phases of the run (set-up steps, warm-up, check) and their seconds,
    * in order. */
  val phases = new ConcurrentLinkedQueue[(String, Double)]()

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases.add((name, (System.nanoTime() - t0) / 1e9))
  }

  /** Runs one counted op. A failure is recorded with its exception and
    * returns None: it never becomes a timing sample. */
  def op[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val r = body
      Some((r, (System.nanoTime() - t0) / 1e6))
    } catch {
      case NonFatal(e) =>
        failed.incrementAndGet()
        failures.add((name, e.getClass.getName, String.valueOf(e.getMessage)))
        None
    }
  }

  /** Whether the next op of `kind` is traced. In a traced run the ops of
    * each kind go traced, untraced, untraced, traced, … (ABBA), so both
    * halves see the same share of a warm-up that is still under way and
    * their difference is the tracer's cost. Always false untraced. */
  def traceNext(kind: String): Boolean = tracer.isDefined && {
    val n = scheduled.computeIfAbsent(kind, _ => new AtomicLong(0L))
      .getAndIncrement()
    n % 4 == 0 || n % 4 == 3
  }

  /** Runs one workload op, with the tracer attached when `traced`. */
  def traced[T](kind: String, traced: Boolean)(body: => T): T =
    tracer match {
      case Some(t) if traced =>
        t.attach(kind)
        tracing = true
        try body
        finally { tracing = false; t.detach() }
      case _ => body
    }

  def span[T](kind: String, layer: String, op: Long,
      deferred: String = "")(body: => T): T =
    tracer match {
      case Some(t) if tracing => t.span(kind, layer, op, deferred)(body)
      case _ => body
    }

  def nextOp(): Long = tracer.map(_.nextOp()).getOrElse(0L)

  /** One correctness check; a failure fails the run. */
  def gate(what: String, failure: Option[String]): Unit = {
    gateChecks.incrementAndGet()
    failure.foreach(f => gateFailures.add(s"$what: $f"))
  }

  def gateFailed: Seq[String] = gateFailures.asScala.toSeq

  /** The run is correct when every check passed, no op failed and every
    * printed metric is a finite number. */
  def correct(metrics: Seq[Double]): Boolean =
    gateFailed.isEmpty && failed.get == 0 &&
      metrics.forall(v => !v.isNaN && !v.isInfinite)
}

/** Sizes of one run. `Full` is the benchmark; `Tiny` is the size of the
  * benchmark's own smoke tests. */
final case class Scale(
    syncDocs: Int, syncPool: Int, syncReads: Int, syncOptimizeEvery: Int,
    bulkDocs: Int, bulkQuestions: Int,
    recallQuestions: Int, recallFloor: Double)

object Scale {
  val Full = Scale(
    syncDocs = 3000, syncPool = 400, syncReads = 4, syncOptimizeEvery = 3,
    bulkDocs = 2000, bulkQuestions = 210,
    // IVF recall@5 with default kind options depends on the corpus the
    // seed draws: at the benchmark's introduction 30 runs measured
    // 0.684–0.776 over 200 questions (sd 0.023) and 33 runs 0.702–0.760
    // (mean 0.726, sd 0.013) over 1 000. A floor at the lowest value seen
    // would fail unseen seeds at unchanged code, so it sits ~4 sd under
    // the mean: a probe or merge that loses a tenth of recall fails it
    // on a seed of average recall
    recallQuestions = 1000, recallFloor = 0.67)
  val Tiny = Scale(
    syncDocs = 300, syncPool = 40, syncReads = 2, syncOptimizeEvery = 2,
    bulkDocs = 300, bulkQuestions = 9,
    recallQuestions = 20, recallFloor = 0.4)
}
