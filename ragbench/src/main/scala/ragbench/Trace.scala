package ragbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** graft's layers, named after the modules under `graft/`. */
object Layers {
  val All: Seq[String] =
    Seq("facade", "embed", "index", "search", "rag", "operators")

  /** The layer of one stack frame, if it is a graft frame. */
  def ofFrame(frame: String): Option[String] = {
    val f = frame.trim.stripPrefix("at ")
    if (!f.startsWith("graft.")) None
    else if (f.startsWith("graft.embed.")) Some("embed")
    else if (f.startsWith("graft.index.")) Some("index")
    else if (f.startsWith("graft.search.") || f.startsWith("graft.plans."))
      Some("search")
    else if (f.startsWith("graft.rag.")) Some("rag")
    else if (f.startsWith("graft.operators.") ||
      f.startsWith("graft.CorpusPipeline")) Some("operators")
    else if (f.startsWith("graft.VectorSearch") ||
      f.startsWith("graft.Index.") || f.startsWith("graft.Index$"))
      Some("facade")
    else None
  }

  /** Layer of the innermost graft frame in a job's call stack. */
  def ofCallSite(stack: String): Option[String] =
    stack.linesIterator.flatMap(ofFrame).nextOption()
}

/** Counters summed over the jobs charged to one span or layer. */
final class Counters {
  var jobs = 0L
  var jobMs = 0L
  var tasks = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var filesRead = 0L
  var filesWritten = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; jobMs += o.jobMs; tasks += o.tasks; cpuMs += o.cpuMs
    gcMs += o.gcMs; schedulerDelayMs += o.schedulerDelayMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; filesRead += o.filesRead
    filesWritten += o.filesWritten
  }

  def toJson: String = Json.obj(
    "jobs" -> jobs, "job_ms" -> jobMs, "tasks" -> tasks,
    "executor_cpu_ms" -> cpuMs, "task_gc_ms" -> gcMs,
    "scheduler_delay_ms" -> schedulerDelayMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "files_read" -> filesRead,
    "files_written" -> filesWritten)
}

/** One timed call the benchmark makes into graft. `layer` is the layer
  * of the call itself; jobs fired from deeper graft frames go to their
  * own layer. `deferred` names lazily built work that this span's action
  * executes (the span that runs a plan pays for it). */
final class Span(val id: Long, val kind: String, val layer: String,
    val op: Long, val deferred: String, val t0: Long,
    val traced: Option[TracedOp]) {
  @volatile var t1: Long = 0L
  def wallMs: Long = t1 - t0
}

/** One workload op run with the tracer attached: a `sync` cycle, a
  * compaction or a `bulk` iteration, with its wall and the JVM's GC time
  * over it. */
final class TracedOp(val id: Long, val kind: String, val t0: Long,
    val gc0: Long) {
  @volatile var t1: Long = 0L
  @volatile var gc1: Long = 0L
  def gcMs: Long = gc1 - gc0
}

/** Charges Spark work to the benchmark's spans. The benchmark opens a
  * span around each public graft call it makes; the span id rides the
  * calling thread's Spark local properties into every job that call
  * submits, and this listener sums each
  * job's tasks into that span, under the layer of the job's innermost
  * graft frame. The listener is attached only while a traced op runs
  * ([[attach]] / [[detach]]), so untraced ops of the same run pay
  * nothing for it. Spans stay in memory until [[finish]]. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val nextId = new AtomicLong(1L)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** SQL execution id → layer of the action that started it. */
  private val execLayer = new ConcurrentHashMap[Long, String]()
  @volatile private var marker: Option[(String, CountDownLatch)] = None
  @volatile private var current: Option[TracedOp] = None
  private val traced = new java.util.concurrent.ConcurrentLinkedQueue[TracedOp]()

  def nextOp(): Long = nextId.getAndIncrement()

  /** Starts charging Spark work to `kind`, a new traced op. */
  def attach(kind: String): Unit = {
    current = Some(new TracedOp(nextOp(), kind, System.currentTimeMillis(),
      Metrics.gcMs()))
    spark.sparkContext.addSparkListener(this)
  }

  /** Ends the traced op: waits until the listener has seen all of its
    * events, then takes the listener off the bus. */
  def detach(): Unit = current.foreach { op =>
    op.t1 = System.currentTimeMillis()
    op.gc1 = Metrics.gcMs()
    try drain()
    finally {
      spark.sparkContext.removeSparkListener(this)
      current = None
      traced.add(op)
    }
  }

  def ops: Seq[TracedOp] = traced.asScala.toSeq

  def span[T](kind: String, layer: String, op: Long,
      deferred: String = "")(body: => T): T = {
    val s = new Span(nextId.getAndIncrement(), kind, layer, op, deferred,
      System.currentTimeMillis(), current)
    spans.put(s.id, s)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.t1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Jobs that Spark runs on its own threads (broadcasts, adaptive
    * query stages) carry no graft frame; they take the layer of the
    * action that started their SQL execution. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      Layers.ofCallSite(s.details).foreach(execLayer.put(s.executionId, _))
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val sid = props.flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong)
    val stack = if (j.stageInfos.isEmpty) ""
      else j.stageInfos.maxBy(_.stageId).details
    val span = sid.flatMap(id => Option(spans.get(id)))
    val exec = props.flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val layer = Layers.ofCallSite(stack)
      .orElse(exec.flatMap(x => Option(execLayer.get(x))))
      .getOrElse(span.map(_.layer).getOrElse("unattributed"))
    val rec = new JobRec(j.jobId, span, layer, exec, j.time,
      props.flatMap(p => Option(p.getProperty(MarkerKey))), current)
    jobs.put(j.jobId, rec)
    j.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobs.get(j.jobId)).foreach { rec =>
      rec.end = j.time
      for (m <- rec.marker; (name, latch) <- marker if name == m)
        latch.countDown()
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(t.stageId)).foreach { rec =>
      val c = rec.c
      val m = t.taskMetrics
      val info = t.taskInfo
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuMs += m.executorCpuTime / 1e6
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
          if (info != null && info.finishTime > 0)
            c.schedulerDelayMs += math.max(0L,
              (info.finishTime - info.launchTime) - m.executorRunTime -
                m.executorDeserializeTime - m.resultSerializationTime -
                info.gettingResultTime.max(0L))
        }
      }
    }

  /** Waits until the listener has seen every job submitted so far: runs
    * a marker job and waits for its end event, which the bus delivers
    * after every earlier event. */
  def drain(): Unit = {
    val name = s"drain-${nextId.getAndIncrement()}"
    val latch = new CountDownLatch(1)
    marker = Some((name, latch))
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(MarkerKey)
    sc.setLocalProperty(MarkerKey, name)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, prev)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain in 60 s")
  }

  /** Adds each SQL execution's file counts (scan "number of files read",
    * write "number of written files") to the job that ran it. */
  private def attachFileCounts(): Unit = {
    val store = spark.sharedState.statusStore
    val byExec = jobs.values.asScala.filter(_.exec.nonEmpty)
      .groupBy(_.exec.get)
    // the SQL status store aggregates an execution's metrics when it
    // ends; that listener runs on its own queue, so give it a moment
    val deadline = System.currentTimeMillis() + 10000L
    byExec.foreach { case (exec, recs) =>
      val first = recs.minBy(_.jobId)
      while (store.execution(exec).forall(_.completionTime.isEmpty) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      store.execution(exec).foreach { e =>
        val values = store.executionMetrics(exec)
        def sum(name: String): Long = e.metrics.filter(_.name == name)
          .flatMap(m => values.get(m.accumulatorId))
          .map(v => parseLong(v)).sum
        first.c.synchronized {
          first.c.filesRead += sum("number of files read")
          first.c.filesWritten += sum("number of written files")
        }
      }
    }
  }

  /** Closes the books: every job charged, file counts attached. Call
    * it after the last [[detach]]. */
  def finish(): Seq[JobRec] = {
    attachFileCounts()
    jobs.values.asScala.filter(_.marker.isEmpty).toSeq.sortBy(_.jobId)
  }

  def allSpans: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanKey = "ragbench.span"
  val MarkerKey = "ragbench.marker"

  final class JobRec(val jobId: Int, val span: Option[Span],
      val layer: String, val exec: Option[Long], val start: Long,
      val marker: Option[String], val op: Option[TracedOp]) {
    @volatile var end: Long = 0L
    val c = new Counters
    def ms: Long = if (end >= start) end - start else 0L
  }

  /** SQL metric strings are formatted numbers ("1,234"); size and
    * timing metrics have other shapes and are not read here. */
  def parseLong(s: String): Long =
    scala.util.Try(s.trim.replace(",", "").toLong).getOrElse(0L)

  /** Counters per key over a set of jobs. */
  def sumBy[K](recs: Seq[JobRec])(key: JobRec => K): Map[K, Counters] =
    recs.groupBy(key).map { case (k, rs) =>
      val c = new Counters
      rs.foreach { r =>
        c.add(r.c); c.jobs += 1; c.jobMs += r.ms
      }
      k -> c
    }

  /** Milliseconds of [t0, t1] covered by the union of job intervals. */
  def busyMs(t0: Long, t1: Long, recs: Seq[JobRec]): Long = {
    val iv = recs.map(r => (math.max(t0, r.start), math.min(t1, r.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}
