package ragbench

import graft.{Index, VectorSearch}
import graft.embed.{FittedEmbedder, FittedEmbedders, HashingTfIdfEmbedder}
import graft.index.{ChangeLog, IndexKinds}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** Interactive RAG reads beside triggered sync. One IVF index is built
  * over a corpus. Each cycle applies one change batch through
  * `Index.sync`, then serves requests against the same index; every few
  * batches the index is compacted with `Index.optimize()`. The reads run
  * between syncs, not beside them: a reader racing `VectorIndex.sync`'s
  * rename swap can hit a vanished file, which would make the failure
  * count noisy. The benchmark keeps its own last-write-wins model of the
  * table, and the vectors of its live rows, to check every answer
  * against. */
final class Sync(run: Run) extends Workload {
  val name = "sync"
  val opKind = "cycle"
  val readKind = "request.ivf"
  // the first cycle of a JVM takes ~1.5× the next, and cycles still get
  // ~10% faster each for a while after that; a run's time allows one
  // (the cap is below a cycle's time at this size)
  val warmMinOps = 1
  val warmCapS = 8.0
  private val spark = run.spark
  private val s = run.scale
  private val gen = new Gen(run.seed)
  private val root = s"${run.work}/sync"

  /** Live rows: pk → text. */
  private val model = mutable.LinkedHashMap[Long, String]()
  /** Live rows: pk → the vector graft's embedder gives their text. */
  private val vectors = mutable.HashMap[Long, Array[Float]]()
  private var oracle: Check.Vectors = _
  private var nextPk = 0L
  private var seq = 0L
  private var batchNo = 0L
  private var idx: Index = _
  private var fitted: FittedEmbedder = _
  private var stream: QuestionStream = _
  private var pool: IndexedSeq[Question] = IndexedSeq.empty
  private var recall = 0.0
  /** Bytes under the index root ÷ live bytes, sampled right before
    * each compaction (the top of the saw). */
  private val stored = mutable.ArrayBuffer[Double]()
  /** Data files of the IVF layout after each batch. */
  private val layoutFiles = mutable.ArrayBuffer[Long]()

  def setup(): Unit = {
    val docs = gen.corpus(s.syncDocs)
    docs.foreach { case (id, t) => model(id) = t }
    nextPk = s.syncDocs
    val src = run.phase("corpus") {
      Data.sourceTable(spark, docs, s"$root/source")
    }
    val vs = new VectorSearch(spark, s"$root/indexes")
    vs.createEndpoint("rag")
    idx = run.phase("build.ivf") {
      vs.createDeltaSyncIndex("rag", src, "docs", "id", "text",
        new HashingTfIdfEmbedder(64), IndexKinds.Ivf, Map.empty)
    }
    fitted = FittedEmbedders.load(spark, s"$root/indexes/docs__embedder").get._1
    run.phase("oracle") {
      IndexKinds.corpusTable(spark, idx.meta).select("id", "embedding").collect()
        .foreach(r => vectors(r.getLong(0)) = r.getSeq[Float](1).toArray)
      oracle = snapshot()
    }
    pool = gen.questionPool(s.syncPool, s.syncDocs)
    stream = new QuestionStream(gen, pool)
  }

  private def snapshot(): Check.Vectors = {
    val ids = vectors.keys.toArray.sorted
    new Check.Vectors(ids, ids.map(vectors))
  }

  /** The next change batch: 1% of live rows, ~85% updates with new
    * text, 5% inserts, 10% deletes; a few updated rows are updated
    * twice so last-write-wins inside a batch is exercised. */
  private def nextBatch(): Seq[(Long, String, String, Long)] = {
    val r = gen.rng(Gen.PBatch, batchNo)
    batchNo += 1
    val live = model.keysIterator.toIndexedSeq
    val n = math.max(3, live.length / 100)
    val nIns = math.max(1, n / 20)
    val nDel = math.max(1, n / 10)
    val picked = mutable.LinkedHashSet[Long]()
    while (picked.size < n - nIns) picked += live(r.nextInt(live.length))
    val (dels, ups) = picked.toSeq.splitAt(nDel)
    def update(id: Long): (Long, String, String, Long) = {
      seq += 1
      (id, gen.docVersion(id, seq.toInt), ChangeLog.OpUpdate, seq)
    }
    val rows = mutable.ArrayBuffer[(Long, String, String, Long)]()
    ups.foreach(id => rows += update(id))
    ups.take(math.max(1, ups.length / 50)).foreach(id => rows += update(id))
    (0 until nIns).foreach { _ =>
      seq += 1
      rows += ((nextPk, gen.doc(nextPk), ChangeLog.OpInsert, seq))
      nextPk += 1
    }
    dels.foreach { id =>
      seq += 1
      rows += ((id, null, ChangeLog.OpDelete, seq))
    }
    rows.toSeq
  }

  private def applyToModel(rows: Seq[(Long, String, String, Long)]): Unit =
    rows.sortBy(_._4).foreach { case (id, t, op, _) =>
      if (op == ChangeLog.OpDelete) { model.remove(id); vectors.remove(id) }
      else model(id) = t
    }

  /** One cycle: a change batch through `Index.sync`, then the reads; a
    * compaction every few batches. In a traced run the compaction is
    * always traced, as an op of its own, so every traced window holds
    * one; the cycle is traced when `traced`. */
  def step(w: Window, traced: Boolean): Unit = {
    run.traced(opKind, traced) { cycle(w) }
    if (batchNo % s.syncOptimizeEvery == 0)
      run.traced("optimize", run.tracer.isDefined) { optimize(w) }
    w.ops.incrementAndGet()
  }

  private def cycle(w: Window): Unit = {
    val rows = nextBatch()
    val changes = Data.changes(spark, rows)
    val op = run.nextOp()
    val synced = run.op("sync") {
      run.span("sync", "facade", op) { idx.sync(changes) }
    }.map { case (_, ms) =>
      w.add("sync", ms, op)
      w.units.addAndGet(rows.length)
      ms
    }
    applyToModel(rows)
    // inside Index.sync the delta embedding is fused into the index
    // write; embedding the batch on its own keeps the oracle's vectors
    // current and, in a traced run, shows the embedding's share
    run.span("embed.delta", "embed", op) {
      fitted.transform(changes.filter(col("__op") =!= ChangeLog.OpDelete),
          "text").select("id", "embedding").collect()
    }.foreach { r =>
      if (model.contains(r.getLong(0)))
        vectors(r.getLong(0)) = r.getSeq[Float](1).toArray
    }
    oracle = snapshot()
    layoutFiles += Data.footprint(spark, IndexKinds.layoutPath(idx.meta))._2
    val reads = (0 until s.syncReads).map(i => read(w, first = i == 0))
    // the cycle's time: the sync call and its reads, without the
    // benchmark's own bookkeeping between them
    if (synced.nonEmpty && reads.forall(_.nonEmpty))
      w.add(opKind, synced.get + reads.flatten.sum, op)
  }

  private def optimize(w: Window): Unit = {
    stored += Data.footprint(spark, s"$root/indexes")._1.toDouble /
      Data.liveBytes(model.values)
    val oop = run.nextOp()
    run.op("optimize") {
      run.span("optimize", "facade", oop) { idx.optimize() }
    }.foreach { case (_, ms) => w.add("optimize", ms, oop) }
  }

  /** One interactive request, checked against the model as it stands.
    * The first read after a sync pays for listing the new layout files
    * and runs ~1.5× the later ones; it is also recorded on its own. */
  private def read(w: Window, first: Boolean): Option[Double] = {
    val q = stream.take()
    val rop = run.nextOp()
    run.op("request.ivf") {
      Rag.request(run, idx, IndexKinds.Ivf, fitted, q.text, rop)
    }.map { case (a, ms) =>
      w.add("request.ivf", ms, rop)
      if (first) w.add("read.first", ms, rop)
      val what = s"read '${q.text}'"
      val ids = scala.util.Try(Check.blocks(a.context).map(_._1))
        .getOrElse(Nil)
      run.gate(s"$what: answer",
        Check.ragAnswer(a.context, a.answer, ids, model.get))
      run.gate(s"$what: ranked", Check.ranked(oracle, a.vec, ids))
      ms
    }
  }

  /** The window must hold a compaction, so it carries its share of that
    * cost, and [[Sync.MinCycles]] cycles, so it does not end after one
    * cycle on a slow host and after two on a fast one. A traced run's
    * figures are per-layer counters and the overheads of cycles and
    * reads: it needs [[Workload.TracedMinOps]] cycles in both windows
    * and a compaction in either (a compaction lands in the window of the
    * cycle it follows). */
  def enough(plain: Window, traced: Option[Window]): Boolean = traced match {
    case None =>
      plain.ms("optimize").nonEmpty && plain.ms(opKind).length >= Sync.MinCycles
    case Some(t) =>
      Seq(plain, t).forall(_.ms(opKind).length >= Workload.TracedMinOps) &&
        (plain.ms("optimize") ++ t.ms("optimize")).nonEmpty
  }

  def check(): Unit = {
    val want = model.keySet.toSet
    def same(what: String, got: Seq[Long]): Unit = run.gate(what,
      if (got.length != want.size)
        Some(s"${got.length} rows, model has ${want.size}")
      else if (got.toSet != want) {
        val extra = got.toSet.diff(want).take(5)
        val missing = want.diff(got.toSet).take(5)
        Some(s"pk sets differ: extra $extra, missing $missing")
      } else None)
    same("exact artifact", Data.ids(spark.read.parquet(idx.meta.path)))
    same("IndexKinds.corpusTable",
      Data.ids(IndexKinds.corpusTable(spark, idx.meta)))
    recall = Recall.ivf(run, idx, fitted,
      Data.vectors(IndexKinds.corpusTable(spark, idx.meta)),
      gen.questionPool(s.recallQuestions, s.syncDocs).map(_.text))
    run.gate("ivf recall@5", Recall.floor(recall, s.recallFloor))
  }

  private def sumS(w: Window, kind: String): Double = w.ms(kind).sum / 1e3

  /** Changed rows ÷ (sync time + compaction time, the latter amortised
    * at its median cost per batch, so the figure does not jump with how
    * many compactions fell into the window). */
  private def rowsPerS(w: Window): Double = {
    val optPerBatch = Stats.median(w.ms("optimize")) / 1e3 / s.syncOptimizeEvery
    w.units.get / (sumS(w, "sync") + w.ms("sync").length * optPerBatch)
  }

  def endToEnd(w: Window): Map[String, Double] = Map(
    "throughput_per_s" -> rowsPerS(w),
    "read_p50_ms" -> Stats.median(w.ms("request.ivf")),
    "recall_at_5" -> recall,
    "stored_bytes_per_live_byte" -> Stats.median(stored.toSeq))

  def details(w: Window): Seq[(String, Double, String)] =
    Seq(
      ("sync.apply_p50_s", Stats.median(w.ms("sync")) / 1e3, "s"),
      ("sync.changed_rows_per_s", rowsPerS(w), "rows/s"),
      ("sync.read_p50_ms", Stats.median(w.ms("request.ivf")), "ms"),
      ("sync.first_read_p50_ms", Stats.median(w.ms("read.first")), "ms")) ++
    Stats.tail(w.ms("request.ivf")).toSeq.flatMap { case (p, v) =>
      Seq(("sync.read_tail_ms", v, "ms"),
        ("sync.read_tail_percentile", p.toDouble, "pct"))
    } ++ Seq(
      ("sync.optimize_p50_s", Stats.median(w.ms("optimize")) / 1e3, "s"),
      ("sync.batches", w.ms("sync").length.toDouble, "count"),
      ("sync.reads", w.ms("request.ivf").length.toDouble, "count"),
      ("sync.stored_bytes_per_live_byte", Stats.median(stored.toSeq), "ratio"),
      ("sync.ivf_recall_at_5", recall, "ratio"))

  override def perLayer(w: Window, jobs: Seq[Tracer.JobRec],
      spans: Seq[Span]): Map[String, Double] = {
    val batches = math.max(1, w.ms("sync").length).toDouble
    def jobsOf(kind: String) = jobs.filter(_.span.exists(_.kind == kind))
    val rows = math.max(1L, w.units.get).toDouble
    val opt = spans.filter(_.kind == "optimize")
    val perOpt = math.max(1, opt.length).toDouble
    val files = Stats.median(layoutFiles.map(_.toDouble).toSeq)
    Requests.perLayer(w, jobs, spans) ++ Map(
      "sync.jobs_per_batch" -> jobsOf("sync").length / batches,
      "sync.bytes_written_per_changed_row" ->
        jobsOf("sync").map(_.c.outputBytes).sum / rows,
      "sync.layout_files" -> files,
      "sync.optimize_ms" -> opt.map(_.wallMs).sum / perOpt,
      "sync.optimize_bytes_rewritten" ->
        jobsOf("optimize").map(_.c.outputBytes).sum / perOpt,
      "sync.embed_ms" ->
        spans.filter(_.kind == "embed.delta").map(_.wallMs).sum / batches)
  }
}

object Sync {
  val MinCycles = 2
}
