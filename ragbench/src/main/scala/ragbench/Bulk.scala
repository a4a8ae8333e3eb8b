package ragbench

import graft.{CorpusPipeline, PipelineReport, VectorSearch}
import graft.embed.HashingTfIdfEmbedder
import graft.index.IndexKinds
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Offline ingest → build → batch RAG: each iteration cleans a raw
  * corpus with `CorpusPipeline`, builds an exact index over the
  * survivors, answers batches of questions, each in one plan, and drops the
  * index. The raw corpus carries injected exact duplicates,
  * near-duplicates and junk with known ids, so the funnel is checked. */
final class Bulk(run: Run) extends Workload {
  val name = "bulk"
  val opKind = "iteration"
  val readKind = "rag"
  // a JVM's first iteration takes ~3× the next, and iterations still get
  // ~10% faster each for a while after that; a run's time allows two
  val warmMinOps = 2
  val warmCapS = 20.0
  private val spark = run.spark
  private val s = run.scale
  private val gen = new Gen(run.seed)
  private val root = s"${run.work}/bulk"

  private val base: Seq[(Long, String)] = gen.corpus(s.bulkDocs)
  private val nInject = math.max(1, s.bulkDocs / 20)
  // injected rows get ids above the base corpus: first-wins dedup and
  // near-dup removal both keep the lowest id, i.e. the original
  private val (exactDups, nearDups, junk) = {
    val r = gen.rng(Gen.PBulk, 0)
    val n = s.bulkDocs.toLong
    val ex = (0 until nInject).map { i =>
      (n + i, base(r.nextInt(base.length))._2)
    }
    val nd = (0 until nInject).map { i =>
      val ws = base(r.nextInt(base.length))._2.split(' ')
      val at = r.nextInt(ws.length)
      ws(at) = gen.vocab(r.nextInt(gen.vocab.length)) + "x"
      (n + nInject + i, ws.mkString(" "))
    }
    val jk = (0 until nInject).map { i =>
      (n + 2 * nInject + i,
        s"${gen.vocab(r.nextInt(200))}!!! ${gen.vocab(r.nextInt(200))}???")
    }
    (ex, nd, jk)
  }
  private val rawRows = base ++ exactDups ++ nearDups ++ junk
  private val questions: Seq[Question] =
    gen.questionPool(s.bulkQuestions, s.bulkDocs)

  private var raw: DataFrame = _
  private var qdf: DataFrame = _
  /** The questions in [[Bulk.Batches]] batches, answered one after the
    * other in every iteration. */
  private var qdfs: Seq[DataFrame] = Nil
  private val perBatch = s.bulkQuestions / Bulk.Batches
  private var vs: VectorSearch = _
  private var iteration = 0
  /** Answers of the first checked iteration, by question id. */
  private var firstAnswers: Option[Map[Long, (String, String)]] = None
  private var firstReport: Option[PipelineReport] = None
  private var recall = 0.0
  private val footprints = mutable.ArrayBuffer[Double]()
  private var survivorTexts: Map[Long, String] = Map.empty

  def setup(): Unit = {
    raw = run.phase("corpus") { Data.sourceTable(spark, rawRows, s"$root/raw") }
    import spark.implicits._
    val rows = questions.zipWithIndex.map { case (q, i) => (i.toLong, q.text) }
    qdf = rows.toDF("qid", "question")
    qdfs = rows.grouped(perBatch).map(_.toDF("qid", "question")).toSeq
    vs = new VectorSearch(spark, s"$root/indexes")
    vs.createEndpoint("batch")
  }

  def step(w: Window, traced: Boolean): Unit =
    run.traced(opKind, traced) { iterate(w) }

  private def iterate(w: Window): Unit = {
    val i = iteration
    iteration += 1
    val op = run.nextOp()
    val ingest = run.op("ingest") {
      run.span("pipeline", "operators", op) {
        new CorpusPipeline().run(spark, raw, "id", "text",
          new HashingTfIdfEmbedder(64))
      }
    }
    val built = ingest.flatMap { case ((embedded, _), _) =>
      run.op("build") {
        run.span("build", "facade", op) {
          vs.createDeltaSyncIndex("batch", embedded.select("id", "text"),
            s"batch_$i", "id", "text", new HashingTfIdfEmbedder(64),
            IndexKinds.Exact, Map.empty)
        }
      }
    }
    val answered = built.flatMap { case (idx, _) =>
      val batches = qdfs.map { batch =>
        run.op("rag") {
          run.span("search+rag", "search", op,
            "rag: Context and ExtractiveGenerator run inside the batch " +
              "top-k plan of Knn.batchQuery") {
            val ranked = idx.similaritySearchBatch(Seq("id", "text"), batch,
                "question", "qid", Rag.K)
              .join(batch.withColumnRenamed("qid", "query_id"), "query_id")
            Rag.answers(ranked, "query_id")
              .select("query_id", "context", "answer").collect()
              .map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
          }
        }
      }
      if (batches.exists(_.isEmpty)) None
      else Some((batches.flatMap(_.get._1).toMap, batches.map(_.get._2)))
    }
    for (((embedded, report), ingestMs) <- ingest; (idx, buildMs) <- built;
         (answers, ragMs) <- answered) {
      w.add("ingest", ingestMs, op)
      w.add("build", buildMs, op)
      ragMs.foreach(ms => w.add(readKind, ms, op))
      checkIteration(idx, report, answers, embedded)
    }
    val dropped = run.op("delete") {
      run.span("delete", "facade", op) {
        vs.deleteIndex(s"batch_$i")
        spark.catalog.clearCache()
      }
    }
    for ((_, im) <- ingest; (_, bm) <- built; (_, rm) <- answered;
         (_, dm) <- dropped) {
      w.add(opKind, im + bm + rm.sum + dm, op)
      w.ops.incrementAndGet()
    }
  }

  /** The funnel and the answers of the first iteration (a warm-up one)
    * are checked against the oracle; every later iteration must repeat
    * them. */
  private def checkIteration(idx: graft.Index, report: PipelineReport,
      answers: Map[Long, (String, String)], embedded: DataFrame): Unit = {
    firstReport match {
      case Some(r0) =>
        run.gate(s"bulk iteration $iteration funnel",
          if (report == r0) None else Some(s"$report differs from $r0"))
        run.gate(s"bulk iteration $iteration answers",
          if (firstAnswers.contains(answers)) None
          else Some("answers differ from the first iteration"))
      case None =>
        firstReport = Some(report)
        firstAnswers = Some(answers)
        val survivors = Data.ids(embedded).toSet
        val texts = rawRows.toMap
        survivorTexts = survivors.iterator.map(id => id -> texts(id)).toMap
        checkFunnel(report, survivors)
        val vectors = Data.vectors(spark.read.parquet(idx.meta.path))
        val fitted = graft.embed.FittedEmbedders
          .load(spark, s"$root/indexes/${idx.meta.name}__embedder").get._1
        val qv = fitted.transform(qdf.withColumnRenamed("question", "text"),
            "text").select("qid", "embedding").collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
        val rs = questions.indices.map { i =>
          val (ctx, ans) = answers.getOrElse(i.toLong,
            (Check.Refusal, Check.Refusal))
          val ids = scala.util.Try(Check.blocks(ctx).map(_._1)).getOrElse(Nil)
          val what = s"bulk question '${questions(i).text}'"
          run.gate(s"$what: answer",
            Check.ragAnswer(ctx, ans, ids, survivorTexts.get))
          run.gate(s"$what: exact top-5",
            Check.exactTopK(vectors, qv(i.toLong), ids, Rag.K))
          questions(i).lifted.foreach { d =>
            lifted += 1
            if (ids.headOption.contains(d)) liftedHits += 1
          }
          Check.recall(ids, vectors.topK(qv(i.toLong), Rag.K).map(_._1))
        }
        recall = rs.sum / rs.size
    }
    footprints += Data.footprint(spark, s"$root/indexes")._1.toDouble /
      Data.liveBytes(survivorTexts.values)
  }

  private var nearDupRemoved = 0
  private var lifted = 0
  private var liftedHits = 0

  /** Exactly the injected exact duplicates and junk go; no original doc
    * goes; near-duplicate removals are counted. */
  private def checkFunnel(report: PipelineReport, survivors: Set[Long]): Unit = {
    val originals = base.map(_._1).toSet
    val lostOriginals = originals.diff(survivors)
    val keptExact = exactDups.map(_._1).filter(survivors)
    val keptJunk = junk.map(_._1).filter(survivors)
    nearDupRemoved = nearDups.count(d => !survivors(d._1))
    run.gate("bulk funnel input",
      if (report.input == rawRows.length) None
      else Some(s"input ${report.input}, raw ${rawRows.length}"))
    run.gate("bulk funnel quality stage drops the junk",
      if (report.afterQuality == rawRows.length - junk.length && keptJunk.isEmpty)
        None
      else Some(s"after quality ${report.afterQuality}, junk kept $keptJunk"))
    run.gate("bulk funnel exact dedup drops the exact duplicates",
      if (report.afterExact == report.afterQuality - exactDups.length &&
          keptExact.isEmpty) None
      else Some(s"after exact ${report.afterExact}, kept ${keptExact.take(5)}"))
    run.gate("bulk funnel keeps every original doc",
      if (lostOriginals.isEmpty) None
      else Some(s"${lostOriginals.size} originals removed, e.g. " +
        lostOriginals.take(5)))
  }

  /** A window must hold [[Bulk.MinIterations]]: iterations still speed
    * up for a while after the warm-up, and a median of two would weigh
    * the slower first one. In a traced run each window needs
    * [[Workload.TracedMinOps]]. */
  def enough(plain: Window, traced: Option[Window]): Boolean =
    traced match {
      case None => plain.ms(opKind).length >= Bulk.MinIterations
      case Some(t) =>
        Seq(plain, t).forall(_.ms(opKind).length >= Workload.TracedMinOps)
    }

  def check(): Unit =
    if (firstReport.isEmpty)
      run.gate("bulk", Some("no iteration completed, nothing was checked"))

  private def med(w: Window, kind: String): Double = Stats.median(w.ms(kind))

  def endToEnd(w: Window): Map[String, Double] = Map(
    "throughput_per_s" -> rawRows.length / (med(w, "iteration") / 1e3),
    "read_p50_ms" -> med(w, readKind) / perBatch,
    "recall_at_5" -> recall,
    "stored_bytes_per_live_byte" ->
      (if (footprints.isEmpty) 0.0 else Stats.median(footprints.toSeq)))

  def details(w: Window): Seq[(String, Double, String)] = Seq(
    ("bulk.ingest_docs_per_s", rawRows.length / (med(w, "ingest") / 1e3), "docs/s"),
    ("bulk.build_s", med(w, "build") / 1e3, "s"),
    ("bulk.rag_queries_per_s", perBatch / (med(w, readKind) / 1e3), "q/s"),
    ("bulk.iterations", w.samplesOf("iteration").length.toDouble, "count"),
    ("bulk.near_dups_removed", nearDupRemoved.toDouble, "count"),
    ("bulk.near_dups_injected", nearDups.length.toDouble, "count"),
    ("bulk.lifted_rank1_share",
      liftedHits.toDouble / math.max(1, lifted), "ratio"))

  override def perLayer(w: Window, jobs: Seq[Tracer.JobRec],
      spans: Seq[Span]): Map[String, Double] = {
    val its = math.max(1, w.samplesOf("iteration").length).toDouble
    val ops = w.samplesOf("iteration").map(_.op).toSet
    val mine = jobs.filter(_.span.exists(sp => ops(sp.op)))
    def in(kind: String) = mine.filter(_.span.get.kind == kind)
    val rawBytes = Data.footprint(spark, s"$root/raw")._1.toDouble
    val pipeline = in("pipeline").filter(_.layer == "operators")
    val build = in("build")
    Map(
      "bulk.operators_input_bytes_per_raw_byte" ->
        pipeline.map(_.c.inputBytes).sum / its / rawBytes,
      "bulk.embed_fit_ms" -> build.filter(_.layer == "embed")
        .map(_.ms).sum / its,
      "bulk.build_jobs" -> build.length / its,
      "bulk.build_output_bytes" -> build.map(_.c.outputBytes).sum / its)
  }
}

object Bulk {
  val MinIterations = 3
  /** Question batches per iteration. The first batch on a fresh index
    * runs ~1.5× the others; with three, the median batch is a later one. */
  val Batches = 3
}
