package ragbench

import graft.Index
import graft.embed.FittedEmbedder
import graft.rag.{Context, ExtractiveGenerator}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window => SqlWindow}
import org.apache.spark.sql.functions._

/** The reference backend's request path, made of graft's public calls:
  * embed the question with the index's fitted embedder, top-k search,
  * rank by score desc / pk asc, then falsy filter → first-wins dedup →
  * `[id] text` context → extractive answer. */
object Rag {
  val K = 5

  final case class Answer(vec: Seq[Float], context: String, answer: String)

  /** Post-processing over ranked hits `(group, question, rank, id, text)`. */
  def answers(ranked: DataFrame, group: String): DataFrame = {
    val kept = Context.firstWinsDedup(Context.falsyFilter(ranked, "text"),
      Seq(group), "text", "rank")
    val ctx = Context.assembleContext(kept, Seq(group, "question"), "rank",
      Context.contextBlock(col("id"), col("text")))
    ExtractiveGenerator.generate(ctx, "context", "question")
  }

  /** One interactive request; `kind` labels the spans. */
  def request(run: Run, idx: Index, kind: String, fitted: FittedEmbedder,
      question: String, op: Long): Answer = {
    val spark = run.spark
    import spark.implicits._
    val vec = run.span("embed", "embed", op) {
      fitted.transform(Seq(Tuple1(question)).toDF("text"), "text")
        .select("embedding").head().getSeq[Float](0)
    }
    val hits = run.span(s"search.$kind", "facade", op) {
      idx.similaritySearch(Seq("id", "text"), vec, K)
    }
    val deferred =
      if (kind == "exact") "search: the exact scan of Knn.singleQuery"
      else "search: the join of the IVF probe back to the corpus table"
    val row = run.span(s"rag.$kind", "rag", op, deferred) {
      val ranked = hits.withColumn("qid", lit(0L))
        .withColumn("question", lit(question))
        .withColumn("rank", row_number().over(SqlWindow.partitionBy("qid")
          .orderBy(col("score").desc, col("id").asc)))
      answers(ranked, "qid")
        .select("context", "answer").collect().headOption
    }
    row match {
      case Some(r) => Answer(vec, r.getString(0), r.getString(1))
      case None => Answer(vec, Check.Refusal, Check.Refusal)
    }
  }
}

/** Per-request trace figures of the reads in a traced window. */
object Requests {
  def perLayer(w: Window, jobs: Seq[Tracer.JobRec],
      spans: Seq[Span]): Map[String, Double] = {
    val ops = w.samplesOf("request.ivf").map(_.op).toSet
    val n = math.max(ops.size, 1).toDouble
    val byOp = jobs.filter(_.span.exists(sp => ops(sp.op)))
      .groupBy(_.span.get.op)
    val driverMs = spans.filter(sp => ops(sp.op)).groupBy(_.op).map {
      case (op, ss) =>
        val t0 = ss.map(_.t0).min
        val t1 = ss.map(_.t1).max
        (t1 - t0) - Tracer.busyMs(t0, t1, byOp.getOrElse(op, Nil))
    }
    val js = byOp.values.flatten.toSeq
    Map(
      "ivf.jobs_per_request" -> js.size / n,
      "ivf.files_read_per_request" -> js.map(_.c.filesRead).sum / n,
      "ivf.input_records_per_request" -> js.map(_.c.inputRecords).sum / n,
      "request.driver_ms" -> driverMs.sum / n)
  }
}
