package ragbench

import graft.Index
import graft.embed.FittedEmbedder

/** IVF recall@5 against the oracle's brute-force top-5 over the same
  * vectors, from one routed batch search (the probe the single-question
  * path plans too). */
object Recall {
  def floor(recall: Double, floor: Double): Option[String] =
    if (recall >= floor) None
    else Some(f"recall@5 $recall%.4f is below the floor $floor%.4f")

  def ivf(run: Run, idx: Index, fitted: FittedEmbedder,
      vectors: Check.Vectors, questions: Seq[String]): Double = {
    val spark = run.spark
    import spark.implicits._
    val qs = fitted.transform(
        questions.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("qid", "text"), "text")
      .select("qid", "embedding")
    val vecs = qs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val got = idx.search(qs, "qid", "embedding", Rag.K)
      .select("query_id", "rank", "id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val rs = vecs.toSeq.map { case (q, v) =>
      Check.recall(got.getOrElse(q, Nil), vectors.topK(v, Rag.K).map(_._1))
    }
    rs.sum / rs.size
  }
}
