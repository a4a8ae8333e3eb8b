package ragbench

/** The benchmark's own oracle: brute-force cosine top-k over the
  * vectors an index holds, and the format rules of the RAG answer.
  * Every check returns None when it passes and the reason otherwise. */
object Check {
  val Refusal = "No relevant context found."
  /** Score tolerance: graft scores in float, the oracle in double. */
  val Eps = 1e-4

  final class Vectors(val ids: Array[Long], raw: Array[Array[Float]]) {
    private val unit: Array[Array[Double]] = raw.map { v =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => if (n == 0.0) 0.0 else x / n)
    }
    private val pos: Map[Long, Int] = ids.zipWithIndex.toMap
    def contains(id: Long): Boolean = pos.contains(id)

    def score(q: Array[Double], id: Long): Double = dot(q, unit(pos(id)))

    /** Top-k by cosine desc, pk asc. */
    def topK(q0: Seq[Float], k: Int): Seq[(Long, Double)] = {
      val q = Check.unit(q0)
      ids.indices.map(i => (ids(i), dot(q, unit(i))))
        .sortBy { case (id, s) => (-s, id) }.take(k)
    }
  }

  def unit(v: Seq[Float]): Array[Double] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => if (n == 0.0) 0.0 else x / n).toArray
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** `got` (pks in rank order) is an exact top-k of `q`: the right
    * length, ranked by score, and no better doc left out (ties within
    * [[Eps]] may resolve either way). */
  def exactTopK(vs: Vectors, q0: Seq[Float], got: Seq[Long],
      k: Int): Option[String] = {
    val q = unit(q0)
    val want = vs.topK(q0, k)
    if (got.length != want.length)
      Some(s"got ${got.length} hits, want ${want.length}")
    else if (got.distinct.length != got.length)
      Some(s"duplicate pks in $got")
    else got.find(id => !vs.contains(id)) match {
      case Some(id) => Some(s"pk $id is not in the index")
      case None =>
        val scores = got.map(vs.score(q, _))
        val order = scores.indices.drop(1)
          .find(i => scores(i) > scores(i - 1) + Eps)
        val kth = want.last._2
        val missed = want.filter { case (id, s) =>
          !got.contains(id) && s > scores.min + Eps }
        if (order.nonEmpty)
          Some(f"rank ${order.get} scores ${scores(order.get - 1)}%.6f " +
            f"then ${scores(order.get)}%.6f: not ranked by score " +
            s"(got $got, want ${want.map(_._1)})")
        else if (scores.min < kth - Eps || missed.nonEmpty)
          Some(s"not a top-$k: got $got, want ${want.map(_._1)}")
        else None
    }
  }

  /** Hits of an approximate index are real docs, ranked by score. */
  def ranked(vs: Vectors, q0: Seq[Float], got: Seq[Long]): Option[String] = {
    val q = unit(q0)
    got.find(id => !vs.contains(id)) match {
      case Some(id) => Some(s"pk $id is not in the index")
      case None =>
        val s = got.map(vs.score(q, _))
        s.indices.drop(1).find(i => s(i) > s(i - 1) + Eps)
          .map(i => s"rank $i out of score order in $got")
    }
  }

  def recall(approx: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0
    else approx.toSet.intersect(exact.toSet).size.toDouble / exact.size

  /** `[id] text` blocks of a context string, in order. */
  def blocks(context: String): Seq[(Long, String)] =
    if (context == Refusal) Nil
    else context.split("\n\n", -1).toSeq.map { b =>
      val close = b.indexOf("] ")
      require(b.startsWith("[") && close > 1, s"malformed block '$b'")
      (b.substring(1, close).toLong, b.substring(close + 2))
    }

  /** The context is the retrieved `[id] text` blocks in rank order,
    * joined by blank lines, each text the doc's own; the answer is the
    * first block's text, or the refusal literal when nothing came back. */
  def ragAnswer(context: String, answer: String, hits: Seq[Long],
      text: Long => Option[String]): Option[String] = {
    val parsed = scala.util.Try(blocks(context))
    if (parsed.isFailure) Some(parsed.failed.get.getMessage)
    else {
      val bs = parsed.get
      val expect = hits.distinct.flatMap(id => text(id).map(id -> _))
      val ctx =
        if (expect.isEmpty) Refusal
        else expect.map { case (id, t) => s"[$id] $t" }.mkString("\n\n")
      val ans = expect.headOption.map(_._2).getOrElse(Refusal)
      if (bs.map(_._1) != hits.distinct)
        Some(s"context pks ${bs.map(_._1)} differ from hits $hits")
      else if (context != ctx) Some(s"context is not the ranked blocks")
      else if (answer != ans) Some(s"answer '$answer' is not '$ans'")
      else None
    }
  }
}
