package graft.search

import graft.functions.{Metric, VectorFunctions => VF}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Exact (brute-force) top-k nearest-neighbor retrieval — the reference's
  * central query operator: `index.similarity_search(columns, query, k)`
  * (reference src/databricks/query_endpoint.py:126-146, src/backend/main.py:56).
  *
  * Spark-first shapes:
  *  - single query: broadcast the query vector as a literal → one scan +
  *    score + `TakeOrderedAndProject` (zero shuffles, scales linearly with
  *    corpus partitions — the plan you want at 100 TB).
  *  - batch of queries: broadcast-NLJ `corpus × queries` (queries ≪ corpus)
  *    + per-query window top-k (`row_number ≤ k`, one shuffle on query_id;
  *    Spark ≥3.5 prunes via InferWindowGroupLimit).
  *
  * Scores are always totally ordered with a `(score, pk)` tie-break so
  * results are deterministic (SURVEY.md §7.4).
  */
object Knn {

  /** Higher score = better for cosine/dot; lower = better for l2. */
  def scoreOrder(scoreCol: Column, metric: Metric): Column = metric match {
    case Metric.L2 => scoreCol.asc
    case _         => scoreCol.desc
  }

  /** The refine tail every batch leg ends with: rank each query's scored
    * candidates by ([[scoreOrder]], pk), keep the top `k`, and return
    * `(query_id, rank, <pk>, score)` ordered by query and rank. */
  def topKPerQuery(scored: DataFrame, pkCol: String, k: Int,
      metric: Metric): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(scoreOrder(col("score"), metric), col(pkCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(pkCol), col("score"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Single-query top-k: corpus rows scored against one literal vector.
    * Returns `(rank, <corpus cols...>, score)`.
    */
  def singleQuery(
      corpus: DataFrame,
      vecCol: String,
      pkCol: String,
      queryVec: Seq[Float],
      k: Int,
      metric: Metric = Metric.Cosine,
      projection: Seq[String] = Nil): DataFrame = {
    val qv = lit(queryVec.toArray)
    val scored = corpus
      .filter(col(vecCol).isNotNull) // null embeddings never enter results
      .withColumn("score", VF.distance(col(vecCol), qv, metric))
    val ordered = scored.orderBy(scoreOrder(col("score"), metric), col(pkCol).asc)
      .limit(k)
    val base = ordered.withColumn("rank",
      row_number().over(Window.orderBy(scoreOrder(col("score"), metric),
        col(pkCol).asc)))
    val cols = if (projection.isEmpty) base.columns.toSeq.filterNot(_ == "rank")
               else projection :+ "score"
    base.select(("rank" +: cols).map(col): _*)
  }

  /** Batch top-k: every row of `queries` retrieves its own top-k from
    * `corpus`. `queries` is broadcast (it is the small side by contract).
    * Returns `(query_id, rank, <corpus cols...>, score)`.
    */
  def batchQuery(
      corpus: DataFrame,
      queries: DataFrame,
      corpusVecCol: String,
      corpusPkCol: String,
      queryVecCol: String,
      queryIdCol: String,
      k: Int,
      metric: Metric = Metric.Cosine,
      projection: Seq[String] = Nil): DataFrame = {
    val q = broadcast(
      queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec")))
    val scored = corpus
      .filter(col(corpusVecCol).isNotNull)
      .crossJoin(q)
      .withColumn("score", VF.distance(col(corpusVecCol), col("__qvec"), metric))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(scoreOrder(col("score"), metric), col(corpusPkCol).asc)
    val ranked = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("__qvec")
    val cols =
      if (projection.isEmpty)
        ranked.columns.toSeq.filterNot(c => c == "rank" || c == "query_id")
      else projection :+ "score"
    ranked.select((Seq("query_id", "rank") ++ cols).map(col): _*)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Batch top-k via bounded-heap aggregation — the scale path. The
    * window formulation above shuffles every scored candidate
    * (|corpus| × |queries| rows); this one partially aggregates per map
    * partition (TopKAggregator), so only k rows per query per partition
    * reach the exchange. Requires a long pk. Returns
    * `(query_id, rank, <pk col>, score)` identical to [[batchQuery]].
    */
  def batchQueryAgg(
      corpus: DataFrame,
      queries: DataFrame,
      corpusVecCol: String,
      corpusPkCol: String,
      queryVecCol: String,
      queryIdCol: String,
      k: Int,
      metric: Metric = Metric.Cosine): DataFrame = {
    import graft.functions.TopKAgg
    val q = broadcast(
      queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec")))
    // the aggregator keeps highest-score-first; negate L2 so smaller
    // distances rank first, undo on output
    val sgn = metric match {
      case Metric.L2 => -1.0
      case _ => 1.0
    }
    val scored = corpus
      .filter(col(corpusVecCol).isNotNull)
      .crossJoin(q)
      .select(col("query_id"),
        (VF.distance(col(corpusVecCol), col("__qvec"), metric) * sgn)
          .as("score"),
        col(corpusPkCol).cast("long").as("id"))
    scored.groupBy("query_id")
      .agg(TopKAgg.topk(k)(col("score"), col("id")).as("top"))
      .select(col("query_id"),
        posexplode(col("top")).as(Seq("pos", "cand")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("cand.id").as(corpusPkCol),
        (col("cand.score") * sgn).as("score"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }
}
