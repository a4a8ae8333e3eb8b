package graft.search

import graft.functions.{Metric, VectorFunctions => VF}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Two-stage retrieve-then-rerank — the public form of the reference's
  * commented reranker hook (reference
  * src/databricks/query_endpoint.py:130:
  * `reranker=DatabricksReranker(columns_to_rerank=[...])`): retrieve a
  * candidate multiplier `c` times more rows than needed with a CHEAP
  * score, then re-score exactly those `k*c` candidates with the full
  * metric and keep `k`.
  *
  * The cheap stage here scores in a `coarseDims`-prefix subspace of the
  * embedding (the dimension-truncation trick quantized rerankers use):
  * at 768-dim production vectors an 8-dim prefix scan is ~100× less
  * arithmetic per row, and the exact metric only ever touches `k*c` rows
  * per query. Both stages are window top-k over a broadcast-NLJ — at
  * 100 TB swap stage 1's scan for an IVF/LSH candidate fetch
  * ([[Ann.queryIvf]]) and keep stage 2 unchanged.
  *
  * Everything is a pure function of the inputs (tie-break by pk at both
  * stages), so the DuckDB oracle replays BOTH stages at realistic
  * parameters — no degeneracy needed. `c` spanning the corpus
  * (`k*c >= |corpus|`) degenerates to exact KNN, the property
  * RerankSpec asserts.
  */
object Rerank {

  /** Truncated-subspace rerank. Returns
    * `(query_id, rank, <corpusPkCol>, score)` like [[Knn.batchQuery]].
    */
  def truncated(
      corpus: DataFrame,
      queries: DataFrame,
      corpusVecCol: String,
      corpusPkCol: String,
      queryVecCol: String,
      queryIdCol: String,
      k: Int,
      c: Int,
      coarseDims: Int,
      metric: Metric = Metric.Cosine): DataFrame = {
    require(k >= 1 && c >= 1 && coarseDims >= 1)
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qvec")))
    val coarse = corpus
      .filter(col(corpusVecCol).isNotNull)
      .crossJoin(q)
      .withColumn("__cscore", VF.distance(
        slice(col(corpusVecCol), 1, coarseDims),
        slice(col("__qvec"), 1, coarseDims), metric))
    val w1 = Window.partitionBy("query_id")
      .orderBy(Knn.scoreOrder(col("__cscore"), metric),
        col(corpusPkCol).asc)
    val candidates = coarse.withColumn("__cr", row_number().over(w1))
      .filter(col("__cr") <= k * c)
    val rescored = candidates.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(rescored, corpusPkCol, k, metric)
  }

  /** The documented 100 TB composition, realized: stage 1's full-corpus
    * scan is replaced by an IVF candidate fetch — only the `nProbe`
    * probed cells' rows are ever read (partition pruning on a
    * [[Ann.persistIvf]] layout) — the coarse dims-prefix ranking runs
    * over those candidates, and stage 2 re-scores the k·c survivors
    * with the full metric. Three prunes compose: cells → prefix rank →
    * exact refine; each stage is a pure deterministic function of the
    * inputs, so the whole composition stays oracle-checkable.
    * With `nProbe` = #cells this degenerates to [[truncated]] over the
    * full corpus (RerankSpec asserts it). */
  def truncatedOverIvf(index: Ann.IvfIndex, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, corpusPkCol: String,
      corpusVecCol: String, k: Int, c: Int, coarseDims: Int, nProbe: Int,
      metric: Metric = Metric.Cosine): DataFrame = {
    require(k >= 1 && c >= 1 && coarseDims >= 1 && nProbe >= 1)
    val q = queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"))
    val probed = Ann.Centroids(index.centroids)
      .probeRows(q, "__qvec", nProbe)
    val cand = index.corpusWithCell
      .filter(col(corpusVecCol).isNotNull)
      .join(broadcast(probed), Seq("__cell"))
    val coarse = cand.withColumn("__cscore", VF.distance(
      slice(col(corpusVecCol), 1, coarseDims),
      slice(col("__qvec"), 1, coarseDims), metric))
    val w1 = Window.partitionBy("query_id")
      .orderBy(Knn.scoreOrder(col("__cscore"), metric),
        col(corpusPkCol).asc)
    val keep = coarse.withColumn("__crk", row_number().over(w1))
      .filter(col("__crk") <= k * c)
    val rescored = keep.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(rescored, corpusPkCol, k, metric)
  }

  /** Maximal Marginal Relevance diversification (Carbonell & Goldstein,
    * SIGIR 1998) — re-rank a retrieved candidate set so results are
    * relevant AND mutually diverse: greedily pick
    * `argmax λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s)` (first pick =
    * max relevance; ties by pk). The RAG answer-context use case: top-k
    * near-duplicate passages waste the prompt budget, MMR spends it on
    * coverage.
    *
    * Greedy selection is genuinely NON-associative state (each pick
    * changes every remaining score), so this is the documented
    * `flatMapGroups` case (like `Packing.nextFitPack`), not a window:
    * candidates group per query and each group is the caller's BOUNDED
    * retrieval output (top-n, n in the tens/hundreds) — state never
    * scales with the corpus, queries parallelize across the cluster.
    * Cosine accumulates in the exact order of the codegen
    * `VectorDistance` kernel, so scores — and the oracle's ranking —
    * are bit-identical to the rest of the engine.
    *
    * Input: `(query_id long, pk long, rel double, vec array<float>)`
    * columns named by the caller. Returns
    * `(query_id, rank, <pkCol>, mmr)` with `mmr` rounded to 4 dp. */
  def mmr(candidates: DataFrame, queryIdCol: String, pkCol: String,
      relCol: String, vecCol: String, k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && lambda >= 0.0 && lambda <= 1.0)
    val spark = candidates.sparkSession
    import spark.implicits._
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    candidates
      .select(col(queryIdCol).cast("long"), col(pkCol).cast("long"),
        col(relCol).cast("double"), col(vecCol))
      .as[(Long, Long, Double, Seq[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // deterministic scan order: rel desc, pk asc
        val remaining = scala.collection.mutable.ArrayBuffer(
          it.toArray.sortBy(c => (-c._3, c._2)): _*)
        val selected = scala.collection.mutable.ArrayBuffer
          .empty[Seq[Float]]
        val out = Seq.newBuilder[(Long, Int, Long, Double)]
        var rank = 1
        while (rank <= k && remaining.nonEmpty) {
          var bestIdx = 0
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < remaining.length) {
            val c = remaining(i)
            val maxSim =
              if (selected.isEmpty) 0.0
              else selected.iterator.map(s => cos(c._4, s)).max
            val s = lambda * c._3 - (1.0 - lambda) * maxSim
            // strictly-greater keeps the first (lowest-pk) on ties —
            // remaining is sorted rel desc, pk asc
            if (s > bestScore) { bestScore = s; bestIdx = i }
            i += 1
          }
          val pick = remaining.remove(bestIdx)
          selected += pick._4
          out += ((qid, rank, pick._2,
            BigDecimal(bestScore) // HALF_UP: same rule as SQL round()
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
          rank += 1
        }
        out.result()
      }
      .toDF("query_id", "rank", pkCol, "mmr")
      .orderBy(col("query_id").asc, col("rank").asc)
  }
}
