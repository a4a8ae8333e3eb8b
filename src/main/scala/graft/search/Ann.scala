package graft.search

import graft.functions.{Metric, VectorDistance, VectorFunctions => VF}
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, SQLOrderingUtil}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, MapType, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** Approximate nearest-neighbor retrieval — the open-primitive stand-in
  * for the managed service's HNSW (reference queries delegate ANN to
  * Databricks Vector Search, src/databricks/query_endpoint.py:126-146).
  *
  * Two scale paths, both turning the similarity join into an equi-join on
  * a bucket id (SURVEY.md §4.3 — a logical rewrite done in library code,
  * where index metadata lives, not in a Catalyst rule):
  *
  *  - IVF: k centroids (the first k corpus vectors by id, or
  *    deterministic sampled k-means, [[Kmeans]]) frozen at build; corpus
  *    rows carry their nearest centroid's id (ideally as a partition
  *    column). A query probes its `nProbe` nearest centroids →
  *    equi-join on centroid id → exact re-score (refine, mirroring the
  *    reference's commented reranker hook QE:130) → top-k. Scan cost
  *    drops to nProbe/k of the corpus. [[Centroids]] owns the cell
  *    decision for every build, sync and probe.
  *  - LSH: MLlib BucketedRandomProjectionLSH; candidates from
  *    approxSimilarityJoin, refined by exact distance.
  */
object Ann {

  // ---------------- IVF (centroid pruning) ----------------

  /** `splits` (cell → sub-cell count) is non-empty only for a
    * [[balanceCells]]-split index; it is what [[persistIvf]] writes
    * beside the centroids so [[syncPersistedIvf]] can re-derive the
    * same sub-cell assignment for delta rows. */
  final case class IvfIndex(corpusWithCell: DataFrame,
      centroids: DataFrame, splits: Map[Int, Int] = Map.empty)

  /** Build with DETERMINISTIC centroids: the first `k` corpus vectors in
    * `idCol` order seed the cells (cell id = rank in that order). Where
    * [[buildIvfTrained]] trains its centroids on a sample, this build
    * takes them as they come — still a pure function of the corpus,
    * the same assignment on any engine — which makes even the PRUNED
    * query path (nProbe < k) expressible as plain SQL and
    * hash-checkable by the DuckDB oracle. Recall is governed by nProbe
    * exactly as with trained centroids.
    *
    * Scale shape: the centroid pick is a k-row limit collected once
    * (tiny); assignment is one per-row [[Centroids.assign]] expression
    * over the driver-held centroids — no join, no shuffle, no
    * iteration. Ties on distance break by cell id ascending. */
  def buildIvfDeterministic(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int): IvfIndex = {
    val valid = corpus.filter(col(vecCol).isNotNull)
    val cents = Centroids(valid.orderBy(col(idCol).asc).limit(k)
      .select(col(idCol).as("__cid"), col(vecCol).as("__centroid"))
      .withColumn("__cell",
        (row_number().over(Window.orderBy(col("__cid").asc)) - 1).cast("int")))
    IvfIndex(withCell(valid, vecCol, idCol, cents),
      cents.frame(corpus.sparkSession))
  }

  /** Rows with their nearest cell, in the layout's column order
    * `(id, __cell, rest…)` — the one assignment the deterministic,
    * trained and shard builds and [[syncPersistedIvf]] share. */
  private def withCell(rows: DataFrame, vecCol: String, idCol: String,
      cents: Centroids): DataFrame =
    rows.select(col(idCol) +: cents.assign(col(vecCol)).as("__cell") +:
      rows.columns.filter(_ != idCol).map(col).toSeq: _*)

  /** Build with TRAINED centroids: deterministic sampled k-means
    * ([[Kmeans]] — md5-ordered sample, fixed-iteration integer Lloyd)
    * instead of [[buildIvfDeterministic]]'s arbitrary first-k rows.
    * The quality path for corpora with real cluster structure, still a
    * pure function of the corpus: the oracle replays the sample, the
    * unrolled iterations, and the assignment in SQL
    * (`ann_ivf_trained_topk`). Centroid components are `y / 2^20` with
    * `|y| < 2^24`, hence exact in Float32 — the float centroids the
    * index carries (and [[persistIvf]] writes) lose nothing, so the
    * double-arithmetic assignment replay stays bit-exact. */
  def buildIvfTrained(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 2, sampleN: Int = 128): IvfIndex = {
    val valid = corpus.filter(col(vecCol).isNotNull)
    val trained = Kmeans.lloyd(
      Kmeans.sampleQuantized(valid, vecCol, idCol, sampleN), k, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = trained.zipWithIndex
      .map { case (c, i) => (i, c.map(y => (y.toDouble / Pq.Scale).toFloat)) }
      .toSeq.toDF("__cell", "__centroid")
    IvfIndex(withCell(valid, vecCol, idCol, Centroids(cents)), cents)
  }

  /** Batch query with centroid pruning + exact refine. One equi-join
    * shuffle on the probed cell ids instead of a full cross join. */
  def queryIvf(index: IvfIndex, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, corpusPkCol: String, corpusVecCol: String,
      k: Int, nProbe: Int, metric: Metric = Metric.Cosine): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qvec"))
    // probe: one row per (query, probed cell) — queries-sized
    val probed = Centroids(index.centroids).probeRows(q, "__qvec", nProbe)
    // candidates: equi-join on cell id, then exact score + top-k refine
    val cand = index.corpusWithCell.join(broadcast(probed), Seq("__cell"))
    Knn.topKPerQuery(cand.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric)),
      corpusPkCol, k, metric)
  }

  /** Per-cell occupancy — the observability a straggler guard needs.
    * k rows (one per cell): always driver-small. */
  def cellStats(index: IvfIndex): DataFrame =
    index.corpusWithCell.groupBy("__cell")
      .agg(count(lit(1)).as("n")).orderBy("__cell")

  /** One-row skew summary for `describe`-style surfaces. */
  def cellSkew(index: IvfIndex): DataFrame =
    cellStats(index).agg(
      count(lit(1)).as("n_cells"), sum("n").as("rows"),
      min("n").as("min_cell"), max("n").as("max_cell"),
      round(max("n") / avg("n"), 4).as("skew"))

  /** Recall@k telemetry for a drifting production index — the
    * observability counterpart of [[cellStats]]/[[cellSkew]]: measure
    * what an approximate leg loses vs EXACT KNN on a deterministic
    * sample of the query set, paying the exact scan only for the
    * sample.
    *
    * `answers` is the index's own output for the query set —
    * `(query_id, rank, <pk>)` from any leg ([[queryIvf]],
    * [[querySignLsh]], [[GraphAnn.queryPersistedGraph]], …). Queries
    * with `query_id % sampleMod == 0` are sampled (a pure function of
    * ids, so the oracle replays it); exact top-k runs sample × corpus
    * through the bounded-heap [[Knn.batchQueryAgg]] (map-side reduced,
    * no full candidate sort), and each sampled query reports
    * `|answers ∩ exact| / |exact|`. Returns
    * `(query_id, n_exact, n_hit, recall)`. Scale: the exact pass is
    * the only corpus-sized work and covers 1/sampleMod of the query
    * load; everything downstream is sample-sized equi-joins. */
  def recallAtK(answers: DataFrame, corpus: DataFrame, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, corpusPkCol: String,
      corpusVecCol: String, k: Int, sampleMod: Long,
      metric: Metric = Metric.Cosine): DataFrame = {
    val sample = queries.filter(col(queryIdCol) % sampleMod === 0)
    val exact = Knn.batchQueryAgg(corpus, sample, corpusVecCol,
      corpusPkCol, queryVecCol, queryIdCol, k, metric)
      .select(col("query_id"), col(corpusPkCol))
    val got = answers
      .filter(col("rank") <= k && col("query_id") % sampleMod === 0)
      .select(col("query_id"), col(corpusPkCol))
      .withColumn("__hit", lit(1))
    exact.join(got, Seq("query_id", corpusPkCol), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
      .orderBy("query_id")
  }

  /** nDCG@k telemetry — [[recallAtK]]'s rank-aware sibling: recall
    * says WHETHER the exact top-k came back, nDCG says whether it came
    * back IN ORDER (a leg that returns the right set reversed scores
    * recall 1.0 but low nDCG — the drift a reranker review needs).
    * Graded relevance is positional: the exact rank-r neighbor carries
    * gain k+1−r, anything outside the exact top-k gains 0; discounts
    * are the standard 1/log2(rank+1). Both DCG folds run over
    * rank-sorted arrays (the BM25 determinism trick), so the score is
    * reproducible on any partitioning and replayable in SQL. Same
    * sampling and scale shape as [[recallAtK]]: the exact pass covers
    * 1/sampleMod of the query load, everything else is sample-sized.
    * Returns `(query_id, ndcg)`. */
  def ndcgAtK(answers: DataFrame, corpus: DataFrame, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, corpusPkCol: String,
      corpusVecCol: String, k: Int, sampleMod: Long,
      metric: Metric = Metric.Cosine): DataFrame = {
    val sample = queries.filter(col(queryIdCol) % sampleMod === 0)
    val exact = Knn.batchQueryAgg(corpus, sample, corpusVecCol,
      corpusPkCol, queryVecCol, queryIdCol, k, metric)
      .select(col("query_id"), col(corpusPkCol),
        col("rank").cast("int").as("__ernk"))
    val gains = exact.withColumn("__gain",
      (lit(k + 1) - col("__ernk")).cast("double"))
    val got = answers
      .filter(col("rank") <= k && col("query_id") % sampleMod === 0)
      .select(col("query_id"), col(corpusPkCol),
        col("rank").cast("int").as("__arnk"))
    val dcg = got
      .join(gains.select(col("query_id"), col(corpusPkCol),
        col("__gain")), Seq("query_id", corpusPkCol), "left")
      .withColumn("__g", coalesce(col("__gain"), lit(0.0)))
      .groupBy("query_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("__arnk"), col("__g")))),
        lit(0.0),
        (acc, x) => acc + x("__g") / log2(x("__arnk") + lit(1.0)))
        .as("__dcg"))
    val idcg = gains.groupBy("query_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("__ernk"), col("__gain")))),
        lit(0.0),
        (acc, x) => acc + x("__gain") / log2(x("__ernk") + lit(1.0)))
        .as("__idcg"))
    idcg.join(dcg, Seq("query_id"), "left")
      .withColumn("ndcg",
        round(coalesce(col("__dcg"), lit(0.0)) / col("__idcg"), 4))
      .select(col("query_id"), col("ndcg"))
      .orderBy("query_id")
  }

  /** Straggler guard: frozen centroids (the first-k pick especially, on
    * a skewed corpus) can leave hot cells holding many× the mean — at
    * 100 TB one hot
    * cell is one task that runs for hours. Split every cell above
    * `maxSkew` × mean into equal-probability hash sub-cells
    * (`__subcell`). PURELY PHYSICAL: `queryIvf` still joins on
    * `__cell` (semantics and recall unchanged); `persistIvf` partitions
    * by (cell, subcell) so the hot cell becomes several files → several
    * parallel tasks, all still pruned together by the `__cell` filter.
    * The split map is k entries — driver-small by construction. */
  def balanceCells(index: IvfIndex, idCol: String,
      maxSkew: Double = 2.0): IvfIndex = {
    val stats = cellStats(index).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val mean = stats.values.sum.toDouble / math.max(1, stats.size)
    val cap = maxSkew * mean
    val splits: Map[Int, Int] = stats.map { case (cell, n) =>
      cell -> math.max(1, math.ceil(n / cap).toInt)
    }
    val splitCol = element_at(
      typedlit(splits), col("__cell"))
    val withSub = index.corpusWithCell.withColumn("__subcell",
      pmod(xxhash64(col(idCol)), splitCol.cast("long")).cast("int"))
    IvfIndex(withSub, index.centroids, splits)
  }

  /** Persist an IVF index partitioned BY CELL: each centroid cell is its
    * own parquet directory, so a probe turns into partition pruning —
    * `IN (probed cells)` prunes at the file listing, and a 1000-executor
    * cluster reads only nProbe/k of the bytes. This is the on-disk form
    * `queryIvf` approximates in memory. A [[balanceCells]]-split index
    * additionally partitions by `__subcell`, so hot cells land as
    * several files (parallel tasks) under the same prunable cell dir. */
  def persistIvf(index: IvfIndex, path: String): Unit = {
    val partCols =
      if (index.corpusWithCell.columns.contains("__subcell"))
        Seq("__cell", "__subcell")
      else Seq("__cell")
    // one writer per cell (or sub-cell) dir — without this every task
    // writes a sliver into every cell it touches (cells×parallelism
    // small files); sub-cells keep hot cells on multiple writers.
    // Layout and centroid side file land on disjoint paths → concurrent
    graft.index.PartitionedLayout.inParallel(
      index.corpusWithCell
        .repartition(partCols.map(col): _*)
        .write.mode("overwrite")
        .partitionBy(partCols: _*).parquet(path),
      index.centroids.coalesce(1)
        .write.mode("overwrite").parquet(path + "_centroids"))
    // a split index also persists its (cell → sub-cell count) map: the
    // metadata syncPersistedIvf needs to assign delta rows the same
    // sub-cell a full build would (same hash, same modulus)
    if (index.splits.nonEmpty) {
      val spark = index.corpusWithCell.sparkSession
      import spark.implicits._
      index.splits.toSeq.sorted.toDF("__cell", "__nsplit").coalesce(1)
        .write.mode("overwrite").parquet(path + "_splits")
    }
  }

  final case class PersistedIvf(path: String)

  /** The coarse quantizer of every IVF-family index, held on the
    * driver: the k rows of `(__cell, __centroid)`, each centroid also as
    * a literal. The ONE owner of the cell decision: a vector's cells
    * are the centroids in ascending (L2 distance, cell id) order — the
    * same `VectorDistance(…, L2)` evaluation and Spark's double
    * comparison in the driver form ([[probe]]) and the per-row column
    * form ([[nearest]]). Build and sync assign with `n = 1`
    * ([[assign]]); probes take `n = nProbe`. */
  final class Centroids private (schema: StructType, rows: Array[Row]) {
    private val cells: Array[(Int, Literal)] = rows.map(r =>
      r.getInt(0) -> Literal.create(r.get(1), schema(1).dataType))

    /** The centroids as a local relation: no file read, no job. */
    def frame(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, schema)

    /** The `nProbe` cells nearest to `query`, in probe order. */
    def probe(query: Seq[Float], nProbe: Int): Seq[Int] = {
      val q = Literal.create(query.toArray)
      cells.map { case (cell, c) =>
        (VectorDistance(q, c, Metric.L2).eval().asInstanceOf[Double], cell)
      }.sortWith { case ((da, ca), (db, cb)) =>
        val byDist = SQLOrderingUtil.compareDoubles(da, db)
        byDist < 0 || (byDist == 0 && ca < cb)
      }.take(nProbe).map(_._2).toSeq
    }

    /** The `n` cells nearest to `vec`, in probe order, as one per-row
      * expression (`array<int>`): the k `(distance, cell)` structs
      * sorted ascending — struct order is distance under Spark's double
      * comparison, then cell id. Linear in k; no join, no shuffle. */
    def nearest(vec: Column, n: Int): Column =
      if (cells.isEmpty) typedLit(Seq.empty[Int])
      else transform(
        slice(sort_array(array(cells.toSeq.map { case (cell, c) =>
          struct(VF.l2(vec, Bridge.column(c)).as("d"), lit(cell).as("c"))
        }: _*)), 1, n),
        _.getField("c"))

    /** The nearest cell — build and sync assignment. */
    def assign(vec: Column): Column = nearest(vec, 1).getItem(0)

    /** `rows` with one row per (row, probed cell): `__cell` holds each
      * of the `nProbe` cells nearest to `vecCol`. */
    def probeRows(rows: DataFrame, vecCol: String, nProbe: Int): DataFrame =
      rows.withColumn("__cell", explode(nearest(col(vecCol), nProbe)))

    /** The centroid of `cell` — the residual encoders' `__centroid`. */
    def centroid(cell: Column): Column = element_at(
      Bridge.column(Literal(ArrayBasedMapData(cells.map(_._1),
        cells.map(_._2.value)), MapType(IntegerType, schema(1).dataType))),
      cell)
  }

  object Centroids {
    /** Collect a `(__cell, __centroid)` table — k rows; a local
      * relation (every build's centroids) collects without a job. */
    def apply(table: DataFrame): Centroids = {
      val t = table.select("__cell", "__centroid")
      new Centroids(t.schema, t.collect())
    }
  }

  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Seq[(String, Long, Long)], Centroids)]()

  /** The centroids in the side-file directory `dir` (`path +
    * "_centroids"` for the IVF and IVF-PQ layouts, `+ "_cents"` for
    * PLAID), read once per directory listing. The cache key is every
    * listed file's (name, length, mtime): a rebuild writes new part
    * files, so it always misses, and each directory keeps only its
    * latest entry. A hit costs one directory listing and opens no
    * file. */
  def loadCentroids(spark: SparkSession, dir: String): Centroids = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p)
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sorted.toSeq
    Option(centroidCache.get(dir)).filter(_._1 == key).map(_._2)
      .getOrElse {
        val c = Centroids(spark.read.parquet(dir))
        centroidCache.put(dir, key -> c)
        c
      }
  }

  /** The batch probe of a persisted layout, run ONCE: `q`'s rows (with
    * its `__qvec`) exploded over their `nProbe` cells, `extra` columns
    * (they may read `__cell`) added, and the result collected —
    * queries × nProbe rows, driver-bounded by the batch. Returns the
    * probed cells (the partition-pruning IN-list) and the collected
    * rows as the refine's broadcast side, so the probe plan never
    * executes twice. */
  private[search] def collectProbe(spark: SparkSession, cents: Centroids,
      q: DataFrame, nProbe: Int, extra: Column*): (Seq[Int], DataFrame) = {
    val probed = cents.probeRows(q, "__qvec", nProbe)
      .select(col("*") +: extra: _*)
    val rows = probed.collect()
    (rows.map(_.getAs[Int]("__cell")).distinct.toSeq,
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
        probed.schema))
  }

  /** Query a persisted IVF index. The cell filter is a partition filter:
    * check `.explain` for `PartitionFilters: [__cell IN (...)]` with no
    * data-column filter — unprobed cells are never opened.
    *
    * `rowFilter` is the vector-store `filters` parameter on the ANN
    * path (the exact path has it via `Index.similaritySearch`):
    * PRE-rank semantics — the metadata predicate lands on the pruned
    * layout scan (parquet row-group pushdown, on TOP of the cell
    * partition pruning), and the top-k ranks only matching rows. A
    * probed cell holding < k matches under-fills — standard
    * filtered-ANN behavior; raise nProbe to trade scan width for
    * filtered recall. */
  def queryPersistedIvf(spark: SparkSession, idx: PersistedIvf,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpusPkCol: String, corpusVecCol: String, k: Int, nProbe: Int,
      metric: Metric = Metric.Cosine,
      rowFilter: Option[Column] = None): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qvec"))
    val (cells, probed) = collectProbe(spark,
      loadCentroids(spark, idx.path + "_centroids"), q, nProbe)
    val pruned = spark.read.parquet(idx.path)
      .filter(col("__cell").isin(cells: _*))
    val corpus = rowFilter.map(pruned.filter).getOrElse(pruned)
    val cand = corpus.join(broadcast(probed), Seq("__cell"))
    Knn.topKPerQuery(cand.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric)),
      corpusPkCol, k, metric)
  }

  /** One query vector against a persisted IVF layout — the
    * single-question plan behind `Index.similaritySearch`. The probe
    * runs on the driver over the cached centroids ([[Centroids.probe]],
    * the same cells [[queryPersistedIvf]] probes); the refine is
    * [[Knn.singleQuery]] over the cell-pruned layout scan: scan →
    * codegen'd distance → `TakeOrderedAndProject`. The layout is the
    * corpus, so the requested `columns` ride through the refine and no
    * join brings them back. `rowFilter` has [[queryPersistedIvf]]'s
    * PRE-rank semantics. Returns `columns :+ "score"` in rank order —
    * the rows, scores and order of the batch path for the same query. */
  def queryPersistedIvfOne(spark: SparkSession, idx: PersistedIvf,
      query: Seq[Float], columns: Seq[String], corpusPkCol: String,
      corpusVecCol: String, k: Int, nProbe: Int, metric: Metric,
      rowFilter: Option[Column]): DataFrame = {
    val cells = loadCentroids(spark, idx.path + "_centroids")
      .probe(query, nProbe)
    val pruned = spark.read.parquet(idx.path)
      .filter(col("__cell").isin(cells: _*))
    Knn.singleQuery(rowFilter.map(pruned.filter).getOrElse(pruned),
      corpusVecCol, corpusPkCol, query, k, metric, columns)
      .select((columns :+ "score").map(col): _*)
  }

  /** Incremental maintenance of a [[persistIvf]] layout — FAISS's IVF
    * `add`/`remove` for the on-disk form. Centroids stay FROZEN (the
    * FAISS contract: adding vectors never re-centers; rebuild to
    * re-train), so the change batch is assigned to cells with the
    * persisted centroids and ONLY the touched cell directories are
    * rewritten (dynamic partition overwrite) — at 100 TB a delta batch
    * touches a handful of cells, not the whole index.
    *
    * Change semantics mirror [[graft.index.VectorIndex.sync]]
    * (ChangeLog rows: `__op`/`__seq`, last-write-wins per pk, deletes
    * and null-vector upserts leave the index). Affected cells = cells
    * that currently HOLD a changed pk (an updated vector may migrate
    * cells, so its old row must go) ∪ cells receiving new rows. The
    * old-cell lookup is a pk semi-join against the layout — pushed to
    * parquet row groups; co-partition the layout by pk inside cells if
    * batches are pk-clustered.
    *
    * [[balanceCells]]-split (sub-celled) layouts sync too: the split
    * map persisted beside the centroids re-derives each delta row's
    * `__subcell` (same hash, same modulus → the assignment a full
    * rebuild would give), and only the touched (cell, sub-cell) dirs
    * are rewritten — the skew guard and incremental maintenance
    * compose instead of excluding each other. */
  def syncPersistedIvf(spark: SparkSession, idx: PersistedIvf,
      changes: DataFrame, pkCol: String, vecCol: String): Unit = {
    import graft.index.ChangeLog
    val layout = spark.read.parquet(idx.path)
    val hasSub = layout.columns.contains("__subcell")
    val partCols = if (hasSub) Seq("__cell", "__subcell") else Seq("__cell")
    val latest = ChangeLog.latestPerPk(changes, pkCol)
    val upserts = latest.filter(col("__op") =!= ChangeLog.OpDelete)
      .drop("__op", "__seq")
      .filter(col(vecCol).isNotNull)
    val assignedCell = withCell(upserts, vecCol, pkCol,
      loadCentroids(spark, idx.path + "_centroids"))
    val assigned =
      if (!hasSub) assignedCell
      else {
        // k entries, driver-small by construction (mirrors balanceCells)
        val splits = spark.read.parquet(idx.path + "_splits")
          .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
        // coalesce to 1 sub-cell: a cell that was EMPTY at build time
        // has no cellStats row, so it is absent from the splits map —
        // a delta row landing there must not null-propagate into the
        // partition key (NPE at the affected-dir collect / a
        // __HIVE_DEFAULT_PARTITION__ dir no probe would read)
        assignedCell.withColumn("__subcell",
          pmod(xxhash64(col(pkCol)),
            coalesce(element_at(typedlit(splits), col("__cell")), lit(1))
              .cast("long"))
            .cast("int"))
      }
    // no broadcast hint on the pk joins: a delta batch is usually tiny
    // (AQE broadcasts it on its own) but can legitimately be huge, and a
    // forced broadcast of an unbounded side is a driver OOM at scale
    val changedPks = latest.select(col(pkCol))
    val affected: Seq[Seq[Any]] = layout.join(changedPks, Seq(pkCol))
      .select(partCols.map(col): _*)
      .union(assigned.select(partCols.map(col): _*)).distinct()
      .collect().map(r => partCols.indices.map(r.getInt))
    // merge only the affected dirs' rows (partition-pruned read),
    // rewrite only those dirs, drop any dir whose rows all died — the
    // shared skeleton, graft.index.PartitionedLayout
    import graft.index.PartitionedLayout
    PartitionedLayout.mergeOverwrite(spark, idx.path, partCols, affected,
      layout.filter(PartitionedLayout.touchedPred(partCols, affected)),
      Seq(pkCol), changedPks, assigned)
  }

  /** Shard-parallel IVF build: assign ONE corpus shard against shared,
    * pre-computed centroids (from [[buildIvfDeterministic]],
    * [[buildIvfTrained]], or a persisted layout's `_centroids` file).
    * Because cell assignment is a pure per-row function of the
    * centroids, N shards built this way hold exactly the rows a single
    * full build would — which is what makes [[mergeIvfShards]] a pure
    * file move. This is how a 100 TB index is actually built: train the
    * quantizer once on a sample, fan the corpus out into independent
    * shard builds (no global shuffle — each shard is one narrow
    * assignment pass), then merge (FAISS's `merge_from` /
    * `merge_ondisk` shape). */
  def buildIvfShard(shard: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame): IvfIndex =
    IvfIndex(withCell(shard.filter(col(vecCol).isNotNull), vecCol, idCol,
      Centroids(centroids)), centroids)

  /** Merge N shard layouts (each from [[persistIvf]] of a
    * [[buildIvfShard]] index) into one queryable layout at `destPath` —
    * by FILE MOVES only. Shards sharing frozen centroids partition the
    * row space, so the union of their cell dirs IS the full build's
    * layout; no byte is read or rewritten, the merge is O(files)
    * filesystem metadata operations (the only kind of "merge" that
    * works when the shards total 100 TB). Guards: every shard's
    * centroid side file must be bit-identical to the first's (merging
    * mismatched quantizers silently corrupts assignment — fail loudly
    * instead), and [[balanceCells]]-split shards are rejected (their
    * per-shard sub-cell moduli don't compose; balance AFTER merging if
    * needed). Shard roots are consumed (moved, then deleted). Returns
    * the number of data files moved. */
  def mergeIvfShards(spark: SparkSession, shardPaths: Seq[String],
      destPath: String): Int = {
    require(shardPaths.nonEmpty, "mergeIvfShards needs >= 1 shard")
    import org.apache.hadoop.fs.Path
    val fs = new Path(destPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def centroidRows(p: String): Seq[(Int, Seq[Float])] =
      spark.read.parquet(p + "_centroids").orderBy("__cell").collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1)).toSeq
    val ref = centroidRows(shardPaths.head)
    shardPaths.tail.foreach { p =>
      require(centroidRows(p) == ref,
        s"shard $p was built against different centroids than " +
          s"${shardPaths.head} — refusing to merge mismatched quantizers")
    }
    shardPaths.foreach { p =>
      require(!fs.exists(new Path(p + "_splits")),
        s"shard $p is balanceCells-split; merge unsplit shards and " +
          "balance the merged layout instead")
    }
    val moved = graft.index.PartitionedLayout.moveMerge(spark,
      shardPaths, destPath, depth = 1)
    // one centroid side file serves the merged layout (all were equal)
    fs.delete(new Path(destPath + "_centroids"), true)
    fs.rename(new Path(shardPaths.head + "_centroids"),
      new Path(destPath + "_centroids"))
    shardPaths.tail.foreach(p => fs.delete(new Path(p + "_centroids"), true))
    moved
  }

  /** Sign-LSH twin of [[mergeIvfShards]]: codes are a pure per-row
    * function of (vector, tables, bits), so N shard layouts built with
    * the SAME parameters partition the row space and merge by file
    * moves — both the (table, code) posting dirs and the pk-hash
    * `_docs` refine table. Guard: a shard whose table dirs exceed
    * `tables` was built with different parameters — fail loudly.
    * Shard roots are consumed. Returns the merged handle. */
  def mergeSignLshShards(spark: SparkSession, shardPaths: Seq[String],
      destPath: String, tables: Int, bits: Int): PersistedSignLsh = {
    import org.apache.hadoop.fs.Path
    require(shardPaths.nonEmpty, "mergeSignLshShards needs >= 1 shard")
    val fs = new Path(destPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    shardPaths.foreach { p =>
      val ts = fs.listStatus(new Path(p))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__t="))
        .map(_.getPath.getName.stripPrefix("__t=").toInt)
      require(ts.forall(t => t >= 0 && t < tables),
        s"shard $p has table dirs outside [0, $tables) — built with " +
          "different parameters than the merge target")
    }
    graft.index.PartitionedLayout.inParallel(
      graft.index.PartitionedLayout.moveMerge(spark, shardPaths,
        destPath, depth = 2),
      graft.index.PartitionedLayout.moveMerge(spark,
        shardPaths.map(_ + "_docs"), destPath + "_docs", depth = 1))
    PersistedSignLsh(destPath, tables, bits)
  }

  // ------- Native sign-LSH (deterministic, engine-owned) -------

  final case class SignLshIndex(corpusCoded: DataFrame, tables: Int,
      bits: Int)

  /** Hash every corpus row to one bucket code per table with the
    * deterministic Rademacher sign-LSH
    * (graft.functions.SignLshCodes). Unlike the MLlib path, the codes
    * are a pure function of the vector — the same on any engine — so
    * the realistic pruned query below is DuckDB-oracle-checkable, and
    * an index persisted by (table, code) gets genuine partition
    * pruning like persistIvf. */
  def buildSignLsh(corpus: DataFrame, vecCol: String, tables: Int = 8,
      bits: Int = 4): SignLshIndex = {
    val coded = corpus.filter(col(vecCol).isNotNull)
      .withColumn("__codes", graft.functions.SignLshFunctions
        .signLshCodes(col(vecCol), tables, bits))
    SignLshIndex(coded, tables, bits)
  }

  /** Batch ANN via the native sign-LSH: explode (table, code) on both
    * sides, equi-join on the bucket (the only shuffle — on code ids,
    * never on vectors × vectors), dedupe pairs found by several
    * tables, exact top-k refine. A query can return < k rows when its
    * buckets hold < k candidates — standard ANN semantics. */
  def querySignLsh(index: SignLshIndex, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, corpusPkCol: String,
      corpusVecCol: String, k: Int,
      metric: Metric = Metric.Cosine): DataFrame = {
    val c = index.corpusCoded
      .select(col(corpusPkCol), col(corpusVecCol),
        posexplode(col("__codes")).as(Seq("__t", "__code")))
    val q = queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"),
        posexplode(graft.functions.SignLshFunctions
          .signLshCodes(col(queryVecCol), index.tables, index.bits))
          .as(Seq("__t", "__code")))
    val cand = c.join(broadcast(q), Seq("__t", "__code"))
      .dropDuplicates("query_id", corpusPkCol)
    val scored = cand.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(scored, corpusPkCol, k, metric)
  }

  /** Handle to an index persisted by [[persistSignLsh]]. */
  final case class PersistedSignLsh(path: String, tables: Int, bits: Int)

  /** Persist the sign-LSH index in EXPLODED form partitioned by
    * `(__t, __code)`: every (table, bucket-code) pair is its own
    * parquet directory — `tables × 2^bits` directories, so this layout
    * fits coarse codes (bits ≲ 8; beyond that, sub-bucket the code).
    * A query's (table, code) pairs then prune at the file listing:
    * only the queries' own buckets are ever opened, the on-disk
    * mirror of [[querySignLsh]]'s equi-join — and the sign-LSH
    * analogue of [[persistIvf]]. */
  /** pk-hash dir count of the `_docs` side table `persistSignLsh`
    * writes — the table that lets [[syncPersistedSignLsh]] locate a
    * changed pk's OLD bucket rows with a pruned scan instead of a full
    * layout sweep (the [[graft.operators.NearDupIndex]] discipline). */
  private[graft] val signLshDocBuckets = 32
  private def SignLshDocBuckets = signLshDocBuckets

  def persistSignLsh(index: SignLshIndex, pkCol: String, vecCol: String,
      path: String): PersistedSignLsh = {
    // carry every corpus column (metadata included), like persistIvf:
    // that is what lets a rowFilter land on the pruned layout scan
    val carry = index.corpusCoded.columns.filterNot(_ == "__codes")
      .map(col).toSeq
    // the two tables land on disjoint paths — write them concurrently
    graft.index.PartitionedLayout.inParallel(
      index.corpusCoded
        .select(carry :+
          posexplode(col("__codes")).as(Seq("__t", "__code")): _*)
        // cluster rows by their target partition first: one writer per
        // (table, code) dir instead of every task spraying a file into
        // every dir it touches — tables×2^bits×parallelism tiny files
        // otherwise, the classic partitioned-write mistake at scale
        .repartition(col("__t"), col("__code"))
        .write.mode("overwrite").partitionBy("__t", "__code").parquet(path),
      // pk-hash-bucketed row table: sync's pk lookups prune to ≤ batch
      // dirs of it (codes are recomputable from the stored vector, so no
      // separate code column is persisted here)
      index.corpusCoded.drop("__codes")
        .withColumn("__dbkt",
          pmod(xxhash64(col(pkCol)), lit(SignLshDocBuckets.toLong))
            .cast("int"))
        .repartition(col("__dbkt"))
        .write.mode("overwrite").partitionBy("__dbkt")
        .parquet(path + "_docs"))
    // write-fence (parquet footer counts): the exploded store holds
    // exactly `tables` rows per `_docs` row — unequal means a torn
    // twin; fail the build loudly (the Plaid/MaxSim/Sq8 discipline)
    val spark = index.corpusCoded.sparkSession
    val ns = spark.read.parquet(path).count()
    val nd = spark.read.parquet(path + "_docs").count()
    require(ns == nd * index.tables,
      s"signlsh persist torn: store=$ns rows, _docs=$nd × " +
        s"${index.tables} tables at $path")
    PersistedSignLsh(path, index.tables, index.bits)
  }

  /** CDF-batch maintenance of a [[persistSignLsh]] layout — the
    * sign-LSH leg's [[syncPersistedIvf]]: last-write-wins per pk,
    * deletes and null-vector upserts leave the index. Bucket codes are
    * a pure per-row function of the vector (no trained state), so a
    * synced layout is IDENTICAL to a fresh build over the live corpus
    * — the strongest sync contract of any leg. A changed pk's OLD
    * bucket rows are located by re-coding its stored vector from
    * `_docs` (a lookup pruned to the batch's pk-hash dirs); only
    * touched `(table, code)` dirs rewrite, and the touched-dir set is
    * driver-bounded by the CODE SPACE (tables × 2^bits), never by the
    * batch. Idempotent under replay (anti-join by pk, then re-add). */
  def syncPersistedSignLsh(spark: SparkSession, idx: PersistedSignLsh,
      changes: DataFrame, pkCol: String, vecCol: String): Unit = {
    import graft.index.ChangeLog
    val latest = ChangeLog.latestPerPk(changes, pkCol).localCheckpoint(true)
    val changedPks = latest.select(col(pkCol))
    val newCoded = latest.filter(col("__op") =!= ChangeLog.OpDelete)
      .drop("__op", "__seq").filter(col(vecCol).isNotNull)
      .withColumn("__codes", graft.functions.SignLshFunctions
        .signLshCodes(col(vecCol), idx.tables, idx.bits))
      .localCheckpoint(true) // pairs + layout merge + _docs merge
    val dbks = changedPks
      .select(pmod(xxhash64(col(pkCol)), lit(SignLshDocBuckets.toLong))
        .cast("int").as("__dbkt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val docsTable = spark.read.parquet(idx.path + "_docs")
    val oldCoded = docsTable.filter(col("__dbkt").isin(dbks: _*))
      .join(changedPks, Seq(pkCol), "left_semi")
      .withColumn("__codes", graft.functions.SignLshFunctions
        .signLshCodes(col(vecCol), idx.tables, idx.bits))
    def pairsOf(df: DataFrame): DataFrame = df
      .select(posexplode(col("__codes")).as(Seq("__t", "__code")))
      .select("__t", "__code").distinct()
    import graft.index.PartitionedLayout
    // ---- codes layout: rewrite touched (t, code) dirs ----
    val affected: Seq[Seq[Any]] = pairsOf(oldCoded).union(pairsOf(newCoded))
      .distinct()
      .collect().map(r => Seq[Any](r.getInt(0), r.getLong(1)))
    if (affected.nonEmpty) {
      val current = spark.read.parquet(idx.path)
        .filter(PartitionedLayout.touchedPred(Seq("__t", "__code"),
          affected))
      val carry = current.columns.filterNot(c => c == "__t" || c == "__code")
      val newRows = newCoded
        .select(carry.map(col) :+
          posexplode(col("__codes")).as(Seq("__t", "__code")): _*)
      PartitionedLayout.mergeOverwrite(spark, idx.path,
        Seq("__t", "__code"), affected, current, Seq(pkCol), changedPks,
        newRows)
    }
    // ---- _docs: same merge keyed by pk-hash dirs. New rows' pks are a
    // subset of the changed pks, so their dirs are a subset of `dbks` —
    // no separate touched-dir collect needed. ----
    val newDocs = newCoded.drop("__codes")
      .withColumn("__dbkt",
        pmod(xxhash64(col(pkCol)), lit(SignLshDocBuckets.toLong))
          .cast("int"))
    PartitionedLayout.mergeOverwrite(spark, idx.path + "_docs",
      Seq("__dbkt"), dbks.map(Seq[Any](_)),
      docsTable.filter(col("__dbkt").isin(dbks: _*)),
      Seq(pkCol), changedPks, newDocs)
  }

  /** Compact an append-grown sign-LSH layout
    * ([[graft.streaming.VecDedupIngest.admitAndSync]]'s fast path adds
    * one file per touched `(table, code)` dir per fresh batch):
    * rewrite oversized dirs as one file each, rows unchanged. Returns
    * the number of dirs compacted. */
  def compactPersistedSignLsh(spark: SparkSession, idx: PersistedSignLsh,
      maxFilesPerDir: Int = 1): Int = {
    import graft.index.PartitionedLayout
    PartitionedLayout.compact(spark, idx.path, Seq("__t", "__code"),
      maxFilesPerDir) +
      PartitionedLayout.compact(spark, idx.path + "_docs", Seq("__dbkt"),
        maxFilesPerDir)
  }

  /** Bucket-occupancy telemetry for a [[persistSignLsh]] layout — the
    * observability a [[graft.streaming.VecDedupIngest]] `maxBucket`
    * guard needs (the [[graft.operators.NearDupIndex.bucketStats]] of
    * the sign-LSH index): you cannot pick a cap you cannot see. One
    * count shuffle over the codes layout; returns `(__t, __code, n)`
    * for buckets holding at least `minSize` vectors, largest first. */
  def signLshBucketStats(spark: SparkSession, idx: PersistedSignLsh,
      minSize: Long = 2L): DataFrame =
    spark.read.parquet(idx.path)
      .groupBy("__t", "__code")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSize)
      .orderBy(col("n").desc, col("__t"), col("__code"))

  /** Batch ANN over a [[persistSignLsh]] layout. The queries' exact
    * (table, code) pairs become an OR-of-conjunctions partition
    * predicate — pruning happens at the file listing (check
    * `.explain` for `PartitionFilters`), so the scan cost is
    * O(queries' buckets), not O(index). Refine is exact top-k, same
    * semantics as [[querySignLsh]].
    *
    * `rowFilter` is the metadata-filter parameter with the same
    * PRE-rank semantics as [[queryPersistedIvf]]: the predicate lands
    * on the bucket-pruned layout scan (row-group pushdown on top of
    * the (table, code) dir pruning) and only matching rows are ranked;
    * sparse buckets under-fill — raise `tables` at build time to trade
    * scan width for filtered recall. */
  def queryPersistedSignLsh(spark: SparkSession, idx: PersistedSignLsh,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpusPkCol: String, corpusVecCol: String, k: Int,
      metric: Metric = Metric.Cosine,
      rowFilter: Option[Column] = None): DataFrame = {
    val q = queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"),
        posexplode(graft.functions.SignLshFunctions
          .signLshCodes(col(queryVecCol), idx.tables, idx.bits))
          .as(Seq("__t", "__code")))
    // queries × tables pairs — tiny by contract; becomes the pruning
    // predicate over the partition columns (grouped per table, so the
    // expression depth is bounded by the table count)
    val pairs: Seq[Seq[Any]] = q.select("__t", "__code").distinct()
      .collect().map(r => Seq[Any](r.getInt(0), r.getLong(1)))
    val pruned = spark.read.parquet(idx.path)
      .filter(graft.index.PartitionedLayout
        .touchedPred(Seq("__t", "__code"), pairs))
    val c = rowFilter.map(pruned.filter).getOrElse(pruned)
    val cand = c.join(broadcast(q), Seq("__t", "__code"))
      .dropDuplicates("query_id", corpusPkCol)
    val scored = cand.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(scored, corpusPkCol, k, metric)
  }

  /** Embedding near-duplicates of a batch AGAINST a persisted sign-LSH
    * corpus layout — the vector-side analog of
    * [[graft.operators.NearDupIndex.nearDupsAgainst]]: "which of
    * today's vectors already live (to within cosine ≥ threshold) in
    * the corpus index?" without rescanning or self-joining the corpus.
    * Candidates are (table, code) bucket collisions with the scan
    * pruned AT THE FILE LISTING to the batch's own codes — the
    * collected predicate is bounded by the CODE SPACE
    * (tables × 2^bits), not the batch size — refined by exact cosine.
    * Returns distinct `(corpus_id, delta_id)` pairs; anti-join the
    * batch on `delta_id` to keep only novel vectors. Recall follows
    * sign-LSH bucketing (candidates OR across tables — raise `tables`
    * at build for higher recall). */
  def nearDupsAgainstSignLsh(spark: SparkSession, idx: PersistedSignLsh,
      delta: DataFrame, deltaIdCol: String, deltaVecCol: String,
      corpusPkCol: String, corpusVecCol: String,
      cosineThreshold: Double): DataFrame = {
    val q = delta.filter(col(deltaVecCol).isNotNull)
      .select(col(deltaIdCol).as("delta_id"),
        col(deltaVecCol).as("__dvec"),
        posexplode(graft.functions.SignLshFunctions
          .signLshCodes(col(deltaVecCol), idx.tables, idx.bits))
          .as(Seq("__t", "__code")))
    val pairs: Seq[Seq[Any]] = q.select("__t", "__code").distinct()
      .collect().map(r => Seq[Any](r.getInt(0), r.getLong(1)))
    // no broadcast hint on the batch side: a delta can legitimately be
    // huge; AQE broadcasts small ones on its own
    val c = spark.read.parquet(idx.path)
      .filter(graft.index.PartitionedLayout
        .touchedPred(Seq("__t", "__code"), pairs))
    c.join(q, Seq("__t", "__code"))
      .filter(col(corpusPkCol) =!= col("delta_id"))
      .dropDuplicates("delta_id", corpusPkCol)
      .withColumn("__cos", VF.cosine(col(corpusVecCol), col("__dvec")))
      .filter(col("__cos") >= cosineThreshold)
      .select(col(corpusPkCol).as("corpus_id"), col("delta_id"))
  }

  // ------- Native bucketed random-projection LSH (Euclidean) -------

  final case class BrpLshIndex(corpusBucketed: DataFrame, tables: Int,
      bucketLength: Double)

  /** Hash every corpus row to one EUCLIDEAN bucket per table with the
    * deterministic Rademacher projection
    * ([[graft.functions.BrpLshBuckets]]) — the engine-owned analog of
    * MLlib's `BucketedRandomProjectionLSH` whose buckets, being a pure
    * integer function of the vector, replay in any SQL engine (the
    * MLlib model's Gaussian projections are JVM-internal, checkable
    * only at degenerate parameters — see `ann_lsh_fullcover`). */
  def buildBrpLsh(corpus: DataFrame, vecCol: String, tables: Int = 4,
      bucketLength: Double = 0.5): BrpLshIndex = {
    val bucketed = corpus.filter(col(vecCol).isNotNull)
      .withColumn("__buckets", graft.functions.SignLshFunctions
        .brpLshBuckets(col(vecCol), tables, bucketLength))
    BrpLshIndex(bucketed, tables, bucketLength)
  }

  /** Batch ANN via the native BRP-LSH: explode (table, bucket) on both
    * sides, equi-join on the bucket id (the only shuffle — on integer
    * bucket ids, never vectors × vectors), dedupe pairs found by
    * several tables, exact top-k refine. Same plan shape as
    * [[querySignLsh]] with Euclidean buckets instead of hyperplane
    * sign codes; a query whose buckets hold < k candidates under-fills
    * — standard ANN semantics. */
  def queryBrpLsh(index: BrpLshIndex, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, corpusPkCol: String,
      corpusVecCol: String, k: Int,
      metric: Metric = Metric.L2): DataFrame = {
    val c = index.corpusBucketed
      .select(col(corpusPkCol), col(corpusVecCol),
        posexplode(col("__buckets")).as(Seq("__t", "__bucket")))
    val q = queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"),
        posexplode(graft.functions.SignLshFunctions
          .brpLshBuckets(col(queryVecCol), index.tables,
            index.bucketLength))
          .as(Seq("__t", "__bucket")))
    val cand = c.join(broadcast(q), Seq("__t", "__bucket"))
      .dropDuplicates("query_id", corpusPkCol)
    val scored = cand.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(scored, corpusPkCol, k, metric)
  }

  // ---------------- LSH (random projection buckets) ----------------

  final case class LshIndex(model: BucketedRandomProjectionLSHModel,
      corpusHashed: DataFrame)

  type BucketedRandomProjectionLSHModel =
    org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel

  def buildLsh(corpus: DataFrame, vecCol: String, bucketLength: Double,
      numTables: Int = 4, seed: Long = 42L): LshIndex = {
    val withVec = corpus.filter(col(vecCol).isNotNull)
      .withColumn("__mlvec", array_to_vector(col(vecCol)))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("__mlvec").setOutputCol("__hashes")
      .setBucketLength(bucketLength).setNumHashTables(numTables)
      .setSeed(seed)
    val model = lsh.fit(withVec)
    LshIndex(model, model.transform(withVec))
  }

  /** Batch ANN via LSH similarity join (L2 candidates within
    * `maxDistance`), refined to exact top-k per query. */
  def queryLsh(index: LshIndex, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, corpusPkCol: String, k: Int,
      maxDistance: Double): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      array_to_vector(col(queryVecCol)).as("__mlvec"))
    val joined = index.model.approxSimilarityJoin(
      index.corpusHashed, q, maxDistance, "score")
    val flat = joined.select(
      col("datasetB.query_id").as("query_id"),
      col(s"datasetA.$corpusPkCol").as(corpusPkCol),
      col("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").asc, col(corpusPkCol).asc)
    flat.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id").asc, col("rank").asc)
  }
}
