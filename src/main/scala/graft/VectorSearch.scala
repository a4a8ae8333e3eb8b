package graft

import graft.embed.{Embedder, FittedEmbedder, FittedEmbedders}
import graft.functions.Metric
import graft.index.{IndexCatalog, IndexKinds, IndexMeta, VectorIndex}
import graft.search.Knn
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Drop-in façade with the reference client's ergonomics, so a user of
  * `VectorSearchClient` can switch call-for-call:
  *
  *   reference (src/databricks/syntetic_data.py:84-107,195-211;
  *   query_endpoint.py:122-147)             | graft
  *   ----------------------------------------|---------------------------
  *   `VectorSearchClient()`                  | `VectorSearch(spark, root)`
  *   `create_endpoint(name, type)`           | `createEndpoint(name)`
  *   `create_delta_sync_index(endpoint,      | `createDeltaSyncIndex(...)`
  *      source_table, index_name, TRIGGERED, |   (managed mode embeds with
  *      pk, embedding_{source|vector}_column)|   the engine's Embedder;
  *                                           |   self-managed indexes the
  *                                           |   precomputed vector col)
  *   `get_index(endpoint, name)`             | `getIndex(name)`
  *   `index.sync()`                          | `Index.sync(changes)`
  *   `index.similarity_search(columns,       | `Index.similaritySearch(...)`
  *      query_text | query_vector,           |   → rows of requested cols
  *      num_results)`                        |   + trailing score
  *
  * Everything executes as Spark plans — no service, no driver-side loops.
  */
final class VectorSearch(spark: SparkSession, root: String) {

  // re-opens any indexes persisted under this root by earlier sessions;
  // managed indexes reload their fitted embedder lazily in getIndex, so
  // query-text search works across sessions in the build-time space
  private val catalog = IndexCatalog.open(spark, root)
  private val endpoints = scala.collection.mutable.Set[String]()
  private val sources = scala.collection.mutable.Map[String, DataFrame]()
  // managed-embedding indexes remember (FITTED embedder, text column) so
  // sync/query re-embed in the build-time weighting space — re-fitting a
  // corpus-dependent embedder (TF-IDF) on a tiny change batch would put
  // synced rows in a different space and corrupt rankings
  private val embedders =
    scala.collection.mutable.Map[String, (FittedEmbedder, String)]()

  /** Endpoints are a namespace in the reference; idempotent here. */
  def createEndpoint(name: String): this.type = { endpoints += name; this }
  def getEndpoint(name: String): Boolean = endpoints.contains(name)

  /** Managed-embedding mode ("client"): the engine embeds `textCol`
    * itself at build/sync/query time. */
  def createDeltaSyncIndex(endpoint: String, source: DataFrame,
      indexName: String, primaryKey: String, embeddingSourceColumn: String,
      embedder: Embedder): Index =
    createDeltaSyncIndex(endpoint, source, indexName, primaryKey,
      embeddingSourceColumn, embedder, IndexKinds.Exact, Map.empty)

  /** Managed-embedding mode with an engine-side index `kind`: the
    * engine embeds at build/sync/query time AND builds the kind's
    * persisted ANN layout over its own embeddings — the full managed
    * story (the reference user never sees vectors OR the service's
    * index type; both live behind `similarity_search`). The hybrid
    * kind keys its keyword leg on the embedding source column unless
    * `options("textCol")` overrides it. */
  def createDeltaSyncIndex(endpoint: String, source: DataFrame,
      indexName: String, primaryKey: String, embeddingSourceColumn: String,
      embedder: Embedder, indexKind: String,
      options: Map[String, String]): Index = {
    require(getEndpoint(endpoint), s"endpoint $endpoint does not exist")
    require(IndexKinds.All.contains(indexKind),
      s"unknown index kind '$indexKind' (one of ${IndexKinds.All})")
    val fitted = embedder.fit(source, embeddingSourceColumn)
    val embedded = fitted.transform(source, embeddingSourceColumn)
    val opts =
      if (indexKind == IndexKinds.HybridKind && !options.contains("textCol"))
        options + ("textCol" -> embeddingSourceColumn)
      else options
    val idx = catalog.create(indexName, primaryKey, "embedding",
      embedder.dim, Metric.Cosine, kind = indexKind, options = opts)
    idx.rebuild(embedded)
    IndexKinds.build(spark, idx.meta, embedded)
    catalog.save(spark, indexName)
    // persist the FITTED transform too, so reopening sessions keep
    // embedding queries/deltas in the build-time weighting space
    FittedEmbedders.save(spark, fitted, embeddingSourceColumn,
      s"$root/${indexName}__embedder")
    sources(indexName) = source
    embedders(indexName) = (fitted, embeddingSourceColumn)
    new Index(spark, idx, Some((fitted, embeddingSourceColumn)))
  }

  /** Self-managed-vectors mode ("custom"): index a precomputed
    * `array<float>` column. */
  def createDeltaSyncIndex(endpoint: String, source: DataFrame,
      indexName: String, primaryKey: String, embeddingVectorColumn: String,
      embeddingDimension: Int): Index =
    createDeltaSyncIndex(endpoint, source, indexName, primaryKey,
      embeddingVectorColumn, embeddingDimension, IndexKinds.Exact)

  /** Self-managed mode with an engine-side index `kind` — the
    * reference user picks an index TYPE at creation and the service
    * routes every later `similarity_search` accordingly; here the kind
    * ("exact" | "ivf" | "signlsh" | "graph" | "hybrid") plus its
    * `options` (frozen into the metadata) select which persisted
    * layout is built now and searched/synced later
    * ([[graft.index.IndexKinds]]). */
  def createDeltaSyncIndex(endpoint: String, source: DataFrame,
      indexName: String, primaryKey: String, embeddingVectorColumn: String,
      embeddingDimension: Int, indexKind: String,
      options: Map[String, String] = Map.empty): Index = {
    require(getEndpoint(endpoint), s"endpoint $endpoint does not exist")
    require(IndexKinds.All.contains(indexKind),
      s"unknown index kind '$indexKind' (one of ${IndexKinds.All})")
    val idx = catalog.create(indexName, primaryKey, embeddingVectorColumn,
      embeddingDimension, Metric.Cosine, kind = indexKind,
      options = options)
    idx.rebuild(source)
    IndexKinds.build(spark, idx.meta, source)
    catalog.save(spark, indexName)
    sources(indexName) = source
    new Index(spark, idx, None)
  }

  def getIndex(name: String): Option[Index] =
    catalog.get(name).map { i =>
      val fitted = embedders.get(name).orElse {
        val loaded = FittedEmbedders.load(spark, s"$root/${name}__embedder")
        loaded.foreach(embedders(name) = _)
        loaded
      }
      new Index(spark, i, fitted)
    }

  def deleteIndex(name: String): Unit = {
    catalog.drop(spark, name)
    embedders.remove(name)
    val p = new org.apache.hadoop.fs.Path(s"$root/${name}__embedder")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** Handle mirroring the reference's index object. */
final class Index(spark: SparkSession, underlying: VectorIndex,
    embedder: Option[(FittedEmbedder, String)]) {

  def meta: IndexMeta = underlying.meta

  /** Routed BATCH search — the one entry point across every index
    * kind: brute-force KNN for `"exact"`, the cell-pruned persisted
    * IVF probe for `"ivf"`, bucket-pruned sign-LSH, the persisted beam
    * search for `"graph"`, BM25+RRF fusion for `"hybrid"` — with
    * metadata `filters` (conjunctive equality, the managed API's
    * filter shape) passed through to every leg with PRE-rank
    * semantics. Returns `(query_id, rank, <pk>, score)` (hybrid:
    * `(query_id, rank, <pk>, in_vec, in_kw)`). ANN kinds search the
    * raw build-time vector space; queries go in as given. */
  def search(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      numResults: Int, filters: Map[String, Any] = Map.empty,
      queryTextCol: Option[String] = None): DataFrame =
    IndexKinds.search(spark, meta, queries, queryIdCol, queryVecCol,
      numResults, filterPred(filters), queryTextCol)

  /** similarity_search with a precomputed query vector (QE:142-146). */
  def similaritySearch(columns: Seq[String], queryVector: Seq[Float],
      numResults: Int): DataFrame =
    similaritySearch(columns, queryVector, numResults,
      Map.empty[String, Any])

  /** Filtered similarity_search — the production vector-store `filters`
    * parameter (conjunctive equality on metadata columns, the managed
    * API's filter shape). PRE-filter semantics: the predicate applies
    * BEFORE top-k, so the caller always gets `numResults` matching rows
    * when they exist (post-filtering would silently under-fill).
    * Relationally the filter lands in the index scan — pushed to
    * parquet, pruning partitions when the index is laid out on the
    * filter column. An `"ivf"` index runs its single-question plan
    * ([[graft.index.IndexKinds.searchIvfOne]]): the driver probes the
    * cached centroids, one scan of the probed cells refines to the
    * top-k and carries the requested columns — no join. Every other
    * non-exact kind routes a one-row batch through its persisted ANN
    * layout ([[graft.index.IndexKinds]]) and joins the requested
    * columns back by pk — same call, pruned plan. */
  def similaritySearch(columns: Seq[String], queryVector: Seq[Float],
      numResults: Int, filters: Map[String, Any]): DataFrame =
    if (IndexKinds.isMultiVector(meta.kind))
      throw new IllegalArgumentException(
        s"kind '${meta.kind}' indexes token bags — query through " +
          "search() with a bag column, not a single query vector")
    else if (meta.kind == IndexKinds.Exact)
      Knn.singleQuery(
        filterPred(filters).map(underlying.read(spark).filter)
          .getOrElse(underlying.read(spark)),
        meta.vecCol, meta.pkCol, normalized(queryVector), numResults,
        Metric.Cosine, columns)
        .drop("rank")
    else if (meta.kind == IndexKinds.Ivf)
      IndexKinds.searchIvfOne(spark, meta, queryVector, columns,
        numResults, filterPred(filters))
    else {
      // route through the kind's layout; join the requested columns
      // back by pk (the ranked set is ≤ numResults rows — broadcast)
      import spark.implicits._
      val q = Seq(Tuple2(0L, queryVector)).toDF("__qid", "__qvec")
      val ranked = search(q, "__qid", "__qvec", numResults, filters)
      val scoreCols = ranked.columns
        .filterNot(c => c == "__qid" || c == "query_id" ||
          c == "rank" || c == meta.pkCol)
      val corpus = IndexKinds.corpusTable(spark, meta)
      ranked.join(corpus, Seq(meta.pkCol))
        .orderBy(col("rank").asc)
        .select((columns ++ scoreCols).map(col): _*)
    }

  /** similarity_search with query text — embeds the query through the
    * index's embedder, then searches (QE:126-131; both reference paths
    * collapse to the same plan here). A hybrid-kind index fuses the
    * text itself (keyword leg) with its embedding (vector leg) — the
    * managed `query_type=HYBRID` call shape. */
  def similaritySearch(columns: Seq[String], queryText: String,
      numResults: Int): DataFrame = {
    val (e, _) = embedder.getOrElse(throw new IllegalStateException(
      "index has self-managed vectors; embed the query yourself " +
        "(reference custom mode sends query_vector)"))
    import spark.implicits._
    if (meta.kind == IndexKinds.HybridKind) {
      val q = e.transform(
          Seq(Tuple2(0L, queryText)).toDF("__qid", "__qtext"), "__qtext")
        .select(col("__qid"), col("__qtext"),
          col("embedding").as("__qvec"))
      val ranked = search(q, "__qid", "__qvec", numResults,
        queryTextCol = Some("__qtext"))
      val corpus = IndexKinds.corpusTable(spark, meta)
      ranked.join(corpus, Seq(meta.pkCol))
        .orderBy(col("rank").asc)
        .select((columns :+ "rank").map(col): _*)
    } else {
      val qdf = e.transform(Seq(Tuple1(queryText)).toDF("__qtext"),
        "__qtext")
      val qv = qdf.select("embedding").head().getSeq[Float](0)
      similaritySearch(columns, qv, numResults)
    }
  }

  /** Batch similarity_search over a DataFrame of query texts: embeds
    * ALL queries through the build-time fitted embedder and retrieves
    * per-query top-k in ONE distributed plan — multi-query RAG without
    * the per-query driver `.head()` hop of the single-text overload.
    * Returns `(query_id, rank, <columns...>, score)`. */
  def similaritySearchBatch(columns: Seq[String], queryTexts: DataFrame,
      textCol: String, queryIdCol: String, numResults: Int): DataFrame = {
    val (e, _) = embedder.getOrElse(throw new IllegalStateException(
      "index has self-managed vectors; embed the queries yourself " +
        "(reference custom mode sends query_vector)"))
    import graft.functions.{VectorFunctions => VF}
    // normalize like the single-query path: index vectors are unit
    // length, so scores stay comparable cosines in [-1, 1]
    val q = e.transform(queryTexts, textCol)
      .filter(col("embedding").isNotNull)
      .select(col(queryIdCol), VF.normalize(col("embedding")).as("__qvec"))
    Knn.batchQuery(underlying.read(spark), q, meta.vecCol, meta.pkCol,
      "__qvec", queryIdCol, numResults, Metric.Cosine, columns)
  }

  /** Incremental sync from a change batch (delta-sync TRIGGERED). A
    * managed-embedding index embeds the changed rows first — the change
    * feed carries source rows, not vectors — through the BUILD-TIME
    * fitted embedder, so delta vectors live in the same weighting space
    * as the indexed corpus (sync≡rebuild holds for fitted embedders). */
  def sync(changes: DataFrame): Unit = {
    val prepared = embedder match {
      case Some((e, textCol)) => e.transform(changes, textCol)
      case None => changes
    }
    underlying.sync(spark, prepared)
    // a kinded index maintains its persisted ANN layout from the same
    // batch (raw vectors — the layout's space), so the façade's routed
    // search stays consistent with the exact artifact after every sync
    IndexKinds.sync(spark, meta, prepared)
  }

  /** Per-kind maintenance — the compaction cadence a production
    * ingest runs between syncs ([[graft.index.IndexKinds.optimize]]):
    * squashes append-grown partition dirs back to one file each.
    * Answers are identical before and after. `reprune = true` also
    * restores the graph kind's degree bound (HNSW edge pruning —
    * perturbs approximate results, hence opt-in). Returns per-layout
    * touched-dir counts. */
  def optimize(reprune: Boolean = false,
      maxFilesPerDir: Int = 1): Map[String, Int] =
    IndexKinds.optimize(spark, meta, maxFilesPerDir = maxFilesPerDir,
      reprune = reprune)

  /** [[sync]] with bounded write amplification: after the merge, any
    * layout dir grown past `maxFilesPerDir` files squashes back to one
    * (answer-preserving compaction) — the LSM discipline as ONE call.
    * Each sync writes at most a batch's worth of files and the
    * accumulated per-dir file count stays bounded, so probe-side task
    * counts never creep across a long ingest. The check is a
    * key-space-bounded dir listing — near-free when nothing exceeds
    * the cap. Returns the compaction's touched-dir counts. */
  def syncAndOptimize(changes: DataFrame,
      maxFilesPerDir: Int = 4): Map[String, Int] = {
    sync(changes)
    IndexKinds.optimize(spark, meta, maxFilesPerDir = maxFilesPerDir)
  }

  def describe: DataFrame = underlying.stats(spark)

  private def filterPred(filters: Map[String, Any]): Option[Column] =
    filters.map { case (c, v) => col(c) === lit(v) }
      .reduceOption(_ && _)

  /** Index vectors are L2-normalized at build; normalize the query too
    * so reported cosine scores stay in [-1, 1]. */
  private def normalized(v: Seq[Float]): Seq[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n == 0.0) v else v.map(x => (x / n).toFloat)
  }
}
