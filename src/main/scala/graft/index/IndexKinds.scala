package graft.index

import graft.functions.Metric
import graft.search.{Ann, GraphAnn, Hybrid, Knn, Plaid, Pq, Sq8}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The engine-side realization of `IndexMeta.kind`: ONE façade
  * `similarity_search` call routes to whichever index layout the index
  * was created with — exactly how the reference's single entry point
  * works regardless of how the managed service indexed the table
  * (/root/reference/src/databricks/query_endpoint.py:126-146; SURVEY
  * §4.3 names exact-vs-ANN selection as engine logic). Build, search
  * and CDF sync all dispatch here, so a user who created an index with
  * `kind = "ivf"` gets the cell-pruned on-disk plan from the same
  * façade call that runs brute-force KNN on an `"exact"` index.
  *
  * ANN layouts index the SOURCE vectors verbatim (no normalization):
  * cosine ranking is scale-invariant, the persisted legs refine with
  * exact metric arithmetic either way, and indexing raw rows keeps the
  * façade's results bit-identical to the direct library calls — which
  * is what lets the `facade_route_*` queries share the direct legs'
  * oracles. The normalized exact artifact still serves `describe` and
  * the `"exact"` kind itself.
  *
  * Per-kind options (all frozen at creation, persisted in the meta
  * JSON): ivf `cells`/`nProbe` (+`trained=true` with `iters`/`sampleN`
  * for k-means centroids); signlsh `tables`/`bits`; graph
  * `m`/`buckets`/`entries`/`beam`/`hops`/`entryMod`/`metric`, plus
  * `layered=true` with `m1`/`entryBuckets`/`l2Entries`/`l1Beam`/
  * `l1Hops` for the two-layer hierarchy (a coarse entry graph over
  * the `pk % entryMod` sample persisted beside the main layout —
  * HNSW's upper layers, searched and synced together), or
  * `layers=N` (N >= 1) for the TRUE multi-layer HNSW with
  * md5-geometric level pools (`lbase`/`mUpper`/`topEntries`/
  * `upperBeam`/`upperHops`) — each layer its own bucket-pruned
  * layout at `path + "_l" + l`, built, searched, synced and
  * compacted through the same routed calls; hybrid
  * `textCol`/`buckets`/`n`; sq8 `c` (refine multiplier); pq/ivfpq
  * `m`/`codebookK`/`c` (+ivfpq `cells`/`nProbe`, both kinds
  * `trained=true` for k-means codebooks — ivfpq trains centroids
  * too); plaid `cells`/`nProbe`/`c`/`m`/`pqK`/`iters`/`sampleN`/
  * `docBuckets` — the MULTI-VECTOR kind: `vecCol` holds token bags
  * (`array<array<float>>`), the layout is the centroid-routed PLAID
  * store ([[graft.search.Plaid]]) and the routed search takes
  * token-bag queries. The graph/hybrid `_corpus` side table is pk-hash-bucketed
  * (`corpusBuckets`, default 32) so CDF syncs rewrite only touched
  * dirs, never the whole corpus.
  */
object IndexKinds {

  val Exact = "exact"
  val Ivf = "ivf"
  val SignLsh = "signlsh"
  val Graph = "graph"
  val HybridKind = "hybrid"
  val Sq8Kind = "sq8"
  val PqKind = "pq"
  val IvfPqKind = "ivfpq"
  val PlaidKind = "plaid"
  val All: Set[String] =
    Set(Exact, Ivf, SignLsh, Graph, HybridKind, Sq8Kind, PqKind, IvfPqKind,
      PlaidKind)

  /** Multi-vector kinds index TOKEN BAGS (`array<array<float>>` in
    * `vecCol` — late-interaction retrieval): the exact artifact stores
    * raw bags instead of a normalized vector copy, and the routed
    * search takes token-bag queries. */
  def isMultiVector(kind: String): Boolean = kind == PlaidKind

  def layoutPath(meta: IndexMeta): String = s"${meta.path}__${meta.kind}"

  private def opt(meta: IndexMeta, key: String, dflt: Int): Int =
    meta.options.get(key).map(_.toInt).getOrElse(dflt)
  private def optL(meta: IndexMeta, key: String, dflt: Long): Long =
    meta.options.get(key).map(_.toLong).getOrElse(dflt)
  private def metricOf(meta: IndexMeta): Metric =
    meta.options.get("metric").map(Metric.of).getOrElse(meta.metric)
  private def textColOf(meta: IndexMeta): String =
    meta.options.getOrElse("textCol", throw new IllegalArgumentException(
      s"index kind '$HybridKind' needs a textCol option"))

  private def graphHandle(meta: IndexMeta): GraphAnn.PersistedGraph =
    GraphAnn.PersistedGraph(layoutPath(meta), m = opt(meta, "m", 6),
      buckets = opt(meta, "buckets", 16))
  private def entryHandle(meta: IndexMeta): GraphAnn.PersistedGraph =
    GraphAnn.PersistedGraph(layoutPath(meta) + "_entry",
      m = opt(meta, "m1", 4), buckets = opt(meta, "entryBuckets", 4))
  private def layered(meta: IndexMeta): Boolean =
    meta.options.get("layered").contains("true")
  /** 0 = not multi-layer; N >= 1 routes the graph kind through the
    * md5-geometric HNSW hierarchy. Mutually exclusive with `layered`
    * (the two-layer modulo hierarchy). */
  private def hnswLevels(meta: IndexMeta): Int = {
    val n = opt(meta, "layers", 0)
    require(n == 0 || !layered(meta),
      "graph options 'layers' and 'layered' are mutually exclusive")
    n
  }
  /** Explode a bag table to the PLAID token shape: `(pk, __pi, __tv)`
    * with `__pi` = the token's POSITION in its bag — an integral,
    * replayable token index (bags are ordered, so position is a pure
    * function of the row; no content hash travels with the layout). */
  private def explodeBags(bags: DataFrame, pkCol: String,
      vecCol: String): DataFrame =
    bags.filter(col(vecCol).isNotNull)
      .select(col(pkCol), posexplode(col(vecCol)).as(Seq("__pi", "__tv")))

  private def plaidParams(meta: IndexMeta): Plaid.Params =
    Plaid.Params(cells = opt(meta, "cells", 8),
      nProbe = opt(meta, "nProbe", 2), c = opt(meta, "c", 4),
      m = opt(meta, "m", 4), pqK = opt(meta, "pqK", 8),
      iters = opt(meta, "iters", 2), sampleN = opt(meta, "sampleN", 64))

  private def hnswHandleOf(meta: IndexMeta): GraphAnn.PersistedHnsw =
    GraphAnn.hnswHandle(layoutPath(meta), m = opt(meta, "m", 6),
      mUpper = opt(meta, "mUpper", 4), buckets = opt(meta, "buckets", 16),
      base = opt(meta, "lbase", 5), levels = hnswLevels(meta))
  private def isTrained(meta: IndexMeta): Boolean =
    meta.options.get("trained").contains("true")

  // ---- graph/hybrid `_corpus` side table: pk-hash-bucketed layout ----

  /** Bucket count of the `_corpus` dirs — the layout's KEY SPACE, what
    * bounds a sync's touched-dir collect (PartitionedLayout contract). */
  private def corpusBucketCount(meta: IndexMeta): Int =
    opt(meta, "corpusBuckets", 32)

  private def corpusBucketCol(meta: IndexMeta): Column =
    pmod(xxhash64(col(meta.pkCol)),
      lit(corpusBucketCount(meta).toLong)).cast("int")

  /** Write the `_corpus` side table pk-hash-bucketed (one writer per
    * dir — the persistIvf discipline), so [[mergeCorpus]] can rewrite
    * only the dirs a CDF batch touches. */
  private def writeCorpus(source: DataFrame, meta: IndexMeta): Unit =
    source.withColumn("__cbkt", corpusBucketCol(meta))
      .repartition(col("__cbkt"))
      .write.mode("overwrite").partitionBy("__cbkt")
      .parquet(layoutPath(meta) + "_corpus")

  /** The layout's own raw-corpus relation — the graph walk's scoring
    * side, the hybrid vector leg, and the column join-back of
    * `similaritySearch` on the kinds without a single-question plan all
    * read it (the `"ivf"` kind carries its columns through the refine
    * instead, [[searchIvfOne]]). No kind duplicates the corpus: the IVF
    * layout and the sign-LSH `_docs` table ARE the corpus; graph and
    * hybrid persist a `_corpus` side table at build. */
  def corpusTable(spark: SparkSession, meta: IndexMeta): DataFrame =
    meta.kind match {
      case Ivf =>
        val t = spark.read.parquet(layoutPath(meta))
        t.drop(t.columns.filter(Set("__cell", "__subcell")): _*)
      case SignLsh =>
        spark.read.parquet(layoutPath(meta) + "_docs").drop("__dbkt")
      case Graph | HybridKind =>
        spark.read.parquet(layoutPath(meta) + "_corpus").drop("__cbkt")
      case Sq8Kind =>
        spark.read.parquet(layoutPath(meta)).drop("__dbkt")
      case PlaidKind =>
        // the bag artifact IS the corpus (the coded store and _docs
        // twin hold exploded tokens, not rows)
        spark.read.parquet(meta.path).drop("__norm")
      case PqKind | IvfPqKind =>
        val t = spark.read.parquet(layoutPath(meta))
        t.drop(t.columns.filter(Set("__cell", "__subcell", "__codes")): _*)
      case _ => spark.read.parquet(meta.path)
    }

  /** Build the kind's persisted layout from the raw source (no-op for
    * `"exact"` — the normalized artifact is the layout). Single-vector
    * kinds index only the rows the exact artifact keeps
    * ([[VectorIndex.validVector]]); plaid keeps its own bag rule. */
  def build(spark: SparkSession, meta: IndexMeta,
      source: DataFrame): Unit =
    buildValid(spark, meta,
      if (isMultiVector(meta.kind)) source
      else source.filter(VectorIndex.validVector(meta)))

  private def buildValid(spark: SparkSession, meta: IndexMeta,
      source: DataFrame): Unit = meta.kind match {
    case Exact => ()
    case Ivf =>
      // trained=true routes through the k-means quantizer — the
      // recall-grade codebooks a 100×-scale deployment would persist
      val built =
        if (isTrained(meta))
          Ann.buildIvfTrained(source, meta.vecCol, meta.pkCol,
            opt(meta, "cells", 16), iters = opt(meta, "iters", 2),
            sampleN = opt(meta, "sampleN", 128))
        else Ann.buildIvfDeterministic(source, meta.vecCol, meta.pkCol,
          opt(meta, "cells", 16))
      Ann.persistIvf(built, layoutPath(meta))
    case Sq8Kind =>
      val stats = Sq8.fit(source, meta.vecCol)
      Sq8.persist(source, meta.vecCol, meta.pkCol, layoutPath(meta), stats)
      Sq8.persistStats(spark, stats, layoutPath(meta))
    case PqKind | IvfPqKind =>
      // pq = flat ADC scan: IVF degenerates to ONE cell (FAISS's
      // IndexPQ), so the same persisted layout serves both kinds
      val cells = if (meta.kind == PqKind) 1 else opt(meta, "cells", 16)
      val ivf0 =
        if (meta.kind == IvfPqKind && isTrained(meta))
          Ann.buildIvfTrained(source, meta.vecCol, meta.pkCol, cells,
            iters = opt(meta, "iters", 2),
            sampleN = opt(meta, "sampleN", 128))
        else Ann.buildIvfDeterministic(source, meta.vecCol, meta.pkCol,
          cells)
      // the flat kind's single cell would otherwise persist as ONE dir
      // with ONE writer — split it into `writers` equal-probability
      // hash sub-cells (purely physical: the ADC scan reads them all,
      // results unchanged, but a 100-TB build writes in parallel and
      // the scan fans out across tasks)
      val ivf =
        if (meta.kind == PqKind && opt(meta, "writers", 8) > 1)
          Ann.balanceCells(ivf0, meta.pkCol,
            maxSkew = 1.0 / opt(meta, "writers", 8))
        else ivf0
      val cb =
        if (isTrained(meta))
          Pq.fitTrained(source, meta.vecCol, meta.pkCol,
            m = opt(meta, "m", 16), k = opt(meta, "codebookK", 32),
            iters = opt(meta, "iters", 2),
            sampleN = opt(meta, "sampleN", 128))
        else Pq.fit(source, meta.vecCol, meta.pkCol,
          m = opt(meta, "m", 16), k = opt(meta, "codebookK", 32))
      Pq.persistIvfPq(ivf, cb, meta.vecCol, layoutPath(meta))
    case SignLsh =>
      Ann.persistSignLsh(Ann.buildSignLsh(source, meta.vecCol,
        opt(meta, "tables", 8), opt(meta, "bits", 4)),
        meta.pkCol, meta.vecCol, layoutPath(meta))
    case Graph if hnswLevels(meta) > 0 =>
      // the true multi-layer HNSW configuration: every layer persists
      // as its own bucket-pruned layout beside the main one; the
      // corpus side table is a disjoint path — its write overlaps the
      // layer writes (persist-time twin-write discipline)
      PartitionedLayout.inParallel(
        GraphAnn.persistHnsw(
          GraphAnn.buildHnswExact(source, meta.vecCol, meta.pkCol,
            m = opt(meta, "m", 6), mUpper = opt(meta, "mUpper", 4),
            base = opt(meta, "lbase", 5), levels = hnswLevels(meta)),
          layoutPath(meta), buckets = opt(meta, "buckets", 16)),
        writeCorpus(source, meta))
    case Graph =>
      // main layout, optional entry-graph layout and the corpus side
      // table are three disjoint paths — write them concurrently
      PartitionedLayout.inParallel(
        PartitionedLayout.inParallel(
          GraphAnn.persistGraph(
            GraphAnn.buildGraphExact(source, meta.vecCol, meta.pkCol,
              m = opt(meta, "m", 6)),
            layoutPath(meta), buckets = opt(meta, "buckets", 16)),
          // layered = the 100 TB configuration: a coarse entry graph
          // over the pk % entryMod sample persists beside the main
          // layout and the search descends through it (HNSW's upper
          // layers)
          if (layered(meta))
            GraphAnn.persistGraph(
              GraphAnn.buildEntryGraphExact(source, meta.vecCol,
                meta.pkCol, entryMod = optL(meta, "entryMod", 5L),
                m1 = opt(meta, "m1", 4)),
              layoutPath(meta) + "_entry",
              buckets = opt(meta, "entryBuckets", 4))),
        writeCorpus(source, meta))
    case HybridKind =>
      Hybrid.persistPostings(source, meta.pkCol, textColOf(meta),
        layoutPath(meta), buckets = opt(meta, "buckets", 32))
      writeCorpus(source, meta)
    case PlaidKind =>
      // late-interaction kind: the source's vecCol holds TOKEN BAGS;
      // the build trains token centroids + residual codebooks and
      // persists the cell-partitioned coded store with its pk-hash
      // _docs twin (Plaid.persist's frozen-quantizer contract)
      Plaid.persist(
        Plaid.build(explodeBags(source, meta.pkCol, meta.vecCol),
          meta.pkCol, "__pi", "__tv", plaidParams(meta)),
        layoutPath(meta), docBuckets = opt(meta, "docBuckets", 8))
    case other =>
      throw new IllegalArgumentException(s"unknown index kind '$other'")
  }

  /** Routed batch search: `(query_id, rank, <pk>, score)` for the
    * vector kinds (hybrid returns its native
    * `(query_id, rank, <pk>, in_vec, in_kw)`), metadata `rowFilter`
    * passed through to every leg with PRE-rank semantics. */
  def search(spark: SparkSession, meta: IndexMeta, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int,
      rowFilter: Option[Column] = None,
      queryTextCol: Option[String] = None): DataFrame = meta.kind match {
    case Exact =>
      val corpus = spark.read.parquet(meta.path)
      Knn.batchQueryAgg(rowFilter.map(corpus.filter).getOrElse(corpus),
        queries, meta.vecCol, meta.pkCol, queryVecCol, queryIdCol, k,
        metricOf(meta))
    case Ivf =>
      Ann.queryPersistedIvf(spark, Ann.PersistedIvf(layoutPath(meta)),
        queries, queryIdCol, queryVecCol, meta.pkCol, meta.vecCol, k,
        nProbe = opt(meta, "nProbe", 4), metricOf(meta), rowFilter)
    case Sq8Kind =>
      Sq8.rerankPersisted(spark,
        Sq8.PersistedSq8(layoutPath(meta),
          Sq8.loadStats(spark, layoutPath(meta))),
        queries, queryVecCol, queryIdCol, meta.pkCol, meta.vecCol, k,
        c = opt(meta, "c", 4), metricOf(meta), rowFilter)
    case PqKind | IvfPqKind =>
      // pq scans its single cell = the flat ADC pass over all codes
      Pq.queryPersistedIvfPq(spark, Pq.PersistedIvfPq(layoutPath(meta)),
        queries, queryIdCol, queryVecCol, meta.pkCol, meta.vecCol, k,
        c = opt(meta, "c", 4),
        nProbe = if (meta.kind == PqKind) 1 else opt(meta, "nProbe", 4),
        metricOf(meta), rowFilter)
    case SignLsh =>
      Ann.queryPersistedSignLsh(spark,
        Ann.PersistedSignLsh(layoutPath(meta), opt(meta, "tables", 8),
          opt(meta, "bits", 4)),
        queries, queryIdCol, queryVecCol, meta.pkCol, meta.vecCol, k,
        metricOf(meta), rowFilter)
    case Graph if hnswLevels(meta) > 0 =>
      GraphAnn.queryPersistedHnsw(spark, hnswHandleOf(meta),
        corpusTable(spark, meta), queries, queryIdCol, queryVecCol,
        meta.pkCol, meta.vecCol, k, entries = opt(meta, "entries", 4),
        beam = opt(meta, "beam", 4), hops = opt(meta, "hops", 3),
        metric = metricOf(meta),
        topEntries = opt(meta, "topEntries", 2),
        upperBeam = opt(meta, "upperBeam", 3),
        upperHops = opt(meta, "upperHops", 2),
        rowFilter = rowFilter)
    case Graph if layered(meta) =>
      GraphAnn.queryPersistedGraphLayered(spark, graphHandle(meta),
        entryHandle(meta), corpusTable(spark, meta), queries,
        queryIdCol, queryVecCol, meta.pkCol, meta.vecCol, k,
        entries = opt(meta, "entries", 4), beam = opt(meta, "beam", 4),
        hops = opt(meta, "hops", 3),
        entryMod = optL(meta, "entryMod", 5L), metric = metricOf(meta),
        l2Entries = opt(meta, "l2Entries", 2),
        l1Beam = opt(meta, "l1Beam", 3), l1Hops = opt(meta, "l1Hops", 2),
        rowFilter = rowFilter)
    case Graph =>
      GraphAnn.queryPersistedGraph(spark, graphHandle(meta),
        corpusTable(spark, meta), queries, queryIdCol, queryVecCol,
        meta.pkCol, meta.vecCol, k, entries = opt(meta, "entries", 4),
        beam = opt(meta, "beam", 4), hops = opt(meta, "hops", 3),
        metric = metricOf(meta), entryMod = optL(meta, "entryMod", 0L),
        rowFilter = rowFilter)
    case PlaidKind =>
      // token-bag queries through the routed call: each query row's
      // vecCol is a bag; metadata filters don't apply to the
      // late-interaction legs (no row predicate survives the
      // token-level candidate generation) — reject loudly
      require(rowFilter.isEmpty,
        s"kind '$PlaidKind' does not support metadata filters")
      Plaid.topKPersisted(spark, Plaid.Persisted(layoutPath(meta)),
        meta.pkCol, explodeBags(queries, queryIdCol, queryVecCol),
        queryIdCol, "__pi", "__tv", k)
    case HybridKind =>
      val qText = queryTextCol.getOrElse(
        throw new IllegalArgumentException(
          s"kind '$HybridKind' needs query text (queryTextCol)"))
      Hybrid.hybridTopKPersistedKw(spark,
        Hybrid.PersistedPostings(layoutPath(meta), opt(meta, "buckets", 32)),
        corpusTable(spark, meta), queries, queryIdCol, qText, queryVecCol,
        meta.pkCol, meta.vecCol, n = opt(meta, "n", 10), k = k,
        rowFilter = rowFilter)
    case other =>
      throw new IllegalArgumentException(s"unknown index kind '$other'")
  }

  /** One query vector against an `"ivf"` index: driver-side probe,
    * cell-pruned refine, `columns :+ "score"` in rank order
    * ([[Ann.queryPersistedIvfOne]]). Same answers as [[search]] on a
    * one-row query joined back to [[corpusTable]]. */
  def searchIvfOne(spark: SparkSession, meta: IndexMeta,
      query: Seq[Float], columns: Seq[String], k: Int,
      rowFilter: Option[Column]): DataFrame =
    Ann.queryPersistedIvfOne(spark, Ann.PersistedIvf(layoutPath(meta)),
      query, columns, meta.pkCol, meta.vecCol, k,
      nProbe = opt(meta, "nProbe", 4), metricOf(meta), rowFilter)

  /** Apply a CDF batch to the kind's layout (the exact artifact is
    * synced separately by [[VectorIndex.sync]]). Each layout keeps its
    * own frozen-at-build training state per its documented contract.
    * For single-vector kinds an upsert whose vector fails
    * [[VectorIndex.validVector]] becomes a null-vector upsert, which
    * every kind's sync removes — the row leaves the layout exactly as
    * it leaves the exact artifact, and no kind sees a vector it cannot
    * score. */
  def sync(spark: SparkSession, meta: IndexMeta,
      changes: DataFrame): Unit =
    syncValid(spark, meta,
      if (isMultiVector(meta.kind)) changes
      else changes.withColumn(meta.vecCol,
        when(VectorIndex.validVector(meta), col(meta.vecCol))))

  private def syncValid(spark: SparkSession, meta: IndexMeta,
      changes: DataFrame): Unit = meta.kind match {
    case Exact => ()
    case Ivf =>
      Ann.syncPersistedIvf(spark, Ann.PersistedIvf(layoutPath(meta)),
        changes, meta.pkCol, meta.vecCol)
    case Sq8Kind =>
      // stats stay FROZEN at build (reloaded from the side file) —
      // the frozen-centroid contract shared by every quantized layout
      Sq8.syncPersistedSq8(spark,
        Sq8.PersistedSq8(layoutPath(meta),
          Sq8.loadStats(spark, layoutPath(meta))),
        changes, meta.pkCol, meta.vecCol)
    case PqKind | IvfPqKind =>
      // centroids AND codebooks frozen; delta rows encode/assign with
      // the persisted side files (Pq.syncPersistedIvfPq contract)
      Pq.syncPersistedIvfPq(spark, Pq.PersistedIvfPq(layoutPath(meta)),
        changes, meta.pkCol, meta.vecCol)
    case SignLsh =>
      Ann.syncPersistedSignLsh(spark,
        Ann.PersistedSignLsh(layoutPath(meta), opt(meta, "tables", 8),
          opt(meta, "bits", 4)),
        changes, meta.pkCol, meta.vecCol)
    case Graph =>
      // edge sync reads the PRE-change corpus (its pool), so it runs
      // before the corpus merge rewrites the side table
      if (hnswLevels(meta) > 0)
        GraphAnn.syncPersistedHnsw(spark, hnswHandleOf(meta),
          corpusTable(spark, meta), changes, meta.pkCol, meta.vecCol)
      else if (layered(meta))
        GraphAnn.syncPersistedGraphLayered(spark, graphHandle(meta),
          entryHandle(meta), corpusTable(spark, meta), changes,
          meta.pkCol, meta.vecCol, optL(meta, "entryMod", 5L))
      else
        GraphAnn.syncPersistedGraphChanges(spark, graphHandle(meta),
          corpusTable(spark, meta), changes, meta.pkCol, meta.vecCol)
      mergeCorpus(spark, layoutPath(meta) + "_corpus", changes, meta)
    case HybridKind =>
      Hybrid.syncPersistedPostings(spark,
        Hybrid.PersistedPostings(layoutPath(meta), opt(meta, "buckets", 32)),
        changes, meta.pkCol, textColOf(meta))
      mergeCorpus(spark, layoutPath(meta) + "_corpus", changes, meta)
    case PlaidKind =>
      // frozen-quantizer delta: centroids and codebooks reload from
      // the layout's side files; whole token bags replace atomically
      // (Plaid.syncPersisted's two-phase _docs protocol)
      Plaid.syncPersisted(spark, Plaid.Persisted(layoutPath(meta)),
        changes, meta.pkCol, meta.vecCol)
    case other =>
      throw new IllegalArgumentException(s"unknown index kind '$other'")
  }

  /** LWW merge of a CDF batch into the pk-hash-bucketed `_corpus` side
    * table, touched-dir-only via [[PartitionedLayout.mergeOverwrite]] —
    * bytes moved scale with the CHANGE SET's bucket dirs, never the
    * corpus (the dir collect is bounded by `corpusBuckets`, the
    * layout's key space). Deletes and null-vector upserts leave the
    * corpus ([[sync]] has already nulled every vector the exact
    * artifact rejects), so the side table never diverges from the
    * exact artifact. A pre-bucketing corpus (or one stranded
    * in `__old` by a crashed legacy swap) is recovered/migrated once,
    * then synced touched-dir forever. */
  private def mergeCorpus(spark: SparkSession, path: String,
      changes: DataFrame, meta: IndexMeta): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
    if (!spark.read.parquet(path).columns.contains("__cbkt")) {
      // one-time migration: rewrite bucketed via the crash-safe
      // rename-aside swap (old or new always present under some name)
      val tmp = new org.apache.hadoop.fs.Path(path + "__tmp")
      spark.read.parquet(path)
        .withColumn("__cbkt", corpusBucketCol(meta))
        .repartition(col("__cbkt"))
        .write.mode("overwrite").partitionBy("__cbkt").parquet(tmp.toString)
      fs.delete(old, true)
      fs.rename(dst, old)
      fs.rename(tmp, dst)
      fs.delete(old, true)
    }
    val latest = ChangeLog.latestPerPk(changes, meta.pkCol)
    val upserts = latest.filter(col("__op") =!= ChangeLog.OpDelete)
      .drop("__op", "__seq")
      .filter(col(meta.vecCol).isNotNull)
    val changedPks = latest.select(col(meta.pkCol))
    val bkts = changedPks.withColumn("__cbkt", corpusBucketCol(meta))
      .select("__cbkt").distinct().collect().map(_.getInt(0)).toSeq
    PartitionedLayout.mergeOverwrite(spark, path, Seq("__cbkt"),
      bkts.map(Seq[Any](_)),
      spark.read.parquet(path).filter(col("__cbkt").isin(bkts: _*)),
      Seq(meta.pkCol), changedPks,
      upserts.withColumn("__cbkt", corpusBucketCol(meta)))
  }

  /** Per-kind maintenance — the façade's `Index.optimize()` routing:
    * [[PartitionedLayout.compact]] squashes the append-grown partition
    * dirs every layout accumulates under CDF syncs (LSM behavior — one
    * file per touched dir per batch). Compaction rewrites rows
    * UNCHANGED, so answers are identical pre/post and untouched dirs
    * stay byte-identical (FacadeOptimizeSpec + the per-layout specs).
    * `reprune = true` additionally runs [[GraphAnn.repruneBuckets]] on
    * the graph kind: it restores the build-time degree bound (and
    * physically compacts tombstones) but — like any HNSW edge pruning
    * — may perturb the approximate walk's results, so it is opt-in
    * rather than part of the answer-preserving default. Returns
    * per-layout touched-dir counts. */
  def optimize(spark: SparkSession, meta: IndexMeta,
      maxFilesPerDir: Int = 1, reprune: Boolean = false): Map[String, Int] = {
    val path = layoutPath(meta)
    def cellCols: Seq[String] =
      if (spark.read.parquet(path).columns.contains("__subcell"))
        Seq("__cell", "__subcell")
      else Seq("__cell")
    meta.kind match {
      case Exact => Map.empty
      case Ivf | PqKind | IvfPqKind =>
        Map("layout" ->
          PartitionedLayout.compact(spark, path, cellCols, maxFilesPerDir))
      case SignLsh => Map(
        "layout" -> PartitionedLayout.compact(spark, path,
          Seq("__t", "__code"), maxFilesPerDir),
        "docs" -> PartitionedLayout.compact(spark, path + "_docs",
          Seq("__dbkt"), maxFilesPerDir))
      case Sq8Kind => Map(
        "codes" -> PartitionedLayout.compact(spark, path + "_codes",
          Seq("__dbkt"), maxFilesPerDir),
        "vectors" -> PartitionedLayout.compact(spark, path,
          Seq("__dbkt"), maxFilesPerDir))
      case Graph =>
        val ph =
          if (hnswLevels(meta) > 0) Some(hnswHandleOf(meta)) else None
        val pruned =
          if (!reprune) Map.empty[String, Int]
          else {
            val corpus = corpusTable(spark, meta)
            val upper = ph.map { h =>
              // each md5-gated layer re-prunes against its own pool —
              // the gate is a pure function, so pool membership here
              // matches build and sync exactly
              h.uppers.zipWithIndex.map { case (pg, i) =>
                s"prunedL${i + 1}" -> GraphAnn.repruneBuckets(spark, pg,
                  corpus.filter(GraphAnn.hnswLevelGate(
                    col(meta.pkCol), h.base, i + 1)),
                  meta.pkCol, meta.vecCol)
              }.toMap
            }.getOrElse {
              if (layered(meta))
                Map("entryPruned" -> GraphAnn.repruneBuckets(spark,
                  entryHandle(meta),
                  corpus.filter(
                    col(meta.pkCol) % optL(meta, "entryMod", 5L) === 0),
                  meta.pkCol, meta.vecCol))
              else Map.empty[String, Int]
            }
            upper + ("pruned" -> GraphAnn.repruneBuckets(spark,
              graphHandle(meta), corpus, meta.pkCol, meta.vecCol))
          }
        val upperCompact = ph.map(_.uppers.zipWithIndex.map {
          case (pg, i) => s"edgesL${i + 1}" -> PartitionedLayout.compact(
            spark, pg.path, Seq("__srcbucket"), maxFilesPerDir)
        }.toMap).getOrElse(Map.empty[String, Int])
        pruned ++ upperCompact ++ Map(
          "edges" -> PartitionedLayout.compact(spark, path,
            Seq("__srcbucket"), maxFilesPerDir),
          "corpus" -> PartitionedLayout.compact(spark, path + "_corpus",
            Seq("__cbkt"), maxFilesPerDir))
      case HybridKind => Map(
        "postings" -> PartitionedLayout.compact(spark, path,
          Seq("__tbucket"), maxFilesPerDir),
        "docs" -> PartitionedLayout.compact(spark, path + "_docs",
          Seq("__dbkt"), maxFilesPerDir),
        "corpus" -> PartitionedLayout.compact(spark, path + "_corpus",
          Seq("__cbkt"), maxFilesPerDir))
      case PlaidKind => Map(
        "store" -> PartitionedLayout.compact(spark, path,
          Seq("__cell"), maxFilesPerDir),
        "docs" -> PartitionedLayout.compact(spark, path + "_docs",
          Seq("__dbkt"), maxFilesPerDir))
      case other =>
        throw new IllegalArgumentException(s"unknown index kind '$other'")
    }
  }
}
