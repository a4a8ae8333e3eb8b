package graft.search

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Centroid-routed late-interaction retrieval — the PLAID form of
  * MaxSim (Santhanam et al., "PLAID: An Efficient Engine for Late
  * Interaction Retrieval", CIKM 2022; the production ColBERTv2
  * serving path): doc tokens are routed through TRAINED IVF centroids
  * and compressed to PQ RESIDUAL codes, so stage 1 never touches a
  * full token vector —
  *
  *   1. ROUTE: each query token probes its `nProbe` nearest centroids;
  *      candidate doc tokens are exactly the probed cells' members
  *      (on the persisted layout: a partition-pruned dir listing).
  *   2. ADC: each candidate (query token, doc token) pair scores by
  *      asymmetric distance over the token's m-int residual code —
  *      reading ~32× fewer bytes than the vectors. Docs rank by
  *      (matched query tokens DESC, Σ per-token min-ADC ASC) and the
  *      top `k·c` survive.
  *   3. EXACT REFINE: full-precision MaxSim over the survivors' whole
  *      token bags (the [[MaxSim]] fold, shared arithmetic), fetched
  *      from the pk-hash `_docs` twin on the persisted path.
  *
  * Where [[MaxSim]]'s sign-LSH stage 1 is a per-token hash (training-
  * free, degrades to most-of-corpus candidates on uniform data), the
  * PLAID route adapts to the corpus: trained centroids cluster real
  * token distributions, and the residual codebook describes the tight
  * within-cell displacement — the composition that keeps the dominant
  * 100 TB artifact (the token store) compressed AND prunable. Both
  * quantizers are deterministic pure functions of the corpus
  * ([[Kmeans]] md5-ordered sample + integer Lloyd; first-k integer
  * residual codebooks), so every stage replays in the DuckDB oracle.
  *
  * Reference seam: the reference delegates multi-vector retrieval to
  * its managed endpoint (src/databricks/query_endpoint.py:126-146);
  * this is the open-primitive scale path for that seam.
  */
object Plaid {

  /** Quantizer + layout parameters, frozen at build. `cells` coarse
    * centroids trained with `iters` integer-Lloyd rounds over an
    * `sampleN` md5-ordered token sample; residual codes use `m`
    * subspaces × `pqK` entries (first-pqK-tokens codebooks). */
  final case class Params(cells: Int = 8, nProbe: Int = 2, c: Int = 4,
      m: Int = 4, pqK: Int = 8, iters: Int = 2, sampleN: Int = 64)

  /** In-memory index: trained centroids (driver-small), frozen
    * residual codebooks, and the coded token table
    * `(__tid, __did, __ti, __tvf, __cell, __codes)`. */
  final case class Index(centroids: DataFrame, cb: Pq.Codebooks,
      coded: DataFrame, params: Params)

  /** Handle to a [[persist]] layout. */
  final case class Persisted(path: String)

  /** Normalize a token table to the internal shape; `__tid` is the
    * synthetic token pk `did:ti` that orders the quantizer samples
    * (md5-shuffled for centroids, plain-ascending for codebooks) —
    * both replayable orders. */
  private def docSide(docTokens: DataFrame, docIdCol: String,
      docTokIdxCol: String, docVecCol: String): DataFrame =
    docTokens.filter(col(docVecCol).isNotNull)
      .select(col(docIdCol).as("__did"), col(docTokIdxCol).as("__ti"),
        transform(col(docVecCol), _.cast("float")).as("__tvf"))
      .withColumn("__tid",
        concat(col("__did").cast("string"), lit(":"),
          col("__ti").cast("string")))

  /** Build: train token-level coarse centroids
    * ([[Ann.buildIvfTrained]] on the TOKEN table), fit residual
    * codebooks ([[Pq.fitResidual]] — integer residuals of the first
    * `pqK` tokens by pk), and encode every token. One corpus pass for
    * assignment + one for encode; both quantizers driver-small. */
  def build(docTokens: DataFrame, docIdCol: String, docTokIdxCol: String,
      docVecCol: String, p: Params = Params()): Index = {
    val dt = docSide(docTokens, docIdCol, docTokIdxCol, docVecCol)
    val ivf = Ann.buildIvfTrained(dt, "__tvf", "__tid", p.cells,
      iters = p.iters, sampleN = p.sampleN)
    val cb = Pq.fitResidual(ivf, "__tvf", "__tid", p.m, p.pqK)
    val coded = ivf.corpusWithCell
      .join(broadcast(ivf.centroids), Seq("__cell"))
      .withColumn("__codes",
        Pq.encode(Pq.residualInt(col("__tvf"), col("__centroid")), cb))
      .drop("__centroid")
    Index(ivf.centroids, cb, coded, p)
  }

  /** Query-token probes: `(query_id, __ti, __qv, __cell, __qres)` —
    * one row per (query token, probed cell), residual against THAT
    * cell's centroid (the same-cell ADC convention of
    * [[Pq.rerankOverIvfResidual]]). Request-sized by contract. */
  private def probes(queryTokens: DataFrame, queryIdCol: String,
      queryTokIdxCol: String, queryVecCol: String, cents: Ann.Centroids,
      nProbe: Int): DataFrame = {
    val qt = queryTokens.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryTokIdxCol).as("__ti"),
        transform(col(queryVecCol), _.cast("double")).as("__qv"))
    cents.probeRows(qt, "__qv", nProbe)
      .withColumn("__qres",
        Pq.residualInt(col("__qv"), cents.centroid(col("__cell"))))
  }

  /** Stage 2 — ADC over (probed cell ∩ token) pairs: docs rank by
    * (matched query tokens DESC, Σ per-token min-ADC ASC, pk), top
    * `k·c` per query survive. The probe table is
    * queries × tokens × nProbe (request-sized → broadcast). */
  private def candidates(coded: DataFrame, pb: DataFrame,
      cb: Pq.Codebooks, k: Int, c: Int): DataFrame =
    coded.select("__did", "__cell", "__codes")
      .join(broadcast(pb), Seq("__cell"))
      .withColumn("__adc", Pq.adc(col("__codes"), col("__qres"), cb))
      .groupBy(col("query_id"), col("__ti"), col("__did"))
      .agg(min(col("__adc")).as("__minadc"))
      .groupBy(col("query_id"), col("__did"))
      .agg(count(lit(1)).as("__nhit"), sum(col("__minadc")).as("__s1"))
      .withColumn("__cr", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("__nhit").desc, col("__s1").asc, col("__did").asc)))
      .filter(col("__cr") <= k * c)
      .select("query_id", "__did")

  /** Stage 3 — exact MaxSim over the survivors' FULL token bags
    * (`dtFull` = `(__did, __dv)` rows; the [[MaxSim]] fold: per-query-
    * token max cosine, token-ordered sum). */
  private def refine(cand: DataFrame, dtFull: DataFrame, pb: DataFrame,
      docIdCol: String, k: Int): DataFrame = {
    val scored = cand
      .join(broadcast(pb.select("query_id", "__ti", "__qv").distinct()),
        Seq("query_id"))
      .join(dtFull, Seq("__did"))
      .withColumn("__cos", MaxSim.cosD(col("__qv"), col("__dv")))
      .groupBy("query_id", "__did", "__ti")
      .agg(max(col("__cos")).as("__m"))
      .groupBy("query_id", "__did")
      .agg(aggregate(
        array_sort(collect_list(struct(col("__ti"), col("__m")))),
        lit(0.0), (a, x) => a + x("__m")).as("maxsim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("maxsim").desc, col("__did").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("__did").as(docIdCol),
        col("maxsim"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** PLAID top-k over an in-memory [[Index]]. Returns
    * (query_id, rank, <docIdCol>, maxsim) — the [[MaxSim.topK]]
    * contract, so recall telemetry and consumers swap legs freely. */
  def topK(idx: Index, docIdCol: String, queryTokens: DataFrame,
      queryIdCol: String, queryTokIdxCol: String, queryVecCol: String,
      k: Int): DataFrame = {
    val pb = probes(queryTokens, queryIdCol, queryTokIdxCol, queryVecCol,
      Ann.Centroids(idx.centroids), idx.params.nProbe)
    val cand = candidates(idx.coded, pb, idx.cb, k, idx.params.c)
    val dtFull = idx.coded.select(col("__did"),
      transform(col("__tvf"), _.cast("double")).as("__dv"))
    refine(cand, dtFull, pb, docIdCol, k)
  }

  /** Persist the PLAID layout: the coded token store partitioned by
    * CELL (stage 1 and 2 read only the probed cells' DIRECTORIES, and
    * within them only the m-int code column — parquet is columnar),
    * the pk-hash `_docs` twin carrying full token vectors for the
    * exact refine (opened only for candidate pks' dirs), centroids +
    * codebooks + params as driver-small side files — the
    * frozen-quantizer contract shared with [[Pq.persistIvfPq]]:
    * queries reload, never refit. */
  def persist(idx: Index, path: String, docBuckets: Int = 8): Persisted = {
    require(docBuckets >= 1, s"docBuckets >= 1, got $docBuckets")
    val spark = idx.coded.sparkSession
    import spark.implicits._
    // ONE evaluation feeds both twins: the quantize/encode lineage runs
    // once instead of once per write, and the store and `_docs` can
    // never diverge at write time (they stream from the same
    // materialized rows)
    val coded = idx.coded.localCheckpoint(true)
    graft.index.PartitionedLayout.inParallel(
      coded.select("__did", "__codes", "__cell")
        .repartition(col("__cell"))
        .write.mode("overwrite").partitionBy("__cell").parquet(path),
      coded.select(col("__did"), col("__tvf"))
        .withColumn("__dbkt",
          pmod(xxhash64(col("__did")), lit(docBuckets.toLong)).cast("int"))
        .repartition(col("__dbkt"))
        .write.mode("overwrite").partitionBy("__dbkt")
        .parquet(path + "_docs"))
    // write-fence: the twins hold the same token rows by construction,
    // so unequal counts mean a write LOST rows (observed once as a
    // silently-degraded refine under heavy external host load — a torn
    // twin must fail the build loudly, never serve). Parquet footer
    // counts only: two metadata-cheap jobs.
    val ns = spark.read.parquet(path).count()
    val nd = spark.read.parquet(path + "_docs").count()
    require(ns == nd,
      s"plaid persist torn: store=$ns rows, _docs=$nd rows at $path")
    idx.centroids.coalesce(1)
      .write.mode("overwrite").parquet(path + "_cents")
    val cbRows = for {
      s <- 0 until idx.cb.m
      j <- 0 until idx.cb.k
    } yield (s, j, idx.cb.cb(s)(j).toSeq)
    cbRows.toDF("__s", "__j", "__e").coalesce(1)
      .write.mode("overwrite").parquet(path + "_codebooks")
    Seq((docBuckets, idx.params.nProbe, idx.params.c)).toDF(
        "__dbuckets", "__nprobe", "__c").coalesce(1)
      .write.mode("overwrite").parquet(path + "_meta")
    Persisted(path)
  }

  /** [[topK]] through a [[persist]] layout — identical answers by
    * construction (stage 1's in-memory equi-join on probed cells IS
    * the partition-pruned scan; shares the in-memory oracle). The
    * candidate pk semi-join against `_docs` carries no broadcast hint
    * (the [[MaxSim.topKPersisted]] convention: candidate size is
    * selectivity-dependent, AQE decides). */
  /** Frozen side-file loaders shared by the query and sync paths. */
  private def loadMeta(spark: SparkSession,
      path: String): (Int, Int, Int) = {
    val meta = spark.read.parquet(path + "_meta").head()
    (meta.getInt(0), meta.getInt(1), meta.getInt(2))
  }

  private def loadCodebooks(spark: SparkSession,
      path: String): Pq.Codebooks = {
    val cbRows = spark.read.parquet(path + "_codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Long](2).toArray))
    val m = cbRows.map(_._1).max + 1
    val kEntries = cbRows.map(_._2).max + 1
    val byKey = cbRows.map(r => (r._1, r._2) -> r._3).toMap
    Pq.Codebooks(m, byKey.head._2.length, kEntries,
      Array.tabulate(m, kEntries)((s, j) => byKey((s, j))))
  }

  /** CDF-batch maintenance of a [[persist]] layout — the PLAID leg's
    * `syncPersistedTokens`, under the frozen-quantizer contract
    * (build-time centroids and codebooks re-encode the delta; adding
    * docs never re-trains — rebuild to re-train, like every trained
    * leg): last-write-wins per doc, whole token bags replace
    * atomically, deletes leave both tables. A changed doc's OLD cells
    * are found by re-assigning its stored `_docs` vectors against the
    * frozen centroids (a pk-pruned lookup); only touched `__cell`
    * dirs of the store and `__dbkt` dirs of `_docs` rewrite. `_docs`
    * writes in two phases around the store merge (additive append →
    * exact trim), so every crash point leaves a superset sidecar and
    * replays safely — the [[MaxSim.syncPersistedTokens]] protocol. */
  def syncPersisted(spark: SparkSession, idx: Persisted,
      changes: DataFrame, pkCol: String, tokensCol: String): Unit = {
    import graft.index.{ChangeLog, PartitionedLayout}
    val (docBuckets, _, _) = loadMeta(spark, idx.path)
    val cb = loadCodebooks(spark, idx.path)
    val cents = Ann.loadCentroids(spark, idx.path + "_cents")
    val latest = ChangeLog.latestPerPk(changes, pkCol)
      .localCheckpoint(true)
    val changedPks = latest.select(col(pkCol).as("__did"))
    val newToks = latest.filter(col("__op") =!= ChangeLog.OpDelete)
      .filter(col(tokensCol).isNotNull)
      .select(col(pkCol).as("__did"), explode(col(tokensCol)).as("__tv"))
      .filter(col("__tv").isNotNull)
      .select(col("__did"),
        transform(col("__tv"), _.cast("float")).as("__tvf"))
      .withColumn("__cell", cents.assign(col("__tvf")))
      .localCheckpoint(true) // affected collect + both merges
    val newCoded = newToks
      .withColumn("__codes", Pq.encode(Pq.residualInt(col("__tvf"),
        cents.centroid(col("__cell"))), cb))
      .select("__did", "__codes", "__cell")
    val newDocs = newToks
      .withColumn("__dbkt",
        pmod(xxhash64(col("__did")), lit(docBuckets.toLong)).cast("int"))
      .select("__did", "__tvf", "__dbkt")
    val dbks = changedPks
      .select(pmod(xxhash64(col("__did")), lit(docBuckets.toLong))
        .cast("int").as("__dbkt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // discovery BEFORE any write: old cells from the pre-batch _docs
    val affected: Seq[Seq[Any]] = spark.read.parquet(idx.path + "_docs")
      .filter(col("__dbkt").isin(dbks: _*))
      .join(changedPks, Seq("__did"), "left_semi")
      .select(cents.assign(col("__tvf")).as("__cell"))
      .union(newToks.select("__cell")).distinct()
      .collect().map(r => Seq[Any](r.getInt(0)))
    // phase 1: ADDITIVE _docs append (crash ⇒ superset, safe)
    newDocs.repartition(col("__dbkt"))
      .write.mode("append").partitionBy("__dbkt")
      .parquet(idx.path + "_docs")
    // phase 2: coded store — rewrite touched cell dirs
    if (affected.nonEmpty) {
      PartitionedLayout.mergeOverwrite(spark, idx.path, Seq("__cell"),
        affected,
        spark.read.parquet(idx.path)
          .filter(PartitionedLayout.touchedPred(Seq("__cell"), affected)),
        Seq("__did"), changedPks, newCoded)
    }
    // phase 3: exact _docs trim (also removes the phase-1 duplicates)
    PartitionedLayout.mergeOverwrite(spark, idx.path + "_docs",
      Seq("__dbkt"), dbks.map(Seq[Any](_)),
      spark.read.parquet(idx.path + "_docs")
        .filter(col("__dbkt").isin(dbks: _*)),
      Seq("__did"), changedPks, newDocs)
  }

  def topKPersisted(spark: SparkSession, idx: Persisted, docIdCol: String,
      queryTokens: DataFrame, queryIdCol: String, queryTokIdxCol: String,
      queryVecCol: String, k: Int): DataFrame = {
    val (docBuckets, nProbe, c) = loadMeta(spark, idx.path)
    val cb = loadCodebooks(spark, idx.path)
    val pb = probes(queryTokens, queryIdCol, queryTokIdxCol, queryVecCol,
      Ann.loadCentroids(spark, idx.path + "_cents"), nProbe)
      .localCheckpoint(true) // cells collect + 2 joins
    val probedCells = pb.select("__cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val coded = spark.read.parquet(idx.path)
      .filter(col("__cell").isin(probedCells: _*))
    // candidate pks materialize first (dbks collect), so the _docs
    // fetch prunes to their hash dirs (the MaxSim _docs discipline).
    // cand is recomputed by the refine rather than checkpointed — the
    // MaxSim.topKPersisted tradeoff: both computations are pruned
    // cell-dir scans, and keeping them in the plan keeps the pruning
    // visible to plan audits (numFiles pins). No candidate semi-join
    // on the fetch: the refine's INNER join on __did already
    // restricts to candidates, so the semi was a THIRD evaluation of
    // the candidate plan (ADC scan + two rollups + rank window) for a
    // restriction the refine re-applied anyway.
    val cand = candidates(coded, pb, cb, k, c)
    val dbks = cand
      .select(pmod(xxhash64(col("__did")), lit(docBuckets.toLong))
        .cast("int").as("__dbkt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val dtFull = spark.read.parquet(idx.path + "_docs")
      .filter(col("__dbkt").isin(dbks: _*))
      .select(col("__did"),
        transform(col("__tvf"), _.cast("double")).as("__dv"))
    refine(cand, dtFull, pb, docIdCol, k)
  }
}
