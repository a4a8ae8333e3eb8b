package graft.search

import graft.functions.{Metric, VectorFunctions => VF}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Product quantization — the second compression leg next to [[Sq8]],
  * and the codebook-based one real vector stores pair with IVF (the
  * managed service behind the reference's `similarity_search`,
  * /root/reference/src/databricks/query_endpoint.py:126-146, is an
  * HNSW/quantization engine; PQ is the public-literature compression
  * half, Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", IEEE TPAMI 2011).
  *
  * The D-dim space is split into `m` subspaces of `dsub = D/m` dims;
  * each subspace gets a `k`-entry codebook, and a vector stores one
  * centroid index per subspace — 64 floats become 8 small ints. Query
  * scoring is ADC (asymmetric distance computation): per subspace,
  * the distance from the query's sub-vector to each centroid is a
  * k-entry lookup table, and the approximate distance of a corpus row
  * is the sum of its codes' table entries.
  *
  * Two deliberate deviations from the textbook make every stage a pure
  * function of the corpus — hence DuckDB-oracle-checkable — without
  * changing the plan shape a KMeans-trained PQ would have:
  *  - codebooks are DETERMINISTIC: subspace s's centroids are the
  *    sub-vectors of the first `k` corpus rows by id (the same trick
  *    as Ann.buildIvfDeterministic's centroids);
  *  - all arithmetic is INTEGER: components are quantized to
  *    floor(x · 2^20) (exactly like SignLsh's projections), so
  *    encode argmins and ADC sums are order-free exact integer math,
  *    bit-identical in any engine. The ~1e-6 quantization error is
  *    far below the approximation error PQ itself introduces.
  *
  * Scale shape: `fit` collects k rows (driver-small, like KMeans
  * centroids); encode is one codegen-friendly projection pass; the
  * coarse ADC scan reads only the (m ints per row) code column — the
  * same 100 TB story as SQ8's byte scan, ~32× smaller than floats —
  * and only k·c survivors per query touch the full vectors for the
  * exact refine.
  */
object Pq {

  /** 2^20 — the integer quantization scale shared with the oracle. */
  val Scale: Double = 1048576.0

  /** Deterministic codebooks: `cb(s)(j)(d)` = integer component d of
    * subspace s's centroid j. */
  final case class Codebooks(m: Int, dsub: Int, k: Int,
      cb: Array[Array[Array[Long]]]) extends Serializable

  private def quant(x: Double): Long = math.floor(x * Scale).toLong

  /** Codebooks from the first `k` corpus rows by id — driver-small
    * (k × D longs), a pure function of the corpus. */
  def fit(corpus: DataFrame, vecCol: String, idCol: String, m: Int,
      k: Int): Codebooks = {
    val rows = corpus.filter(col(vecCol).isNotNull)
      .orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(rows.nonEmpty, "PQ fit needs a non-empty corpus")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val cb = Array.tabulate(m, rows.length, dsub) { (s, j, d) =>
      quant(rows(j)(s * dsub + d).toDouble)
    }
    Codebooks(m, dsub, rows.length, cb)
  }

  /** TRAINED codebooks: deterministic sampled k-means per subspace
    * ([[Kmeans]]) — the quality path for 100×-scale corpora where
    * [[fit]]'s arbitrary first-k rows quantize poorly. Same integer
    * grid, same driver-small footprint (sample of `sampleN` rows), and
    * still a pure function of the corpus: the oracle replays the
    * md5-ordered sample and the unrolled Lloyd iterations in SQL
    * (`ann_pq_trained_rerank`). Codebook entries feed the identical
    * [[encode]]/[[adc]] path, so the persisted-layout contract
    * ([[persistIvfPq]] side files, frozen-codebook sync) is unchanged. */
  def fitTrained(corpus: DataFrame, vecCol: String, idCol: String, m: Int,
      k: Int, iters: Int = 2, sampleN: Int = 128): Codebooks = {
    val sample = Kmeans.sampleQuantized(corpus, vecCol, idCol, sampleN)
    require(sample.nonEmpty, "PQ fitTrained needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val cb = Array.tabulate(m) { s =>
      val pts = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      Kmeans.lloyd(pts, k, iters)
    }
    Codebooks(m, dsub, math.min(k, sample.length), cb)
  }

  /** floor(x · 2^20) per component — the query-side quantization. */
  def intQuant(c: Column): Column =
    transform(c, x => floor(x.cast("double") * lit(Scale)).cast("long"))

  /** TRAINED residual codebooks — [[fitResidual]]'s quality path:
    * the md5-ordered deterministic sample ([[Kmeans]] discipline) is
    * taken WITH its cell assignment, converted to integer residuals
    * (subtract-after-quantize, exact), and each subspace runs the
    * fixed-iteration integer Lloyd. At 100× scale this is the
    * configuration FAISS IVFPQ actually ships: coarse centroids and
    * residual codebooks both k-means-trained, both frozen. Same
    * driver-small footprint; the oracle replays the sample, the
    * unrolled Lloyd iterations and the residual encode in SQL. */
  def fitResidualTrained(index: Ann.IvfIndex, vecCol: String,
      idCol: String, m: Int, k: Int, iters: Int = 2,
      sampleN: Int = 128): Codebooks = {
    val sample = index.corpusWithCell.filter(col(vecCol).isNotNull)
      .join(broadcast(index.centroids), Seq("__cell"))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
      .limit(sampleN)
      .select(residualInt(col(vecCol), col("__centroid")))
      .collect().map(_.getSeq[Long](0).toArray)
    require(sample.nonEmpty,
      "PQ fitResidualTrained needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val cb = Array.tabulate(m) { s =>
      val pts = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      Kmeans.lloyd(pts, k, iters)
    }
    Codebooks(m, dsub, math.min(k, sample.length), cb)
  }

  /** INTEGER-domain residual: floor(x·S) − floor(c·S) per component.
    * Subtracting AFTER quantization keeps the residual exact long
    * arithmetic (no float subtraction, no rounding drift), so
    * q(x) = q(c) + r holds bit-for-bit and the residual ADC distance
    * IS the full-vector quantized distance — the property that lets
    * the oracle replay residual encoding with plain integer SQL. */
  def residualInt(vec: Column, cent: Column): Column =
    zip_with(intQuant(vec), intQuant(cent), (a, b) => a - b)

  /** RESIDUAL codebooks for IVF-PQ (FAISS IVFPQ's actual form, Jégou
    * et al. 2011 §V-A: the fine quantizer encodes x − centroid(cell),
    * not x — within-cell displacements cluster far tighter than raw
    * vectors, which is what makes coarse+fine quantization accurate
    * at equal code bytes). Deterministic analog of [[fit]]: the
    * first `k` corpus rows by id contribute their integer residuals
    * relative to their OWN assigned cell's centroid. Driver-small
    * (k × D longs), a pure function of (corpus, centroids). */
  def fitResidual(index: Ann.IvfIndex, vecCol: String, idCol: String,
      m: Int, k: Int): Codebooks = {
    val rows = index.corpusWithCell.filter(col(vecCol).isNotNull)
      .join(broadcast(index.centroids), Seq("__cell"))
      .orderBy(col(idCol).asc).limit(k)
      .select(residualInt(col(vecCol), col("__centroid")))
      .collect().map(_.getSeq[Long](0).toArray)
    require(rows.nonEmpty, "PQ fitResidual needs a non-empty corpus")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val cb = Array.tabulate(m, rows.length, dsub) { (s, j, d) =>
      rows(j)(s * dsub + d)
    }
    Codebooks(m, dsub, rows.length, cb)
  }

  def encode(c: Column, cb: Codebooks): Column =
    Bridge.column(PqEncode(Bridge.expression(c), cb))

  def adc(codes: Column, queryInt: Column, cb: Codebooks): Column =
    Bridge.column(PqAdc(Bridge.expression(codes),
      Bridge.expression(queryInt), cb))

  /** IVF-PQ — the canonical two-level vector-store composition (FAISS
    * IVFPQ, Jégou et al. 2011 §V): probe `nProbe` cells, ADC-rank ONLY
    * the probed cells' code vectors, exact refine on the k·c
    * survivors. Three prunes stack: cell partition pruning (on a
    * [[Ann.persistIvf]] layout the unprobed cells are never read) →
    * 32×-smaller ADC scan over the survivors → full vectors touched
    * only k·c times per query. Every stage is a pure function of the
    * corpus (deterministic centroids AND codebooks), so the whole
    * composition is oracle-checkable. */
  def rerankOverIvf(index: Ann.IvfIndex, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, corpusPkCol: String,
      corpusVecCol: String, k: Int, c: Int, cb: Codebooks, nProbe: Int,
      metric: Metric = Metric.Cosine): DataFrame = {
    val q = queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"),
        intQuant(col(queryVecCol)).as("__qint"))
    val probed = Ann.Centroids(index.centroids)
      .probeRows(q, "__qvec", nProbe)
    val coded = index.corpusWithCell
      .filter(col(corpusVecCol).isNotNull)
      .withColumn("__codes", encode(col(corpusVecCol), cb))
    val coarse = coded.join(broadcast(probed), Seq("__cell"))
      .withColumn("__adc", adc(col("__codes"), col("__qint"), cb))
      .withColumn("__crk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("__adc").asc, col(corpusPkCol).asc)))
      .filter(col("__crk") <= k * c)
    val scored = coarse.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(scored, corpusPkCol, k, metric)
  }

  /** RESIDUAL IVF-PQ — [[rerankOverIvf]] with the fine quantizer
    * encoding x − centroid(cell) instead of x (FAISS IVFPQ's true
    * form). The query side quantizes q − centroid per PROBED cell
    * (nProbe residuals per query, broadcast-tiny), and because the
    * coarse join matches codes to query residuals of the SAME cell,
    * ADC directly approximates ‖q − x‖² with the centroid term
    * implicitly added back — no separate correction needed. Same
    * three-prune plan shape as the raw variant; the codebook just
    * describes a tighter distribution at equal code bytes. */
  def rerankOverIvfResidual(index: Ann.IvfIndex, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, corpusPkCol: String,
      corpusVecCol: String, k: Int, c: Int, cb: Codebooks, nProbe: Int,
      metric: Metric = Metric.Cosine): DataFrame = {
    val q = queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"))
    val cents = Ann.Centroids(index.centroids)
    val probed = cents.probeRows(q, "__qvec", nProbe)
      .withColumn("__qint",
        residualInt(col("__qvec"), cents.centroid(col("__cell"))))
    val coded = index.corpusWithCell
      .filter(col(corpusVecCol).isNotNull)
      .withColumn("__codes", encode(residualInt(col(corpusVecCol),
        cents.centroid(col("__cell"))), cb))
    val coarse = coded.join(broadcast(probed), Seq("__cell"))
      .withColumn("__adc", adc(col("__codes"), col("__qint"), cb))
      .withColumn("__crk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("__adc").asc, col(corpusPkCol).asc)))
      .filter(col("__crk") <= k * c)
    val scored = coarse.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(scored, corpusPkCol, k, metric)
  }

  // ------- persisted cell-partitioned layout (FAISS IVFPQ on disk) -------

  /** Handle to a [[persistIvfPq]] layout. */
  final case class PersistedIvfPq(path: String)

  /** Persist the IVF-PQ index as ONE cell-partitioned layout holding
    * `(pk, vector, __codes)` — the on-disk form of the FAISS IVFPQ
    * composition. Parquet is columnar, so the two stages of
    * [[queryPersistedIvfPq]] read disjoint bytes of the same files:
    * the coarse ADC stage scans only the m-int code column (~32×
    * smaller than the floats) and the refine reads the vector column
    * for just the k·c survivors — while unprobed cell DIRECTORIES are
    * pruned for both at the file listing, exactly like
    * [[Ann.persistIvf]]. Codebooks are persisted beside the centroids
    * (`path + "_codebooks"`) so the layout is self-contained: queries
    * and [[syncPersistedIvfPq]] reload them instead of refitting —
    * the frozen-codebook contract. A [[Ann.balanceCells]]-split index
    * persists (cell, subcell) dirs like the plain IVF layout. */
  def persistIvfPq(index: Ann.IvfIndex, cb: Codebooks, vecCol: String,
      path: String): PersistedIvfPq = {
    val withCodes = index.corpusWithCell
      .withColumn("__codes", encode(col(vecCol), cb))
    writeIvfPqLayout(index, withCodes, cb, path, residual = false)
  }

  /** [[persistIvfPq]] with RESIDUAL codes: rows encode
    * x − centroid(cell) against [[fitResidual]] codebooks, and the
    * codebook side file carries a `__residual` marker so the layout
    * is SELF-DESCRIBING — [[queryPersistedIvfPq]] and
    * [[syncPersistedIvfPq]] read the marker and pick the matching
    * encode/probe arithmetic; no caller flag to get wrong, and
    * [[mergeIvfPqShards]]'s codebook-equality guard refuses a
    * raw/residual shard mix for free (the marker is part of the
    * compared rows). */
  def persistIvfPqResidual(index: Ann.IvfIndex, cb: Codebooks,
      vecCol: String, path: String): PersistedIvfPq = {
    val withCodes = index.corpusWithCell
      .join(broadcast(index.centroids), Seq("__cell"))
      .withColumn("__codes",
        encode(residualInt(col(vecCol), col("__centroid")), cb))
      .drop("__centroid")
    writeIvfPqLayout(index, withCodes, cb, path, residual = true)
  }

  private def writeIvfPqLayout(index: Ann.IvfIndex, withCodes: DataFrame,
      cb: Codebooks, path: String, residual: Boolean): PersistedIvfPq = {
    val spark = index.corpusWithCell.sparkSession
    import spark.implicits._
    val rows = for { s <- 0 until cb.m; j <- 0 until cb.k }
      yield (s, j, cb.cb(s)(j).toSeq)
    val base = rows.toDF("__s", "__j", "__comps")
    // the codebook side file lands on its own path — write it
    // concurrently with the cell layout + centroids instead of as a
    // serial third job (the persistIvf twin-write discipline)
    graft.index.PartitionedLayout.inParallel(
      Ann.persistIvf(
        Ann.IvfIndex(withCodes, index.centroids, index.splits), path),
      (if (residual) base.withColumn("__residual", lit(true)) else base)
        .coalesce(1).write.mode("overwrite").parquet(path + "_codebooks"))
    PersistedIvfPq(path)
  }

  /** Does the layout's codebook side file carry the residual marker? */
  def isResidualLayout(spark: SparkSession, path: String): Boolean =
    spark.read.parquet(path + "_codebooks").columns.contains("__residual")

  /** Merge N shard layouts (each a [[persistIvfPq]] over one corpus
    * shard built against the SAME centroids and codebooks) into one
    * layout by FILE MOVES — the quantized completion of
    * [[Ann.mergeIvfShards]] (which this delegates to for the cell
    * dirs, the centroid guard and the split-shard guard). Codes are a
    * pure per-row function of (vector, codebooks) and cells of
    * (vector, centroids), so the merged layout IS a full build: train
    * both quantizers once on a sample, fan the corpus into
    * independent shard encodes, merge with O(files) metadata ops.
    * Additional guard: every shard's `_codebooks` side file must be
    * identical to the first's. Shard roots are consumed. */
  def mergeIvfPqShards(spark: SparkSession, shardPaths: Seq[String],
      destPath: String): PersistedIvfPq = {
    require(shardPaths.nonEmpty, "mergeIvfPqShards needs >= 1 shard")
    import org.apache.hadoop.fs.Path
    val fs = new Path(destPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the residual marker is compared alongside the entries: a raw
    // and a residual shard must never merge even if their codebook
    // VALUES happened to coincide
    def cbRows(p: String): (Boolean, Seq[(Int, Int, Seq[Long])]) =
      (isResidualLayout(spark, p),
        spark.read.parquet(p + "_codebooks").orderBy("__s", "__j")
          .select("__s", "__j", "__comps")
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
          .toSeq)
    val ref = cbRows(shardPaths.head)
    shardPaths.tail.foreach { p =>
      require(cbRows(p) == ref,
        s"shard $p was encoded with different codebooks than " +
          s"${shardPaths.head} — refusing to merge")
    }
    Ann.mergeIvfShards(spark, shardPaths, destPath)
    fs.delete(new Path(destPath + "_codebooks"), true)
    fs.rename(new Path(shardPaths.head + "_codebooks"),
      new Path(destPath + "_codebooks"))
    shardPaths.tail.foreach(p =>
      fs.delete(new Path(p + "_codebooks"), true))
    PersistedIvfPq(destPath)
  }

  /** Reload persisted codebooks — m·k rows, driver-small like the
    * centroid side file. */
  def loadCodebooks(spark: SparkSession, path: String): Codebooks =
    loadCodebooksWithMarker(spark, path)._1

  /** [[loadCodebooks]] + [[isResidualLayout]] off ONE read of the
    * `_codebooks` side file: every query/sync needs both, and reading
    * the file twice cost two extra footer/collect jobs per call. */
  def loadCodebooksWithMarker(spark: SparkSession,
      path: String): (Codebooks, Boolean) = {
    val df = spark.read.parquet(path + "_codebooks")
    val residual = df.columns.contains("__residual")
    val rows = df.select("__s", "__j", "__comps").collect()
    require(rows.nonEmpty, s"no codebooks at ${path}_codebooks")
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val dsub = rows.head.getSeq[Long](2).length
    val cb = Array.ofDim[Long](m, k, dsub)
    rows.foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Long](2).toArray
    }
    (Codebooks(m, dsub, k, cb), residual)
  }

  /** [[rerankOverIvf]] over a [[persistIvfPq]] layout — identical
    * semantics, three physical prunes composed on disk: probe →
    * partition pruning (unprobed cell dirs never opened) → coarse ADC
    * scan whose ReadSchema carries only the code column → exact refine
    * joining the vector column back for the k·c survivors (broadcast:
    * the survivor set is bounded by queries × k·c). */
  /** `rowFilter` mirrors [[Ann.queryPersistedIvf]]'s filtered-ANN
    * contract: the predicate lands on the coarse codes scan (its
    * ReadSchema grows by the filter columns, still no vectors), and
    * the refine inherits it through the survivor pk join. */
  def queryPersistedIvfPq(spark: SparkSession, idx: PersistedIvfPq,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpusPkCol: String, corpusVecCol: String, k: Int, c: Int,
      nProbe: Int, metric: Metric = Metric.Cosine,
      rowFilter: Option[Column] = None): DataFrame = {
    val (cb, residual) = loadCodebooksWithMarker(spark, idx.path)
    val cents = Ann.loadCentroids(spark, idx.path + "_centroids")
    val q = queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"))
    // the layout self-describes: a residual layout quantizes the
    // query AGAINST each probed cell's centroid (q − c, the FAISS
    // IVFPQ probe arithmetic); a raw layout quantizes q once — the
    // per-probed-row intQuant below is nProbe-bounded either way
    val qint =
      if (residual) residualInt(col("__qvec"), cents.centroid(col("__cell")))
      else intQuant(col("__qvec"))
    val (cells, probedLocal) =
      Ann.collectProbe(spark, cents, q, nProbe, qint.as("__qint"))
    val prunedScan = spark.read.parquet(idx.path)
      .filter(col("__cell").isin(cells: _*))
    val codes = rowFilter.map(prunedScan.filter).getOrElse(prunedScan)
      .select(col("__cell"), col(corpusPkCol), col("__codes"))
    val coarse = codes.join(broadcast(probedLocal), Seq("__cell"))
      .withColumn("__adc", adc(col("__codes"), col("__qint"), cb))
      .withColumn("__crk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("__adc").asc, col(corpusPkCol).asc)))
      .filter(col("__crk") <= k * c)
      .select(col("query_id"), col("__qvec"), col("__cell"),
        col(corpusPkCol))
    val full = spark.read.parquet(idx.path)
      .filter(col("__cell").isin(cells: _*))
      .select(col("__cell"), col(corpusPkCol), col(corpusVecCol))
    val scored = full.join(broadcast(coarse), Seq("__cell", corpusPkCol))
      .withColumn("score",
        VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(scored, corpusPkCol, k, metric)
  }

  /** CDF maintenance of a [[persistIvfPq]] layout: centroids AND
    * codebooks stay FROZEN (the FAISS contract — adding vectors never
    * re-trains; rebuild to re-train), the delta batch is encoded with
    * the persisted codebooks and handed to [[Ann.syncPersistedIvf]],
    * which assigns cells with the persisted centroids and rewrites
    * only the touched cell dirs (deletes, updates and cell migration
    * included). */
  def syncPersistedIvfPq(spark: SparkSession, idx: PersistedIvfPq,
      changes: DataFrame, pkCol: String, vecCol: String): Unit = {
    val (cb, residualLayout) = loadCodebooksWithMarker(spark, idx.path)
    val withCodes =
      if (!residualLayout)
        changes.withColumn("__codes", encode(col(vecCol), cb))
      else {
        // residual layout: a change row's code depends on its CELL, so
        // assign it here with the persisted centroids — the same
        // Centroids.assign syncPersistedIvf performs downstream, so the
        // two assignments agree — then encode x − centroid. A
        // delete/null-vector row encodes to null (it never reaches the
        // layout).
        val cents = Ann.loadCentroids(spark, idx.path + "_centroids")
        changes.withColumn("__codes", encode(residualInt(col(vecCol),
          cents.centroid(cents.assign(col(vecCol)))), cb))
      }
    Ann.syncPersistedIvf(spark, Ann.PersistedIvf(idx.path),
      withCodes, pkCol, vecCol)
  }

  /** PQ retrieve-then-rerank: coarse top-k·c per query by ADC over the
    * code column, exact metric on the survivors only. Returns
    * `(query_id, rank, <pk>, score)`. */
  def rerank(corpus: DataFrame, queries: DataFrame, corpusVecCol: String,
      corpusPkCol: String, queryVecCol: String, queryIdCol: String,
      k: Int, c: Int, cb: Codebooks,
      metric: Metric = Metric.Cosine): DataFrame = {
    val enc = corpus.filter(col(corpusVecCol).isNotNull)
      .withColumn("__codes", encode(col(corpusVecCol), cb))
    val q = broadcast(queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"),
        intQuant(col(queryVecCol)).as("__qint")))
    val coarse = enc.crossJoin(q)
      .withColumn("__adc", adc(col("__codes"), col("__qint"), cb))
      .withColumn("__cr", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("__adc").asc, col(corpusPkCol).asc)))
      .filter(col("__cr") <= k * c)
    val scored = coarse.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(scored, corpusPkCol, k, metric)
  }
}

/** Per-subspace argmin over the codebook: `codes(s)` = index of the
  * nearest centroid (integer L2², ties → lowest index). A long-array
  * input is taken as ALREADY-quantized integer components (the
  * residual path feeds `residualInt` output); float/double inputs
  * quantize with floor(x · 2^20) first. */
case class PqEncode(child: Expression, cb: Pq.Codebooks)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  // 0 = float, 1 = double, 2 = pre-quantized long
  @transient private lazy val inKind: Int = child.dataType match {
    case ArrayType(FloatType, _) => 0
    case ArrayType(LongType, _) => 2
    case _ => 1
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Int](cb.m)
    var s = 0
    while (s < cb.m) {
      var bestJ = 0
      var bestD = Long.MaxValue
      var j = 0
      while (j < cb.k) {
        var d2 = 0L
        var d = 0
        while (d < cb.dsub) {
          val idx = s * cb.dsub + d
          val xi = inKind match {
            case 0 =>
              math.floor(arr.getFloat(idx).toDouble * Pq.Scale).toLong
            case 2 => arr.getLong(idx)
            case _ => math.floor(arr.getDouble(idx) * Pq.Scale).toLong
          }
          val diff = xi - cb.cb(s)(j)(d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; bestJ = j }
        j += 1
      }
      out(s) = bestJ
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) =
    copy(child = c)
}

/** ADC distance: sum over subspaces of the integer L2² between the
  * query's quantized sub-vector and the coded centroid. */
case class PqAdc(left: Expression, right: Expression, cb: Pq.Codebooks)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(codesAny: Any, qAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val qi = qAny.asInstanceOf[ArrayData]
    var acc = 0L
    var s = 0
    while (s < cb.m) {
      val j = codes.getInt(s)
      var d = 0
      while (d < cb.dsub) {
        val diff = qi.getLong(s * cb.dsub + d) - cb.cb(s)(j)(d)
        acc += diff * diff
        d += 1
      }
      s += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      nl: Expression, nr: Expression): Expression =
    copy(left = nl, right = nr)
}
