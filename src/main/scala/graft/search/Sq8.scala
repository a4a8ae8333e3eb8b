package graft.search

import graft.functions.{Metric, VectorFunctions => VF}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** SQ8 scalar quantization — the storage-compression leg of the ANN
  * toolkit (HNSW-style engines pair a quantized scan with an exact
  * refine; IVF/LSH here are the pruning legs). Each dimension is
  * affinely mapped to an 8-bit code by corpus min/max:
  *
  *   code_d = clamp(floor((x_d - min_d) / (max_d - min_d) * 255 + 0.5))
  *   stored as  code_d - 128  ∈ [-128, 127]  (one BYTE per dimension)
  *
  * A 100 TB float corpus scans as 25 TB of codes; the coarse stage
  * scores candidates directly on the codes with an INTEGER dot product
  * (exact, order-independent arithmetic → bit-identical in any engine,
  * so the whole quantized path is DuckDB-oracle-checkable at realistic
  * parameters), and only the k·c survivors touch the full floats for
  * the exact refine — the [[Rerank]] composition with a 4× cheaper
  * stage 1.
  */
case class Sq8Encode(child: Expression, mins: Array[Double],
    maxs: Array[Double]) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "sq8_encode"

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), mins.length)
    val out = new Array[Byte](n)
    var d = 0
    while (d < n) {
      val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      val range = maxs(d) - mins(d)
      val code =
        if (range == 0.0) 0
        else {
          val c = math.floor((x - mins(d)) / range * 255.0 + 0.5).toInt
          if (c < 0) 0 else if (c > 255) 255 else c
        }
      out(d) = (code - 128).toByte
      d += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Integer dot product of two code arrays — exact, order-free. */
case class Sq8Dot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "sq8_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getByte(i).toLong * b.getByte(i).toLong; i += 1 }
    acc
  }

  override protected def withNewChildrenInternal(
      nl: Expression, nr: Expression): Expression = copy(left = nl, right = nr)
}

object Sq8 {

  final case class Stats(mins: Array[Double], maxs: Array[Double])

  /** One pass: per-dimension min/max (dim rows — always driver-small,
    * the same class of artifact as KMeans centroids). */
  def fit(df: DataFrame, vecCol: String): Stats = {
    val rows = df.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("d")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .collect()
    val dim = rows.map(_.getInt(0)).max + 1
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    rows.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1); maxs(r.getInt(0)) = r.getDouble(2)
    }
    Stats(mins, maxs)
  }

  /** Persist fit stats beside a [[persist]] layout (`path + "_stats"`,
    * dim rows — driver-small like Pq's `_codebooks` side file) so the
    * layout is self-contained: a reopened catalog reloads the frozen
    * quantization grid instead of refitting. */
  def persistStats(spark: org.apache.spark.sql.SparkSession, stats: Stats,
      path: String): Unit = {
    import spark.implicits._
    stats.mins.indices.map(d => (d, stats.mins(d), stats.maxs(d)))
      .toDF("__d", "__mn", "__mx").coalesce(1)
      .write.mode("overwrite").parquet(path + "_stats")
  }

  /** Reload persisted [[persistStats]] stats — dim rows, driver-small. */
  def loadStats(spark: org.apache.spark.sql.SparkSession,
      path: String): Stats = {
    val rows = spark.read.parquet(path + "_stats")
      .select("__d", "__mn", "__mx").collect()
    require(rows.nonEmpty, s"no SQ8 stats at ${path}_stats")
    val dim = rows.map(_.getInt(0)).max + 1
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    rows.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1); maxs(r.getInt(0)) = r.getDouble(2)
    }
    Stats(mins, maxs)
  }

  def encode(c: Column, stats: Stats): Column =
    Bridge.column(Sq8Encode(Bridge.expression(c), stats.mins, stats.maxs))

  def dot(a: Column, b: Column): Column =
    Bridge.column(Sq8Dot(Bridge.expression(a), Bridge.expression(b)))

  /** Quantized retrieve-then-rerank: coarse top-k·c per query by the
    * integer code dot (a byte-wide scan), exact metric on the
    * survivors only. Returns `(query_id, rank, <pk>, score)`. */
  def rerank(corpus: DataFrame, queries: DataFrame, corpusVecCol: String,
      corpusPkCol: String, queryVecCol: String, queryIdCol: String,
      k: Int, c: Int, stats: Stats,
      metric: Metric = Metric.Cosine): DataFrame = {
    val enc = encode(col(corpusVecCol), stats)
    val q = broadcast(queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"),
        encode(col(queryVecCol), stats).as("__qcode")))
    val coarse = corpus.filter(col(corpusVecCol).isNotNull)
      .withColumn("__code", enc)
      .crossJoin(q)
      .withColumn("__cscore", dot(col("__code"), col("__qcode")))
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("__cscore").desc, col(corpusPkCol).asc)
    val cand = coarse.withColumn("__cr", row_number().over(w1))
      .filter(col("__cr") <= k * c)
    val rescored = cand.withColumn("score",
      VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(rescored, corpusPkCol, k, metric)
  }

  // ------------- persisted two-file layout (codes | vectors) -------------

  /** Handle to a [[persist]] layout. */
  final case class PersistedSq8(path: String, stats: Stats)

  /** pk-hash dir count of both files — what lets [[syncPersistedSq8]]
    * rewrite only the dirs holding changed pks. */
  private val DocBuckets = 32

  private def withBucket(df: DataFrame, pkCol: String): DataFrame =
    df.withColumn("__dbkt",
      pmod(xxhash64(col(pkCol)), lit(DocBuckets.toLong)).cast("int"))

  /** Persist the honest on-disk form of the "4× cheaper scan" story:
    * a CODES file `(pk, __code array<byte>)` — what the coarse stage
    * scans, 1 byte/dim instead of 4 — and the full-vector file beside
    * it, touched only by the k·c refine lookups. At 100 TB the coarse
    * stage reads ~25 TB instead of 100; the refine reads a bounded
    * per-query row set. Both files are pk-hash-bucketed so
    * [[syncPersistedSq8]] rewrites only touched dirs. */
  def persist(corpus: DataFrame, vecCol: String, pkCol: String,
      path: String, stats: Stats): PersistedSq8 = {
    val valid = corpus.filter(col(vecCol).isNotNull)
    // disjoint paths — the codes and vector files write concurrently
    graft.index.PartitionedLayout.inParallel(
      withBucket(valid.select(col(pkCol),
          encode(col(vecCol), stats).as("__code")), pkCol)
        .repartition(col("__dbkt"))
        .write.mode("overwrite").partitionBy("__dbkt")
        .parquet(path + "_codes"),
      withBucket(valid, pkCol)
        .repartition(col("__dbkt"))
        .write.mode("overwrite").partitionBy("__dbkt").parquet(path))
    // write-fence (parquet footer counts): codes and vectors are the
    // same row multiset — unequal counts mean a torn twin; fail loudly
    // at build time (no checkpoint here: `valid` is a plain filter off
    // the source scan, so the double read is cheaper than materializing
    // a full corpus copy)
    val spark = corpus.sparkSession
    val nc = spark.read.parquet(path + "_codes").count()
    val nv = spark.read.parquet(path).count()
    require(nc == nv,
      s"sq8 persist torn: codes=$nc rows, vectors=$nv rows at $path")
    PersistedSq8(path, stats)
  }

  /** Merge N shard layouts (each a [[persist]] over one corpus shard
    * encoded on the SAME quantization grid) into one layout by FILE
    * MOVES — codes and vector files both, zero bytes rewritten
    * ([[graft.index.PartitionedLayout.moveMerge]]). Codes are a pure
    * per-row function of (vector, stats), so shard layouts partition
    * the row space and their union IS a full build: train the grid
    * once (a sample suffices — [[fit]] is one pass), fan the corpus
    * into independent shard encodes, merge with O(files) metadata
    * ops. Guard: a shard carrying a `_stats` side file must match the
    * shared grid exactly — merging mismatched grids silently corrupts
    * every coarse distance. The merged layout persists the shared
    * grid. Shard roots are consumed. */
  def mergeShards(spark: org.apache.spark.sql.SparkSession,
      shardPaths: Seq[String], destPath: String,
      stats: Stats): PersistedSq8 = {
    require(shardPaths.nonEmpty, "mergeShards needs >= 1 shard")
    import org.apache.hadoop.fs.Path
    val fs = new Path(destPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    shardPaths.foreach { p =>
      if (fs.exists(new Path(p + "_stats"))) {
        val st = loadStats(spark, p)
        require(st.mins.sameElements(stats.mins) &&
          st.maxs.sameElements(stats.maxs),
          s"shard $p was encoded on a different quantization grid " +
            "than the merge target — refusing to merge")
      }
    }
    graft.index.PartitionedLayout.inParallel(
      graft.index.PartitionedLayout.moveMerge(spark,
        shardPaths.map(_ + "_codes"), destPath + "_codes", depth = 1),
      graft.index.PartitionedLayout.moveMerge(spark, shardPaths,
        destPath, depth = 1))
    shardPaths.foreach(p => fs.delete(new Path(p + "_stats"), true))
    persistStats(spark, stats, destPath)
    PersistedSq8(destPath, stats)
  }

  /** CDF-batch maintenance of a [[persist]] layout — the SQ8 leg's
    * [[graft.search.Ann.syncPersistedIvf]]: last-write-wins per pk,
    * deletes and null-vector upserts leave the index. Quantization
    * stats stay FROZEN at build (the frozen-centroid contract — new
    * vectors encode on the build-time grid; re-fit via rebuild), so a
    * change batch is one encode projection plus a merge of the ≤ batch
    * pk-hash dirs it touches in each file. Idempotent under replay. */
  def syncPersistedSq8(spark: org.apache.spark.sql.SparkSession,
      idx: PersistedSq8, changes: DataFrame, pkCol: String,
      vecCol: String): Unit = {
    import graft.index.ChangeLog
    val latest = ChangeLog.latestPerPk(changes, pkCol).localCheckpoint(true)
    val changedPks = latest.select(col(pkCol))
    val upserts = latest.filter(col("__op") =!= ChangeLog.OpDelete)
      .drop("__op", "__seq").filter(col(vecCol).isNotNull)
      .localCheckpoint(true) // codes + vectors merges both consume it
    val dbks = withBucket(changedPks, pkCol)
      .select("__dbkt").distinct().collect().map(_.getInt(0)).toSeq
    // shared merge-overwrite skeleton — graft.index.PartitionedLayout
    def mergeInto(path: String, newRows: DataFrame): Unit =
      graft.index.PartitionedLayout.mergeOverwrite(spark, path,
        Seq("__dbkt"), dbks.map(Seq[Any](_)),
        spark.read.parquet(path).filter(col("__dbkt").isin(dbks: _*)),
        Seq(pkCol), changedPks, withBucket(newRows, pkCol))
    mergeInto(idx.path + "_codes",
      upserts.select(col(pkCol), encode(col(vecCol), idx.stats).as("__code")))
    mergeInto(idx.path, upserts)
  }

  /** [[rerank]] over a [[persist]] layout: identical semantics, but the
    * coarse scan touches ONLY the byte-code file (check `.explain`:
    * its ReadSchema has no vector column) and the full vectors are
    * joined back by pk for just the k·c survivors.
    *
    * `rowFilter` is the metadata-filter parameter (PRE-rank, the
    * [[graft.search.Ann.queryPersistedIvf]] contract) applied BEFORE
    * the coarse k·c cut — a post-coarse filter would starve the refine
    * under selective predicates. The predicate lands on the
    * full-vector file's scan (column-pruned to pk + filter columns);
    * the codes scan semi-joins the eligible pks. */
  def rerankPersisted(spark: org.apache.spark.sql.SparkSession,
      idx: PersistedSq8, queries: DataFrame, queryVecCol: String,
      queryIdCol: String, corpusPkCol: String, corpusVecCol: String,
      k: Int, c: Int, metric: Metric = Metric.Cosine,
      rowFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val q = broadcast(queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec"),
        encode(col(queryVecCol), idx.stats).as("__qcode")))
    val codes0 = spark.read.parquet(idx.path + "_codes")
    val codes = rowFilter.map { f =>
      val keep = spark.read.parquet(idx.path).filter(f)
        .select(col(corpusPkCol))
      codes0.join(keep, Seq(corpusPkCol), "left_semi")
    }.getOrElse(codes0)
    val coarse = codes
      .crossJoin(q)
      .withColumn("__cscore", dot(col("__code"), col("__qcode")))
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("__cscore").desc, col(corpusPkCol).asc)
    val cand = coarse.withColumn("__cr", row_number().over(w1))
      .filter(col("__cr") <= k * c)
      .select(col("query_id"), col("__qvec"), col(corpusPkCol))
    val full = spark.read.parquet(idx.path)
      .select(col(corpusPkCol), col(corpusVecCol))
    val rescored = cand.join(full, Seq(corpusPkCol))
      .withColumn("score",
        VF.distance(col(corpusVecCol), col("__qvec"), metric))
    Knn.topKPerQuery(rescored, corpusPkCol, k, metric)
  }
}
