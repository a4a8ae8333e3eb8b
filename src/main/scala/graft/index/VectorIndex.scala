package graft.index

import graft.functions.{Metric, VectorFunctions => VF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Engine-level vector index: the open-primitive equivalent of the
  * reference's delta-sync index (reference src/databricks/syntetic_data.py:
  * 95-107,195-211 — endpoint + index over a source table, PK-keyed,
  * TRIGGERED sync). An index is a persisted, normalized copy of
  * `(pk, vector[, payload cols])` plus metadata; `rebuild()` recomputes it
  * from the source table, `sync()` merges a change-log batch by PK
  * (graft.index.ChangeLog). ANN variants add a bucket column on top
  * (graft.search.Ann).
  *
  * 100 TB design notes: the build is one scan + optional repartition by
  * pk-hash (co-locates later merge work); vectors are L2-normalized at
  * build so cosine queries run as dot products; rows with null vectors
  * are excluded, never crash the build (SURVEY.md §1.2).
  */
/** `kind` selects the engine-side index layout the façade's
  * `similarity_search` routes to — the reference's single entry point
  * dispatches on the SERVICE-side index type the same way
  * (/root/reference/src/databricks/query_endpoint.py:126-146): "exact"
  * (the normalized artifact, brute-force scored), "ivf", "signlsh",
  * "graph", or "hybrid" ([[graft.index.IndexKinds]]). `options` are the
  * kind's build/query parameters (cells, nProbe, tables, bits, …),
  * frozen at creation and persisted with the metadata so a reopened
  * catalog routes identically. */
final case class IndexMeta(
    name: String,
    pkCol: String,
    vecCol: String,
    dim: Int,
    metric: Metric,
    path: String,
    kind: String = "exact",
    options: Map[String, String] = Map.empty)

final class VectorIndex(val meta: IndexMeta) {

  /** Normalize + filter the source into index shape. Zero-norm vectors are
    * excluded along with nulls and wrong dims: they carry no direction, so
    * no metric can rank them meaningfully, and keeping them would put a
    * constant-0 score row in every result set.
    *
    * MULTI-VECTOR kinds ([[IndexKinds.isMultiVector]]) store token BAGS:
    * malformed tokens (null / wrong dim) are dropped from each bag, rows
    * whose bag comes up empty leave the index, bags stay RAW (the
    * late-interaction legs score exact cosines themselves), and `__norm`
    * carries the bag's token count — the stats analog. */
  def prepare(source: DataFrame): DataFrame =
    if (IndexKinds.isMultiVector(meta.kind)) {
      source.filter(col(meta.vecCol).isNotNull)
        .withColumn(meta.vecCol, filter(col(meta.vecCol),
          t => t.isNotNull && size(t) === meta.dim))
        .filter(size(col(meta.vecCol)) > 0)
        .withColumn("__norm", size(col(meta.vecCol)).cast("double"))
    } else {
      source.filter(VectorIndex.validVector(meta))
        .withColumn("__norm", VF.norm(col(meta.vecCol)))
        .withColumn(meta.vecCol, VF.normalize(col(meta.vecCol)))
    }

  /** Full rebuild: recompute from the source table and overwrite the
    * persisted artifact (the TRIGGERED pipeline's batch path). */
  def rebuild(source: DataFrame, buckets: Int = 0): Unit = {
    val prepared = prepare(source)
    val placed =
      if (buckets > 0) prepared.repartition(buckets, col(meta.pkCol))
      else prepared
    placed.write.mode(SaveMode.Overwrite).parquet(meta.path)
  }

  def read(spark: SparkSession): DataFrame = spark.read.parquet(meta.path)

  /** Incremental sync: apply a change-log batch (last-write-wins by PK,
    * deletes honored, rows whose new vector is null leave the index) and
    * swap the persisted artifact. Equivalent to rebuild over source+log —
    * asserted by the sync≡rebuild property test.
    *
    * Swap protocol: rename dst aside, rename tmp into place, then delete
    * the old copy — a crash at any step leaves either the old or the new
    * index present under some name, never a window with no index at all
    * (unlike delete-then-rename). The FileSystem is resolved FROM the
    * index path, so an s3a:// index works even when the default FS is
    * HDFS/local. */
  def sync(spark: SparkSession, changes: DataFrame): Unit = {
    // recover a crash between the swap's two renames (index present
    // only under __old): restore it before reading
    val dst0 = new org.apache.hadoop.fs.Path(meta.path)
    val old0 = new org.apache.hadoop.fs.Path(meta.path + "__old")
    val fs0 = dst0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs0.exists(dst0) && fs0.exists(old0)) fs0.rename(old0, dst0)
    val current = read(spark)
    val latest = ChangeLog.latestPerPk(changes, meta.pkCol)
    val upserts = prepare(latest.filter(col("__op") =!= ChangeLog.OpDelete)
      .drop("__op", "__seq"))
    val changedPks = latest.select(col(meta.pkCol))
    val merged = current.join(changedPks, Seq(meta.pkCol), "left_anti")
      .unionByName(upserts)
    // write via temp path: parquet overwrite of a path being read is unsafe
    val tmp = new org.apache.hadoop.fs.Path(meta.path + "__tmp")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val dst = new org.apache.hadoop.fs.Path(meta.path)
    val old = new org.apache.hadoop.fs.Path(meta.path + "__old")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true) // clear leftover from a previous crashed swap
    fs.rename(dst, old)
    fs.rename(tmp, dst)
    fs.delete(old, true)
  }

  /** Index statistics — the observability a catalog needs. */
  def stats(spark: SparkSession): DataFrame =
    read(spark).agg(
      count(lit(1)).as("rows"),
      countDistinct(col(meta.pkCol)).as("distinct_pks"),
      round(avg("__norm"), 4).as("avg_norm"))
}

object VectorIndex {
  /** [[VectorIndex.prepare]]'s row rule for single-vector kinds: a
    * non-null vector of `dim` elements with norm > 0. The kinded
    * layouts build and sync under the same rule
    * ([[IndexKinds.build]], [[IndexKinds.sync]]), so every layout holds
    * exactly the exact artifact's rows. */
  def validVector(meta: IndexMeta): Column = {
    val v = col(meta.vecCol)
    v.isNotNull && size(v) === meta.dim && VF.norm(v) > 0.0
  }
}

/** Catalog of index metadata — create/get/drop with IF-NOT-EXISTS
  * semantics mirroring the reference's try/delete/create dance
  * (syntetic_data.py:195-201). Metadata persists as
  * `<root>/<name>__meta.json` so a fresh catalog instance (new session,
  * new JVM) can [[IndexCatalog.open]] the root and serve `get` for
  * indexes built earlier — the durability the reference gets from its
  * managed service. */
final class IndexCatalog(root: String) {
  private val indexes = scala.collection.mutable.Map[String, VectorIndex]()

  private def metaPath(name: String) =
    new org.apache.hadoop.fs.Path(s"$root/${name}__meta.json")

  private def fs(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def create(name: String, pkCol: String, vecCol: String, dim: Int,
      metric: Metric, overwrite: Boolean = true, kind: String = "exact",
      options: Map[String, String] = Map.empty): VectorIndex = {
    if (!overwrite && indexes.contains(name))
      throw new IllegalStateException(s"index $name exists")
    val idx = new VectorIndex(IndexMeta(name, pkCol, vecCol, dim, metric,
      s"$root/$name", kind, options))
    indexes(name) = idx
    idx
  }

  /** Persist metadata (call after the index artifact is built). */
  def save(spark: SparkSession, name: String): Unit =
    indexes.get(name).foreach { idx =>
      val m = idx.meta
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val opts = m.options.toSeq.sorted
        .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
      val json = s"""{"name":${q(m.name)},"pkCol":${q(m.pkCol)},""" +
        s""""vecCol":${q(m.vecCol)},"dim":${m.dim},""" +
        s""""metric":${q(m.metric.name)},"path":${q(m.path)},""" +
        s""""kind":${q(m.kind)},"options":$opts}"""
      val out = fs(spark).create(metaPath(name), true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    }

  def get(name: String): Option[VectorIndex] = indexes.get(name)

  def drop(spark: SparkSession, name: String): Unit = {
    indexes.remove(name).foreach { idx =>
      val p = new org.apache.hadoop.fs.Path(idx.meta.path)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(p, true)
      f.delete(metaPath(name), false)
    }
  }
}

object IndexCatalog {
  /** Re-open a catalog root: loads every persisted `*__meta.json`. */
  def open(spark: SparkSession, root: String): IndexCatalog = {
    val cat = new IndexCatalog(root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val f = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(rootPath)) {
      f.listStatus(rootPath).filter(_.getPath.getName.endsWith("__meta.json"))
        .foreach { st =>
          val in = f.open(st.getPath)
          val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          def fieldOpt(k: String): Option[String] =
            ("\"" + k + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").r
              .findFirstMatchIn(json)
              .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
          def field(k: String): String = fieldOpt(k)
            .getOrElse(throw new IllegalStateException(
              s"bad index meta ${st.getPath}: missing $k"))
          val dim = "\"dim\":(\\d+)".r.findFirstMatchIn(json)
            .map(_.group(1).toInt).getOrElse(0)
          // kind/options absent in pre-kind metadata → exact, no options
          val options = "\"options\":\\{([^}]*)\\}".r
            .findFirstMatchIn(json).map(_.group(1)) match {
            case Some(body) if body.nonEmpty =>
              "\"((?:[^\"\\\\]|\\\\.)*)\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
                .findAllMatchIn(body)
                .map(m => m.group(1) -> m.group(2)).toMap
            case _ => Map.empty[String, String]
          }
          val meta = IndexMeta(field("name"), field("pkCol"),
            field("vecCol"), dim, Metric.of(field("metric")), field("path"),
            fieldOpt("kind").getOrElse("exact"), options)
          cat.indexes(meta.name) = new VectorIndex(meta)
        }
    }
    cat
  }
}
