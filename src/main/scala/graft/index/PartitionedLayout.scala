package graft.index

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The ONE incremental-maintenance skeleton every persisted
  * partition-pruned layout shares — IVF cells ([[graft.search.Ann]]),
  * sign-LSH (table, code) dirs, SQ8 and near-dup pk-hash dirs
  * ([[graft.search.Sq8]], [[graft.operators.NearDupIndex]]), BM25 term
  * buckets ([[graft.search.Hybrid]]): anti-join the changed keys out of
  * the touched dirs' current rows, add the re-derived rows, rewrite
  * ONLY those dirs, and drop any touched dir whose rows all went away.
  * Factored here so the contract — and the next sync bug — lives in one
  * place instead of six.
  *
  * Scale shape (inherited by every caller): `affected` is a
  * driver-collected key list BOUNDED BY THE LAYOUT'S KEY SPACE (cells,
  * tables × 2^bits, hash-bucket count), never by corpus or batch size;
  * the rewrite moves only the touched dirs' bytes; the merge result is
  * materialized (localCheckpoint) BEFORE the overwrite because its plan
  * reads the very files the write replaces.
  */
object PartitionedLayout {

  /** Run two independent write/merge jobs concurrently — the two-table
    * layouts (near-dup postings + `_docs`, sign-LSH codes + `_docs`,
    * SQ8 codes + vectors) pay max() instead of sum() of two
    * fixed-latency jobs per micro-batch. Safe whenever the two jobs
    * touch DISJOINT paths (Spark schedules concurrent jobs from
    * separate threads freely). Both sides always run to the end before
    * this returns or throws — a failed side never leaves the other
    * writing unawaited, where a replay could race it — and then `a`'s
    * failure, else `b`'s, propagates. */
  def inParallel(a: => Unit, b: => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fa = Future(a)
    val fb = Future(b)
    val ra = Await.ready(fa, Duration.Inf).value.get
    val rb = Await.ready(fb, Duration.Inf).value.get
    ra.get
    rb.get
  }

  /** Inverse of Spark's partition-dir name escaping (%xx hex pairs —
    * ExternalCatalogUtils.unescapePathName's contract; malformed pairs
    * pass through verbatim). */
  private[index] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code =
          try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition-pruning predicate for a touched-key set, prunable at the
    * file listing. Depth matters at scale: a per-key OR-of-conjunctions
    * grows a left-deep boolean tree with the touched-key count
    * (thousands of Or nodes = Catalyst stack blowups, and Or chains
    * never get the InSet treatment). Single-column layouts get one
    * `isin`; two-column layouts group by the first column — depth
    * bounded by ITS cardinality (e.g. the table count), never by the
    * touched-pair count. */
  def touchedPred(partCols: Seq[String], affected: Seq[Seq[Any]]): Column = {
    require(partCols.nonEmpty && partCols.size <= 2,
      s"unsupported partition arity ${partCols.size}")
    if (affected.isEmpty) lit(false)
    else if (partCols.size == 1)
      col(partCols.head).isin(affected.map(_.head): _*)
    else affected.groupBy(_.head).toSeq.sortBy(_._1.toString)
      .map { case (h, keys) =>
        col(partCols.head) === lit(h) &&
          col(partCols(1)).isin(keys.map(_(1)): _*)
      }.reduce(_ || _)
  }

  /** Merge-overwrite the touched dirs of a partitioned parquet layout.
    *
    * `current` must be the layout's rows in exactly the `affected` dirs
    * (filter with [[touchedPred]] so the read is partition-pruned);
    * `changedKeys` the changed pk values (columns = `joinKeys`);
    * `newRows` the re-derived replacement rows (schema ⊇ `current`'s
    * columns). Rewrites use dynamic partition overwrite with one writer
    * per dir; a touched dir absent from the merge result is deleted
    * explicitly — dynamic overwrite only rewrites partitions PRESENT in
    * the result, so a dir whose rows all died would otherwise keep its
    * stale files. Idempotent under replay (anti-join by key, then
    * re-add). */
  /** Compaction for layouts grown by [[insertOverwrite]]-style appends
    * (the ingest pipelines add one file per touched dir per batch —
    * LSM behavior): every partition dir holding more than
    * `maxFilesPerDir` files is rewritten as one file, rows unchanged;
    * every other dir is left byte-identical. The dir listing is
    * driver-side but bounded by the layout's KEY SPACE (buckets,
    * tables × 2^bits), like every touched-key collect here. Returns
    * the number of dirs compacted. Idempotent; run it on the
    * maintenance cadence a production ingest already has (the
    * [[graft.search.GraphAnn.repruneBuckets]] slot). */
  def compact(spark: SparkSession, path: String, partCols: Seq[String],
      maxFilesPerDir: Int = 1): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    // descend partCols.size levels of partition dirs; only `k=v` dirs
    // are partition dirs (checkpoint/_temporary dirs would otherwise
    // crash the key parse below)
    def dirs(p: org.apache.hadoop.fs.Path, depth: Int)
        : Seq[org.apache.hadoop.fs.Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => dirs(s.getPath, depth - 1)).toSeq
    val over = dirs(root, partCols.size).filter { d =>
      fs.listStatus(d).count(s =>
        s.isFile && s.getPath.getName.startsWith("part-")) > maxFilesPerDir
    }
    if (over.isEmpty) return 0
    // partition keys of the oversized dirs, parsed from the dir names.
    // Spark %xx-escapes special chars in partition dir names
    // (ExternalCatalogUtils.escapePathName), so un-escape before
    // comparing against the cast-to-string partition VALUES
    val affected: Seq[Seq[Any]] = over.map { d =>
      // path is .../<c1>=<v1>/<c2>=<v2>; take the last partCols segments
      val segs = d.toUri.getPath.split('/').takeRight(partCols.size)
      segs.map(s => unescapePathName(s.split("=", 2)(1))).toSeq
    }
    // values compare as strings against the layout's own partition
    // schema (evaluated on partition values at the listing — still
    // pruning); same depth discipline as touchedPred. Null partition
    // values (__HIVE_DEFAULT_PARTITION__) never match a cast-to-string
    // predicate — none of the layouts here produce them (all keys are
    // derived hashes/codes)
    val layout = spark.read.parquet(path)
    val pred =
      if (partCols.size == 1)
        col(partCols.head).cast("string")
          .isin(affected.map(_.head): _*)
      else affected.groupBy(_.head).toSeq.sortBy(_._1.toString)
        .map { case (h, keys) =>
          col(partCols.head).cast("string") === lit(h) &&
            col(partCols(1)).cast("string").isin(keys.map(_(1)): _*)
        }.reduce(_ || _)
    val rows = layout.filter(pred).localCheckpoint(true)
    rows.repartition(partCols.map(col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
    over.size
  }

  /** Move-merge N shard layout roots into `dest` by FILE RENAMES at
    * `depth` partition-dir levels — zero bytes read or rewritten, pure
    * filesystem metadata ops (the only merge that works when the
    * shards total 100 TB). This is the physical half of every
    * shard-parallel build: when a layout's partition key is a pure
    * per-row function (IVF cell under shared centroids, sign-LSH
    * (table, code), band buckets), N independently-built shard layouts
    * partition the row space and their union IS the full build — so
    * "merge" is moving each shard's part files into the matching dest
    * dir. Semantic guards (matching quantizers / parameters across
    * shards) are the CALLER's, per layout family. Shard roots are
    * consumed. Returns the number of files moved this call.
    *
    * Crash contract (a merge over thousands of files WILL be
    * interrupted sometimes): files move into a `dest__mvtmp` staging
    * dir, and the tmp → dest rename is the single commit point. Every
    * per-file rename is atomic, so at any crash each file lives in
    * exactly one of {its shard dir, tmp} — re-running the SAME call
    * walks the shards again, moves only what remains, and commits.
    * After a committed merge a replay is a no-op (dest present, no
    * shard roots, no tmp → return 0); dest is otherwise replaced. */
  def moveMerge(spark: SparkSession, shardRoots: Seq[String],
      dest: String, depth: Int): Int = {
    import org.apache.hadoop.fs.Path
    require(shardRoots.nonEmpty, "moveMerge needs >= 1 shard")
    val fs = new Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest + "__mvtmp")
    // committed-replay no-op: a prior call finished (shards consumed,
    // staging gone) and the merged layout is already at dest
    if (fs.exists(new Path(dest)) && !fs.exists(tmp) &&
        shardRoots.forall(r => !fs.exists(new Path(r)))) return 0
    if (!fs.exists(tmp)) fs.mkdirs(tmp) // resume keeps a crashed tmp
    var moved = 0
    shardRoots.zipWithIndex.foreach { case (root, i) =>
      def walk(p: Path, rel: Seq[String], d: Int): Unit =
        if (d == 0) {
          val destDir = rel.foldLeft(tmp)(new Path(_, _))
          if (rel.nonEmpty && !fs.exists(destDir)) fs.mkdirs(destDir)
          fs.listStatus(p)
            .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
            .foreach { f =>
              // shard-index prefix keeps colliding task-file names apart
              fs.rename(f.getPath,
                new Path(destDir, s"s$i-${f.getPath.getName}"))
              moved += 1
            }
        } else fs.listStatus(p)
          .filter(s => s.isDirectory && s.getPath.getName.contains("="))
          .foreach(s => walk(s.getPath, rel :+ s.getPath.getName, d - 1))
      // a resumed call may find this shard already fully drained
      if (fs.exists(new Path(root))) {
        walk(new Path(root), Nil, depth)
        fs.delete(new Path(root), true)
      }
    }
    // commit: the staged tree becomes the layout in one rename
    fs.delete(new Path(dest), true)
    fs.rename(tmp, new Path(dest))
    moved
  }

  /** Insert-only fast path of [[mergeOverwrite]]: when none of the new
    * rows' keys already live in the layout (a fresh ingest batch — the
    * caller must have established this), the anti-join is a no-op and
    * no touched dir can empty, so both the changed-key join and the
    * post-write emptied-dir collect are skipped. `current` must still
    * be the touched dirs' rows (dynamic overwrite replaces whole
    * dirs). */
  def insertOverwrite(path: String, partCols: Seq[String],
      current: DataFrame, newRows: DataFrame): Unit = {
    val merged = current
      .unionByName(newRows.select(current.columns.map(col): _*))
      .localCheckpoint(true) // materialize before overwriting the source
    merged.repartition(partCols.map(col): _*) // one writer per dir
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
  }

  def mergeOverwrite(spark: SparkSession, path: String,
      partCols: Seq[String], affected: Seq[Seq[Any]],
      current: DataFrame, joinKeys: Seq[String], changedKeys: DataFrame,
      newRows: DataFrame): Unit = {
    if (affected.isEmpty) return
    val merged = current.join(changedKeys, joinKeys, "left_anti")
      .unionByName(newRows.select(current.columns.map(col): _*))
      .localCheckpoint(true) // materialize before overwriting the source
    merged.repartition(partCols.map(col): _*) // one writer per dir
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
    val left: Set[List[String]] = merged.select(partCols.map(col): _*)
      .distinct()
      .collect()
      .map(r => partCols.indices.map(i => r.get(i).toString).toList)
      .toSet
    val emptied = affected.map(_.map(_.toString).toList).filterNot(left)
    if (emptied.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { key =>
        val dir = partCols.zip(key)
          .map { case (c, v) => s"$c=$v" }.mkString("/")
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$dir"), true)
      }
    }
  }
}
