package graft

import graft.functions.Metric
import graft.search.Ann
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PersistedIvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
  private lazy val corpus = emb.filter($"vec_id" >= 10)
  private lazy val queries = emb.filter($"vec_id" < 3)

  test("persisted IVF probe prunes partitions at the scan") {
    val path = Files.createTempDirectory("graft_pivf").toString + "/idx"
    val built = Ann.buildIvfDeterministic(corpus, "embedding", "vec_id", 8)
    Ann.persistIvf(built, path)
    // cell dirs exist on disk
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("__cell=")).map(_.getName).toSet
    assert(dirs.size === 8)

    val out = Ann.queryPersistedIvf(spark, Ann.PersistedIvf(path), queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 3, nProbe = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cell"),
      s"probe must prune by partition:\n${plan.take(2000)}")
    val rows = out.collect()
    assert(rows.length === queries.count() * 3)

    // matches the in-memory IVF at the same probe setting
    val mem = Ann.queryIvf(built, queries, "vec_id", "embedding",
      "vec_id", "embedding", k = 3, nProbe = 2, Metric.Cosine)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val disk = out.select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(disk === mem)
  }

  test("syncPersistedIvf: delta merge == rebuild, untouched cells not rewritten") {
    import graft.index.ChangeLog
    val path = Files.createTempDirectory("graft_pivf_sync").toString + "/idx"
    val initial = corpus.filter($"vec_id" >= 20) // rows 10..19 arrive later
    val built = Ann.buildIvfDeterministic(initial, "embedding", "vec_id", 8)
    Ann.persistIvf(built, path)

    // change batch: insert 10..14, update 25's vector to 13's (may move
    // cells), delete 30; null-vector upsert on 31 leaves the index
    val v13 = emb.filter($"vec_id" === 13).select("embedding")
      .head().getSeq[Float](0)
    val inserts = emb.filter($"vec_id" >= 10 && $"vec_id" < 15)
      .withColumn("__op", lit(ChangeLog.OpInsert))
      .withColumn("__seq", lit(1L))
    val update = emb.filter($"vec_id" === 25)
      .withColumn("embedding", typedlit(v13))
      .withColumn("__op", lit(ChangeLog.OpUpdate))
      .withColumn("__seq", lit(2L))
    val dels = emb.filter($"vec_id" === 30)
      .withColumn("__op", lit(ChangeLog.OpDelete))
      .withColumn("__seq", lit(3L))
      .unionByName(emb.filter($"vec_id" === 31)
        .withColumn("embedding", typedlit(null.asInstanceOf[Seq[Float]]))
        .withColumn("__op", lit(ChangeLog.OpUpdate))
        .withColumn("__seq", lit(4L)))
    val changes = inserts.unionByName(update).unionByName(dels)

    // snapshot per-cell file listings before the sync
    def cellFiles(): Map[String, Set[String]] =
      new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("__cell=")).map { d =>
          d.getName -> d.listFiles().map(f =>
            f.getName + ":" + f.lastModified()).toSet
        }.toMap
    val before = cellFiles()

    Ann.syncPersistedIvf(spark, Ann.PersistedIvf(path), changes,
      "vec_id", "embedding")

    // equivalence: synced layout == rebuild over source + applied batch,
    // with the SAME frozen centroids (assignment is centroid-pure)
    val appliedSource = ChangeLog.applyBatch(initial, changes, "vec_id")
      .filter($"embedding".isNotNull)
    val expected = appliedSource.crossJoin(broadcast(built.centroids))
      .withColumn("__cdist", graft.functions.VectorFunctions.l2(
        $"embedding", $"__centroid"))
      .groupBy($"vec_id")
      .agg(min_by($"__cell", struct($"__cdist", $"__cell")).as("__cell"))
      .select($"vec_id", $"__cell".cast("int").as("__cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = spark.read.parquet(path).select("vec_id", "__cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === expected)
    assert(!got.exists(_._1 == 30L) && !got.exists(_._1 == 31L),
      "delete and null-vector upsert leave the index")
    assert(got.exists(_._1 == 10L) && got.exists(_._1 == 25L))

    // cells whose contents didn't change keep their exact files
    val after = cellFiles()
    val touched = before.keySet.filter(k => before(k) != after.getOrElse(k, Set()))
    val untouched = before.keySet -- touched
    assert(untouched.nonEmpty, "sync must leave some cells untouched")
    untouched.foreach(k => assert(before(k) === after(k)))
  }

  test("filtered ANN: predicate pushed beneath the probe, only matches rank") {
    val path = Files.createTempDirectory("graft_pivf_fil").toString + "/idx"
    val built = Ann.buildIvfDeterministic(corpus, "embedding", "vec_id", 8)
    Ann.persistIvf(built, path)
    spark.sharedState.cacheManager.clearCache()
    val out = Ann.queryPersistedIvf(spark, Ann.PersistedIvf(path), queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 3, nProbe = 3,
      rowFilter = Some(col("label") === 1))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cell"),
      s"cell pruning must survive the filter:\n${plan.take(2000)}")
    assert(plan.contains("PushedFilters: [") && plan.contains("label"),
      s"label predicate must reach the parquet scan:\n${plan.take(2000)}")
    val rows = out.join(emb.select($"vec_id", $"label"), "vec_id")
      .select("label").as[Int].collect()
    assert(rows.nonEmpty && rows.forall(_ === 1),
      "every ranked row must match the filter")

    // the same contract on the IVF-PQ leg: predicate on the codes scan,
    // refine inherits through the pk join
    import graft.search.Pq
    val cb = Pq.fit(corpus, "embedding", "vec_id", m = 16, k = 16)
    val pqPath = Files.createTempDirectory("graft_pivfpq_fil")
      .toString + "/idx"
    val pqIdx = Pq.persistIvfPq(built, cb, "embedding", pqPath)
    val pqOut = Pq.queryPersistedIvfPq(spark, pqIdx, queries, "vec_id",
      "embedding", "vec_id", "embedding", k = 3, c = 4, nProbe = 3,
      rowFilter = Some(col("label") === 1))
    val pqRows = pqOut.join(emb.select($"vec_id", $"label"), "vec_id")
      .select("label").as[Int].collect()
    assert(pqRows.nonEmpty && pqRows.forall(_ === 1),
      "every IVF-PQ ranked row must match the filter")
  }

  test("persisted IVF-PQ: codes-only coarse scan, disk == mem, " +
      "delete+reinsert round-trips") {
    import graft.index.ChangeLog
    import graft.search.Pq
    val path = Files.createTempDirectory("graft_pivfpq_t").toString + "/idx"
    val built = Ann.buildIvfDeterministic(corpus, "embedding", "vec_id", 8)
    val cb = Pq.fit(corpus, "embedding", "vec_id", m = 16, k = 16)
    val idx = Pq.persistIvfPq(built, cb, "embedding", path)

    // codebooks round-trip through the side file
    val loaded = Pq.loadCodebooks(spark, path)
    assert(loaded.m === cb.m && loaded.dsub === cb.dsub &&
      loaded.k === cb.k)
    assert(loaded.cb.flatten.flatten.toSeq === cb.cb.flatten.flatten.toSeq)

    spark.sharedState.cacheManager.clearCache()
    val out = Pq.queryPersistedIvfPq(spark, idx, queries, "vec_id",
      "embedding", "vec_id", "embedding", k = 3, c = 4, nProbe = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cell"),
      s"probe must prune by partition:\n${plan.take(2000)}")
    // the coarse ADC scan reads the code column, never the vectors —
    // the 32x columnar win, on disk
    val codeScans = plan.linesIterator
      .filter(l => l.contains("__codes") && l.contains("ReadSchema"))
      .mkString("\n")
    assert(codeScans.nonEmpty && !codeScans.contains("embedding"),
      s"coarse scan must not touch the vector column:\n$codeScans")

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val mem = key(Pq.rerankOverIvf(built, queries, "vec_id", "embedding",
      "vec_id", "embedding", k = 3, c = 4, cb, nProbe = 2))
    assert(key(out) === mem && mem.nonEmpty)

    // delete-only sync physically removes the rows from the cell dirs…
    val snapshot = spark.read.parquet(path)
      .select($"vec_id", $"__cell", $"__codes")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Int](2))).toSet
    val victims = corpus.filter($"vec_id" >= 20 && $"vec_id" < 25)
    Pq.syncPersistedIvfPq(spark, idx,
      victims.withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(1L)),
      "vec_id", "embedding")
    val afterDel = spark.read.parquet(path).select("vec_id")
      .as[Long].collect().toSet
    assert((20L until 25L).forall(v => !afterDel.contains(v)),
      "deleted pks must leave the layout")
    // …and re-inserting them from source restores the exact build:
    // same cells (frozen centroids), same codes (frozen codebooks)
    Pq.syncPersistedIvfPq(spark, idx,
      victims.withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(2L)),
      "vec_id", "embedding")
    val restored = spark.read.parquet(path)
      .select($"vec_id", $"__cell", $"__codes")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Int](2))).toSet
    assert(restored === snapshot,
      "delete + re-insert must round-trip to the original layout")
  }

  test("persisted RESIDUAL IVF-PQ: the layout self-describes via the " +
      "codebook marker, disk == mem, delete+reinsert round-trips " +
      "through the residual sync path") {
    import graft.index.ChangeLog
    import graft.search.Pq
    val path = Files.createTempDirectory("graft_pivfpq_r").toString + "/idx"
    val built = Ann.buildIvfDeterministic(corpus, "embedding", "vec_id", 8)
    val cb = Pq.fitResidual(built, "embedding", "vec_id", m = 16, k = 16)
    val idx = Pq.persistIvfPqResidual(built, cb, "embedding", path)
    assert(Pq.isResidualLayout(spark, path), "marker must persist")
    // loadCodebooks ignores the marker column
    val loaded = Pq.loadCodebooks(spark, path)
    assert(loaded.cb.flatten.flatten.toSeq === cb.cb.flatten.flatten.toSeq)
    // the self-describing query path matches the in-memory residual leg
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val out = key(Pq.queryPersistedIvfPq(spark, idx, queries, "vec_id",
      "embedding", "vec_id", "embedding", k = 3, c = 4, nProbe = 2))
    val mem = key(Pq.rerankOverIvfResidual(built, queries, "vec_id",
      "embedding", "vec_id", "embedding", k = 3, c = 4, cb, nProbe = 2))
    assert(out === mem && mem.nonEmpty)
    // delete + re-insert restores the exact layout: cells from the
    // frozen centroids, codes re-encoded as residuals against them
    val snapshot = spark.read.parquet(path)
      .select($"vec_id", $"__cell", $"__codes")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Int](2))).toSet
    val victims = corpus.filter($"vec_id" >= 20 && $"vec_id" < 25)
    Pq.syncPersistedIvfPq(spark, idx,
      victims.withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(1L)),
      "vec_id", "embedding")
    assert(!spark.read.parquet(path).select("vec_id").as[Long]
      .collect().toSet.exists(v => v >= 20 && v < 25))
    Pq.syncPersistedIvfPq(spark, idx,
      victims.withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(2L)),
      "vec_id", "embedding")
    val restored = spark.read.parquet(path)
      .select($"vec_id", $"__cell", $"__codes")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Int](2))).toSet
    assert(restored === snapshot,
      "residual delete + re-insert must round-trip to the original")
    // a raw and a residual shard refuse to merge (the marker rides
    // the codebook-equality guard)
    val rawPath = Files.createTempDirectory("graft_pivfpq_rm")
      .toString + "/idx"
    Pq.persistIvfPq(built,
      Pq.fit(corpus, "embedding", "vec_id", m = 16, k = 16),
      "embedding", rawPath)
    val ex = intercept[IllegalArgumentException] {
      Pq.mergeIvfPqShards(spark, Seq(path, rawPath),
        Files.createTempDirectory("graft_pivfpq_rd").toString + "/m")
    }
    assert(ex.getMessage.contains("different codebooks"))
  }

  test("syncPersistedIvf is idempotent under batch replay") {
    import graft.index.ChangeLog
    val path = Files.createTempDirectory("graft_pivf_replay").toString +
      "/idx"
    val initial = corpus.filter($"vec_id" >= 20)
    Ann.persistIvf(
      Ann.buildIvfDeterministic(initial, "embedding", "vec_id", 8), path)
    val batch = emb.filter($"vec_id" >= 10 && $"vec_id" < 15)
      .withColumn("__op", lit(ChangeLog.OpInsert))
      .withColumn("__seq", lit(1L))
      .unionByName(emb.filter($"vec_id" === 30)
        .withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(2L)))
    def snapshot() = spark.read.parquet(path)
      .select($"vec_id", $"__cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    Ann.syncPersistedIvf(spark, Ann.PersistedIvf(path), batch,
      "vec_id", "embedding")
    val once = snapshot()
    // the at-least-once crash-replay case: the SAME batch re-applied
    // must converge to the same layout (anti-join by pk, then re-add)
    Ann.syncPersistedIvf(spark, Ann.PersistedIvf(path), batch,
      "vec_id", "embedding")
    assert(snapshot() === once && once.nonEmpty,
      "replaying a batch must be a no-op")
  }

  test("layoutSync streams the journal into the persisted layout " +
      "in bounded micro-batches, exactly once") {
    import graft.index.ChangeLog
    import graft.streaming.IndexSync
    val base = Files.createTempDirectory("graft_pivf_stream").toString
    val initial = corpus.filter($"vec_id" >= 20)
    val built = Ann.buildIvfDeterministic(initial, "embedding",
      "vec_id", 8)
    Ann.persistIvf(built, s"$base/idx")
    val inserts = emb.filter($"vec_id" >= 10 && $"vec_id" < 15)
      .withColumn("__op", lit(ChangeLog.OpInsert))
      .withColumn("__seq", lit(1L))
    val dels = emb.filter($"vec_id" === 30)
      .withColumn("__op", lit(ChangeLog.OpDelete))
      .withColumn("__seq", lit(2L))
    inserts.coalesce(1).write.mode("append").parquet(s"$base/journal")
    dels.coalesce(1).write.mode("append").parquet(s"$base/journal")
    var batches = 0
    IndexSync.layoutSyncOnce(spark, s"$base/journal", inserts.schema,
      s"$base/ckpt", Map("maxFilesPerTrigger" -> "1")) { b =>
      batches += 1
      Ann.syncPersistedIvf(spark, Ann.PersistedIvf(s"$base/idx"), b,
        "vec_id", "embedding")
    }
    assert(batches === 2,
      "admission control must split the journal into per-file batches")
    val ids = spark.read.parquet(s"$base/idx").select("vec_id")
      .as[Long].collect().toSet
    assert((10L until 15L).forall(ids.contains), "streamed inserts land")
    assert(!ids.contains(30L), "streamed delete leaves the layout")
    // same checkpoint, no new journal files: a re-drain delivers nothing
    var redelivered = 0
    IndexSync.layoutSyncOnce(spark, s"$base/journal", inserts.schema,
      s"$base/ckpt", Map("maxFilesPerTrigger" -> "1")) { _ =>
      redelivered += 1
    }
    assert(redelivered === 0, "re-drain must be a no-op (exactly-once)")
  }

  test("syncPersistedIvf on a balanced (sub-celled) layout == rebuild") {
    import graft.index.ChangeLog
    val path = Files.createTempDirectory("graft_pivf_bal").toString + "/idx"
    val initial = corpus.filter($"vec_id" >= 20)
    val built = Ann.buildIvfDeterministic(initial, "embedding", "vec_id", 8)
    // maxSkew = 1.0: every above-mean cell splits — guarantees sub-cells
    val balanced = Ann.balanceCells(built, "vec_id", maxSkew = 1.0)
    assert(balanced.splits.exists(_._2 > 1), "need at least one split cell")
    Ann.persistIvf(balanced, path)
    val subDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("__cell=")).flatMap(_.listFiles())
      .filter(_.getName.startsWith("__subcell="))
    assert(subDirs.nonEmpty, "balanced layout persists sub-cell dirs")

    val inserts = emb.filter($"vec_id" >= 10 && $"vec_id" < 15)
      .withColumn("__op", lit(ChangeLog.OpInsert))
      .withColumn("__seq", lit(1L))
    val dels = emb.filter($"vec_id" === 30)
      .withColumn("__op", lit(ChangeLog.OpDelete))
      .withColumn("__seq", lit(2L))
    val changes = inserts.unionByName(dels)

    def dirFiles(): Map[String, Set[String]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path))
        .filter(_.getName.endsWith(".parquet"))
        .groupBy(_.getParentFile.getPath.stripPrefix(path))
        .map { case (d, fs) =>
          d -> fs.map(f => f.getName + ":" + f.lastModified()).toSet }
    }
    val before = dirFiles()
    Ann.syncPersistedIvf(spark, Ann.PersistedIvf(path), changes,
      "vec_id", "embedding")

    // (pk, cell, subcell) set == a rebuild over source + applied batch
    // with the same frozen centroids and the same persisted split map
    val appliedSource = ChangeLog.applyBatch(initial, changes, "vec_id")
      .filter($"embedding".isNotNull)
    val splits = balanced.splits
    val expected = appliedSource.crossJoin(broadcast(built.centroids))
      .withColumn("__cdist", graft.functions.VectorFunctions.l2(
        $"embedding", $"__centroid"))
      .groupBy($"vec_id")
      .agg(min_by($"__cell", struct($"__cdist", $"__cell")).as("__cell"))
      .withColumn("__subcell",
        pmod(xxhash64($"vec_id"),
          element_at(typedlit(splits), $"__cell").cast("long")).cast("int"))
      .select($"vec_id", $"__cell".cast("int"), $"__subcell")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val got = spark.read.parquet(path)
      .select("vec_id", "__cell", "__subcell")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got === expected)
    assert(!got.exists(_._1 == 30L), "delete leaves the index")

    // untouched (cell, subcell) dirs keep their exact files
    val after = dirFiles()
    val untouched = before.keySet
      .filter(k => after.getOrElse(k, Set()) == before(k))
    assert(untouched.nonEmpty, "sync must leave some sub-cell dirs alone")

    // a probe of the sub-celled layout still prunes at the cell level:
    // the __cell filter alone must reach PartitionFilters (sub-dirs of
    // unprobed cells are never listed)
    spark.sharedState.cacheManager.clearCache()
    val out = Ann.queryPersistedIvf(spark, Ann.PersistedIvf(path), queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 3, nProbe = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cell"),
      s"balanced probe must prune by cell partition:\n${plan.take(2000)}")
    assert(out.count() === queries.count() * 3)
  }

  test("mergeIvfShards: shard builds + file-move merge == full build") {
    val root = Files.createTempDirectory("graft_pivf_merge").toString
    val cents = Ann.buildIvfDeterministic(corpus, "embedding", "vec_id", 8)
      .centroids
    // full build persisted for the equality baseline
    Ann.persistIvf(Ann.buildIvfShard(corpus, "embedding", "vec_id", cents),
      s"$root/full")
    // three pk-parity shards, each assigned against the SHARED centroids
    val shardPaths = (0 to 2).map { p =>
      val sp = s"$root/shard$p"
      Ann.persistIvf(Ann.buildIvfShard(
        corpus.filter(pmod($"vec_id", lit(3)) === p),
        "embedding", "vec_id", cents), sp)
      sp
    }
    def partFiles(dir: String): Seq[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .filter(f => f.getName.contains("part-") &&
          f.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length())
    }
    val shardSizes = shardPaths.flatMap(partFiles).map(_._2).sorted
    val moved = Ann.mergeIvfShards(spark, shardPaths, s"$root/merged")
    assert(moved === shardSizes.size)
    // pure file moves: every shard data file survives byte-for-byte
    // (size multiset equality — nothing was rewritten) and the shard
    // roots are consumed
    assert(partFiles(s"$root/merged").map(_._2).sorted === shardSizes)
    assert(shardPaths.forall(p => !new java.io.File(p).exists()))
    // merged layout holds exactly the full build's (pk, cell) rows
    def rows(p: String) = spark.read.parquet(p)
      .select("vec_id", "__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows(s"$root/merged") === rows(s"$root/full"))
    // and answers queries identically
    def ans(p: String) = Ann.queryPersistedIvf(spark, Ann.PersistedIvf(p),
      queries, "vec_id", "embedding", "vec_id", "embedding",
      k = 3, nProbe = 2)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ans(s"$root/merged") === ans(s"$root/full"))
  }

  test("mergeIvfPqShards: shared-quantizer shard encodes merge into a " +
      "full build; mismatched codebooks are rejected") {
    import graft.search.Pq
    val root = Files.createTempDirectory("graft_pivfpq_merge").toString
    val cents = Ann.buildIvfDeterministic(corpus, "embedding", "vec_id", 8)
      .centroids
    val cb = Pq.fit(corpus, "embedding", "vec_id", m = 16, k = 16)
    Pq.persistIvfPq(Ann.buildIvfShard(corpus, "embedding", "vec_id", cents),
      cb, "embedding", s"$root/full")
    val shardPaths = (0 to 1).map { p =>
      val sp = s"$root/shard$p"
      Pq.persistIvfPq(Ann.buildIvfShard(
        corpus.filter($"vec_id" % 2 === p), "embedding", "vec_id", cents),
        cb, "embedding", sp)
      sp
    }
    val merged = Pq.mergeIvfPqShards(spark, shardPaths, s"$root/merged")
    def ans(idx: Pq.PersistedIvfPq) =
      Pq.queryPersistedIvfPq(spark, idx, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 3, c = 4, nProbe = 2)
        .select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ans(merged) === ans(Pq.PersistedIvfPq(s"$root/full")))
    // codebook side file survives the merge (self-contained layout)
    assert(Pq.loadCodebooks(spark, s"$root/merged").m === 16)
    // a shard encoded with different codebooks is rejected
    val cb2 = Pq.fit(corpus, "embedding", "vec_id", m = 16, k = 8)
    Pq.persistIvfPq(Ann.buildIvfShard(
      corpus.filter($"vec_id" % 2 === 0), "embedding", "vec_id", cents),
      cb2, "embedding", s"$root/bad")
    val e = intercept[IllegalArgumentException] {
      Pq.mergeIvfPqShards(spark,
        Seq(s"$root/bad", s"$root/merged"), s"$root/m2")
    }
    assert(e.getMessage.contains("different codebooks"))
  }

  test("mergeIvfShards guards: mismatched centroids and split shards") {
    val root = Files.createTempDirectory("graft_pivf_mguard").toString
    val cents8 = Ann.buildIvfDeterministic(corpus, "embedding", "vec_id", 8)
      .centroids
    val cents4 = Ann.buildIvfDeterministic(corpus, "embedding", "vec_id", 4)
      .centroids
    Ann.persistIvf(Ann.buildIvfShard(corpus.filter($"vec_id" % 2 === 0),
      "embedding", "vec_id", cents8), s"$root/a")
    Ann.persistIvf(Ann.buildIvfShard(corpus.filter($"vec_id" % 2 === 1),
      "embedding", "vec_id", cents4), s"$root/b")
    val e = intercept[IllegalArgumentException] {
      Ann.mergeIvfShards(spark, Seq(s"$root/a", s"$root/b"), s"$root/m")
    }
    assert(e.getMessage.contains("different centroids"))
    val split = Ann.balanceCells(
      Ann.buildIvfShard(corpus.filter($"vec_id" % 2 === 1),
        "embedding", "vec_id", cents8), "vec_id", maxSkew = 1.0)
    Ann.persistIvf(split, s"$root/c")
    val e2 = intercept[IllegalArgumentException] {
      Ann.mergeIvfShards(spark, Seq(s"$root/a", s"$root/c"), s"$root/m")
    }
    assert(e2.getMessage.contains("split"))
  }
}
