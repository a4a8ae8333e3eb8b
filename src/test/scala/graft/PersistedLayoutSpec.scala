package graft

import graft.functions.{Metric, SignLshFunctions}
import graft.search.{Ann, GraphAnn}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Persisted, partition-pruned on-disk forms for the graph-ANN edge
  * table and the native sign-LSH index — the layouts that let a hop /
  * probe read only its own buckets of a 100 TB index. Mirrors
  * PersistedIvfSpec for the other two ANN legs. */
class PersistedLayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
  private lazy val corpus = emb.filter($"vec_id" >= 10)
  private lazy val queries = emb.filter($"vec_id" < 3)

  /** Files actually opened by the (executed) scan of `pathFrag` —
    * `inputFiles` lists the relation pre-pruning, the scan's numFiles
    * metric counts what partition pruning left. */
  private def filesRead(df: org.apache.spark.sql.DataFrame,
      pathFrag: String): Long = {
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString
        .contains(pathFrag)))
      .map(_.metrics("numFiles").value).sum
  }

  test("persisted graph: pruned edge scan opens only frontier buckets") {
    val path = Files.createTempDirectory("graft_pgraph").toString + "/g"
    val g = GraphAnn.buildGraphExact(corpus, "embedding", "vec_id", m = 6)
    val pg = GraphAnn.persistGraph(g, path, buckets = 16)
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("__srcbucket=")).map(_.getName).toSet
    assert(dirs.size === 16)

    spark.sharedState.cacheManager.clearCache()
    val pruned = GraphAnn.prunedEdges(spark, pg, Seq(10L, 11L, 26L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__srcbucket"),
      s"edge scan must prune by partition:\n${plan.take(2000)}")
    // ids 10,11,26 mod 16 -> buckets {10, 11}: 2 of 16 bucket dirs read
    val total = spark.read.parquet(path).inputFiles.length
    val read = filesRead(pruned, "graft_pgraph")
    assert(read > 0 && read <= total * 2 / 16,
      s"pruned scan read $read of $total files")
    assert(pruned.select("__src").distinct().as[Long].collect().toSet
      === Set(10L, 11L, 26L))
  }

  test("persisted graph search == in-memory graph search") {
    val path = Files.createTempDirectory("graft_pgraph2").toString + "/g"
    val g = GraphAnn.buildGraphExact(corpus, "embedding", "vec_id", m = 6)
    val pg = GraphAnn.persistGraph(g, path, buckets = 16)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val mem = key(GraphAnn.queryGraph(g, corpus, queries, "vec_id",
      "embedding", "vec_id", "embedding", k = 3, entries = 4, beam = 4,
      hops = 3, Metric.L2, entryMod = 5L))
    val disk = key(GraphAnn.queryPersistedGraph(spark, pg, corpus, queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 3, entries = 4,
      beam = 4, hops = 3, Metric.L2, entryMod = 5L))
    assert(disk === mem && disk.nonEmpty)
  }

  test("persisted layered search == in-memory layered search") {
    val path = Files.createTempDirectory("graft_pglay").toString + "/g"
    val g = GraphAnn.buildGraphExact(corpus, "embedding", "vec_id", m = 6)
    val entry = GraphAnn.buildEntryGraphExact(corpus, "embedding",
      "vec_id", entryMod = 5L, m1 = 4)
    val pg = GraphAnn.persistGraph(g, path, buckets = 8)
    val epg = GraphAnn.persistGraph(entry, path + "_entry", buckets = 4)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val mem = key(GraphAnn.queryGraphLayered(g, entry, corpus, queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 3, entries = 4,
      beam = 4, hops = 3, entryMod = 5L, Metric.L2))
    val disk = key(GraphAnn.queryPersistedGraphLayered(spark, pg, epg,
      corpus, queries, "vec_id", "embedding", "vec_id", "embedding",
      k = 3, entries = 4, beam = 4, hops = 3, entryMod = 5L, Metric.L2))
    assert(disk === mem && disk.nonEmpty)
  }

  test("layered sync: a layer-1 delete tombstones both layers") {
    import graft.index.ChangeLog
    val path = Files.createTempDirectory("graft_pglay_sync").toString + "/g"
    val initial = emb.filter($"vec_id" >= 10 && $"vec_id" < 300)
    val pg = GraphAnn.persistGraph(
      GraphAnn.buildGraphExact(initial, "embedding", "vec_id", 6),
      path, buckets = 8)
    val epg = GraphAnn.persistGraph(
      GraphAnn.buildEntryGraphExact(initial, "embedding", "vec_id",
        entryMod = 5L, m1 = 4),
      path + "_entry", buckets = 4)
    val victim = 20L // layer-1 member: 20 % 5 == 0
    val changes = emb.filter($"vec_id" >= 3 && $"vec_id" < 10)
      .withColumn("__op", lit(ChangeLog.OpInsert))
      .withColumn("__seq", lit(1L))
      .unionByName(initial.filter($"vec_id" === victim)
        .withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(2L)))
    GraphAnn.syncPersistedGraphLayered(spark, pg, epg, initial, changes,
      "vec_id", "embedding", entryMod = 5L)
    assert(GraphAnn.loadTombstones(spark, epg).get
      .as[Long].collect().toSet === Set(victim),
      "the layer-1 slice of the batch must tombstone the entry layout")
    assert(GraphAnn.loadTombstones(spark, pg).get
      .as[Long].collect().toSet === Set(victim))
    val live = initial.filter($"vec_id" =!= victim)
      .unionByName(emb.filter($"vec_id" >= 3 && $"vec_id" < 10))
    val out = GraphAnn.queryPersistedGraphLayered(spark, pg, epg, live,
        queries, "vec_id", "embedding", "vec_id", "embedding", k = 3,
        entries = 4, beam = 4, hops = 3, entryMod = 5L, Metric.L2)
      .select("vec_id").as[Long].collect().toSet
    assert(out.nonEmpty && !out.contains(victim))
    // an inserted layer-1 node (5 % 5 == 0) is reachable through the
    // synced hierarchy: a query at its own vector returns it
    val q = emb.filter($"vec_id" === 5L)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val hit = GraphAnn.queryPersistedGraphLayered(spark, pg, epg, live, q,
        "qid", "qv", "vec_id", "embedding", k = 1, entries = 4, beam = 4,
        hops = 3, entryMod = 5L, Metric.L2)
      .head()
    assert(hit.getLong(2) === 5L,
      s"inserted layer-1 node must be findable, got $hit")
  }

  test("persisted SQ8: coarse scan reads codes only, disk == mem") {
    import graft.search.Sq8
    val path = Files.createTempDirectory("graft_psq8").toString + "/idx"
    val stats = Sq8.fit(corpus, "embedding")
    val idx = Sq8.persist(corpus, "embedding", "vec_id", path, stats)

    spark.sharedState.cacheManager.clearCache()
    val out = Sq8.rerankPersisted(spark, idx, queries, "embedding",
      "vec_id", "vec_id", "embedding", k = 3, c = 4)
    // the coarse stage's scan of the codes file must not read vectors —
    // assert via the scan's ReadSchema (the 4x-cheaper scan, on disk)
    val codesScans = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("_codes")).mkString("\n")
    assert(codesScans.nonEmpty && !codesScans.contains("embedding"),
      s"codes scan must not touch the vector column:\n$codesScans")

    val mem = Sq8.rerank(corpus, queries, "embedding", "vec_id",
      "embedding", "vec_id", k = 3, c = 4, stats)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val disk = out.select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(disk === mem && disk.nonEmpty)
  }

  test("persisted sign-LSH probe prunes to the queries' buckets") {
    val path = Files.createTempDirectory("graft_pslsh").toString + "/idx"
    val built = Ann.buildSignLsh(corpus, "embedding", tables = 4, bits = 3)
    val idx = Ann.persistSignLsh(built, "vec_id", "embedding", path)
    // table dirs exist; each holds code subdirs
    val tdirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("__t=")).map(_.getName).toSet
    assert(tdirs.size === 4)

    spark.sharedState.cacheManager.clearCache()
    val out = Ann.queryPersistedSignLsh(spark, idx, queries, "vec_id",
      "embedding", "vec_id", "embedding", k = 3, Metric.Cosine)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__code"),
      s"probe must prune by partition:\n${plan.take(2000)}")
    // only the queries' own (t, code) buckets are ever opened: the
    // pruned scan reads at most queries x tables of the tables x 2^bits
    // bucket dirs. Assert on a standalone scan with the same predicate
    // (no exchanges -> the scan's numFiles metric is directly visible).
    val pairs = queries
      .select(posexplode(SignLshFunctions
        .signLshCodes($"embedding", 4, 3)).as(Seq("__t", "__code")))
      .distinct().as[(Int, Long)].collect().toSeq
    val pred = pairs
      .map { case (t, c) => col("__t") === t && col("__code") === c }
      .reduce(_ || _)
    val totalFiles = spark.read.parquet(path).inputFiles.length
    val readFiles = filesRead(spark.read.parquet(path).filter(pred),
      "graft_pslsh")
    assert(readFiles > 0 && readFiles < totalFiles,
      s"probe read $readFiles of $totalFiles files")
    assert(readFiles <= totalFiles * (3 * 4) / (4 * 8),
      s"probe read $readFiles of $totalFiles files — not pruned to buckets")

    // matches the in-memory sign-LSH query exactly
    val mem = Ann.querySignLsh(built, queries, "vec_id", "embedding",
      "vec_id", "embedding", k = 3, Metric.Cosine)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val disk = out.select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(disk === mem && disk.nonEmpty)

    // a metadata rowFilter keeps BOTH pruning layers: the (t, code)
    // partition filter AND the label predicate pushed to the scan —
    // and every hit matches the predicate
    spark.sharedState.cacheManager.clearCache()
    val filtered = Ann.queryPersistedSignLsh(spark, idx, queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 3,
      Metric.Cosine, rowFilter = Some(col("label") === 1))
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(fplan.contains("PartitionFilters") && fplan.contains("__code"),
      s"filtered probe must keep partition pruning:\n${fplan.take(2000)}")
    assert(fplan.contains("PushedFilters") && fplan.contains("label"),
      s"label predicate must push to the pruned scan:\n${fplan.take(2000)}")
    val hits = filtered.select("vec_id").as[Long].collect().toSet
    val labels = corpus.filter($"label" === 1).select("vec_id")
      .as[Long].collect().toSet
    assert(hits.nonEmpty && hits.subsetOf(labels),
      "every filtered hit must match the predicate")
  }

  test("sign-LSH sync: synced layout row-identical to a fresh build " +
      "on the live corpus; delete leaves every table") {
    import graft.index.ChangeLog
    val base = Files.createTempDirectory("graft_pslsh_sync").toString
    val initial = emb.filter($"vec_id" >= 15)
    val idx = Ann.persistSignLsh(
      Ann.buildSignLsh(initial, "embedding", tables = 4, bits = 3),
      "vec_id", "embedding", s"$base/idx")
    val victim = 20L
    val changes = emb.filter($"vec_id" >= 3 && $"vec_id" < 15)
      .withColumn("__op", lit(ChangeLog.OpInsert))
      .withColumn("__seq", lit(1L))
      .unionByName(initial.filter($"vec_id" === victim)
        .withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(2L)))
    Ann.syncPersistedSignLsh(spark, idx, changes, "vec_id", "embedding")
    // codes are a pure per-row function -> synced ≡ rebuild, exactly
    val live = emb.filter($"vec_id" >= 3 && $"vec_id" =!= victim)
    Ann.persistSignLsh(
      Ann.buildSignLsh(live, "embedding", tables = 4, bits = 3),
      "vec_id", "embedding", s"$base/rebuilt")
    def rows(p: String): Set[(Long, Int, Long)] =
      spark.read.parquet(p).select("vec_id", "__t", "__code")
        .as[(Long, Int, Long)].collect().toSet
    val synced = rows(s"$base/idx")
    assert(synced === rows(s"$base/rebuilt") && synced.nonEmpty)
    assert(!synced.exists(_._1 == victim))
    // the _docs side table merged identically (pk set = live set)
    assert(spark.read.parquet(s"$base/idx_docs").select("vec_id")
      .as[Long].collect().toSet ===
      live.select("vec_id").as[Long].collect().toSet)
    // replaying the same batch is a no-op (anti-join-then-add)
    Ann.syncPersistedSignLsh(spark, idx, changes, "vec_id", "embedding")
    assert(rows(s"$base/idx") === synced)
  }

  test("SQ8 sync: frozen-stats encode, synced rerank ≡ rebuild-with-" +
      "frozen-stats, untouched dirs byte-identical") {
    import graft.index.ChangeLog
    import graft.search.Sq8
    val base = Files.createTempDirectory("graft_psq8_sync").toString
    val initial = emb.filter($"vec_id" >= 15)
    val stats = Sq8.fit(initial, "embedding")
    val idx = Sq8.persist(initial, "embedding", "vec_id", s"$base/idx",
      stats)
    // per-file digests before the sync, keyed by bucket dir
    def digests(p: String): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          f.getPath -> md.digest(Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
    }
    val before = digests(s"$base/idx_codes")
    val victim = 20L
    val changes = emb.filter($"vec_id" >= 3 && $"vec_id" < 15)
      .withColumn("__op", lit(ChangeLog.OpInsert))
      .withColumn("__seq", lit(1L))
      .unionByName(initial.filter($"vec_id" === victim)
        .withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(2L)))
    Sq8.syncPersistedSq8(spark, idx, changes, "vec_id", "embedding")
    // untouched pk-hash dirs stay byte-identical
    val touched = changes.select(
        pmod(xxhash64($"vec_id"), lit(32L)).cast("int")).distinct()
      .as[Int].collect().toSet
    val after = digests(s"$base/idx_codes")
    for ((path, d) <- before
         if !touched.exists(b => path.contains(s"__dbkt=$b")))
      assert(after.get(path).contains(d),
        s"untouched file $path must stay byte-identical")
    // synced rerank ≡ rebuild over the live corpus with the SAME
    // frozen stats (stats never re-fit on sync)
    val live = emb.filter($"vec_id" >= 3 && $"vec_id" =!= victim)
    val rebuilt = Sq8.persist(live, "embedding", "vec_id",
      s"$base/rebuilt", stats)
    val queries = emb.filter($"vec_id" < 3)
    def key(i: Sq8.PersistedSq8): Set[(Long, Int, Long)] =
      Sq8.rerankPersisted(spark, i, queries, "embedding", "vec_id",
        "vec_id", "embedding", k = 3, c = 4)
        .select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val synced = key(idx)
    assert(synced === key(rebuilt) && synced.nonEmpty)
    assert(!synced.exists(_._3 == victim))
  }

  test("graph insert: new nodes reachable via reverse edges, append-only") {
    val path = Files.createTempDirectory("graft_pg_sync").toString + "/g"
    val initial = emb.filter($"vec_id" >= 10 && $"vec_id" < 200)
    val batch = emb.filter($"vec_id" >= 3 && $"vec_id" < 10)
    val pg = GraphAnn.persistGraph(
      GraphAnn.buildGraphExact(initial, "embedding", "vec_id", 4),
      path, buckets = 8)
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path))
        .filter(_.getName.endsWith(".parquet")) // _SUCCESS marker churns
        .map(f => f.getPath + ":" + f.lastModified()).toSet
    }
    val before = files()
    GraphAnn.syncPersistedGraph(spark, pg, initial, batch,
      "vec_id", "embedding")
    assert(before.subsetOf(files()),
      "insert appends; pre-existing files never rewritten")
    // edge set = base ∪ (new m-NN ∪ reverse), exactly
    val edges = GraphAnn.loadGraph(spark, pg).edges
      .as[(Long, Long)].collect().toSet
    val newSrcs = edges.filter(e => e._1 >= 3 && e._1 < 10)
    assert(newSrcs.nonEmpty, "new nodes have out-edges")
    val inEdges = edges.filter(e => e._2 >= 3 && e._2 < 10)
    assert(inEdges.nonEmpty, "new nodes have IN-edges (reachability)")
    assert(newSrcs.map(e => (e._2, e._1)).subsetOf(edges),
      "every new out-edge has its reverse")
    // a query AT a new node's vector must reach that node (rank 1)
    val q = batch.limit(1).select($"vec_id".as("qid"),
      $"embedding".as("qv"))
    val qid = q.head().getLong(0)
    val hit = GraphAnn.queryPersistedGraph(spark, pg,
        emb.filter($"vec_id" >= 3 && $"vec_id" < 200), q,
        "qid", "qv", "vec_id", "embedding",
        k = 1, entries = 4, beam = 4, hops = 3, metric = Metric.L2,
        entryMod = 5L)
      .head()
    assert(hit.getLong(2) === qid,
      s"searching a new node's own vector must return it, got $hit")
  }

  test("graph delete: tombstoned node leaves results, edges and seeds") {
    import graft.index.ChangeLog
    val path = Files.createTempDirectory("graft_pg_del").toString + "/g"
    val initial = emb.filter($"vec_id" >= 10 && $"vec_id" < 200)
    val pg = GraphAnn.persistGraph(
      GraphAnn.buildGraphExact(initial, "embedding", "vec_id", 4),
      path, buckets = 8)
    def search() = GraphAnn.queryPersistedGraph(spark, pg, initial,
        queries, "vec_id", "embedding", "vec_id", "embedding",
        k = 3, entries = 4, beam = 4, hops = 3, metric = Metric.L2,
        entryMod = 5L)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // delete each query's CURRENT rank-1 hit — a node guaranteed to be
    // returned if the tombstone were ignored
    val victims = search().filter(_._2 == 1).map(_._3).distinct.toSeq
    val changes = initial.filter($"vec_id".isin(victims: _*))
      .withColumn("__op", lit(ChangeLog.OpDelete))
      .withColumn("__seq", lit(1L))
    GraphAnn.syncPersistedGraphChanges(spark, pg, initial, changes,
      "vec_id", "embedding")
    // note: `initial` passed STALE on purpose — the layout must filter
    val after = search()
    assert(after.nonEmpty &&
      after.map(_._3).toSet.intersect(victims.toSet).isEmpty,
      s"deleted ids $victims still returned: ${after.mkString(",")}")
    val edges = GraphAnn.loadGraph(spark, pg).edges
      .as[(Long, Long)].collect()
    assert(!edges.exists(e =>
        victims.contains(e._1) || victims.contains(e._2)),
      "loadGraph must anti-join tombstoned endpoints")
    // re-insert one victim: tombstone clears, node is findable again
    val back = victims.head
    GraphAnn.syncPersistedGraphChanges(spark, pg, initial,
      initial.filter($"vec_id" === back)
        .withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(2L)),
      "vec_id", "embedding")
    val q = initial.filter($"vec_id" === back)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val hit = GraphAnn.queryPersistedGraph(spark, pg, initial, q,
        "qid", "qv", "vec_id", "embedding", k = 1, entries = 4,
        beam = 4, hops = 3, metric = Metric.L2, entryMod = 5L)
      .head()
    assert(hit.getLong(2) === back,
      s"re-inserted node must be findable again, got $hit")
  }

  test("graph rebuild clears stale tombstones; reprune drops " +
      "fully-dead buckets before dropping tombstones") {
    import graft.index.ChangeLog
    val path = Files.createTempDirectory("graft_pg_reb").toString + "/g"
    val initial = emb.filter($"vec_id" >= 10 && $"vec_id" < 200)
    val pg = GraphAnn.persistGraph(
      GraphAnn.buildGraphExact(initial, "embedding", "vec_id", 4),
      path, buckets = 4)
    // delete a node -> tombstone exists
    GraphAnn.syncPersistedGraphChanges(spark, pg, initial,
      initial.filter($"vec_id" === 20L)
        .withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(1L)),
      "vec_id", "embedding")
    assert(GraphAnn.loadTombstones(spark, pg).isDefined)
    // a full rebuild to the same path must NOT inherit the tombstone —
    // otherwise the re-added node is filtered out of every query forever
    val pg2 = GraphAnn.persistGraph(
      GraphAnn.buildGraphExact(initial, "embedding", "vec_id", 4),
      path, buckets = 4)
    assert(GraphAnn.loadTombstones(spark, pg2).isEmpty,
      "rebuild must clear stale tombstones")

    // now delete EVERY node in one bucket (ids ≡ 1 mod 4): after
    // reprune, that bucket dir must be gone — dynamic overwrite never
    // touches a bucket none of whose edges survive, so without the
    // explicit drop its stale files would outlive the tombstones
    val dead = initial.filter($"vec_id" % 4 === 1)
    GraphAnn.syncPersistedGraphChanges(spark, pg2, initial,
      dead.withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(2L)),
      "vec_id", "embedding")
    GraphAnn.repruneBuckets(spark, pg2,
      initial.join(dead.select("vec_id"), Seq("vec_id"), "left_anti"),
      "vec_id", "embedding")
    assert(GraphAnn.loadTombstones(spark, pg2).isEmpty,
      "reprune compacts tombstones away")
    val b1 = new java.io.File(path, "__srcbucket=1")
    assert(!b1.exists(),
      "a bucket whose every edge died must be dropped, not left stale")
    val deadIds = dead.select("vec_id").as[Long].collect().toSet
    val edges = spark.read.parquet(path).select("__src", "__dst")
      .as[(Long, Long)].collect()
    assert(edges.nonEmpty && !edges.exists(e =>
        deadIds.contains(e._1) || deadIds.contains(e._2)),
      "no surviving edge may touch a deleted node after reprune")
  }

  test("graph reprune: degree bounded, untouched buckets byte-identical") {
    import graft.index.ChangeLog
    val path = Files.createTempDirectory("graft_pg_rp").toString + "/g"
    val initial = emb.filter($"vec_id" >= 30 && $"vec_id" < 200)
    val pg = GraphAnn.persistGraph(
      GraphAnn.buildGraphExact(initial, "embedding", "vec_id", 4),
      path, buckets = 32)
    var live = initial
    for ((lo, hi) <- Seq((25, 30), (20, 25), (15, 20))) {
      val batch = emb.filter($"vec_id" >= lo && $"vec_id" < hi)
      GraphAnn.syncPersistedGraph(spark, pg, live, batch,
        "vec_id", "embedding")
      live = live.unionByName(batch)
    }
    def maxDegree(): Long = spark.read.parquet(path)
      .groupBy("__src").count().agg(max("count")).head().getLong(0)
    assert(maxDegree() > 4,
      "reverse fan-in over 3 batches should push some src past m")
    // per-file content digests, keyed by bucket dir
    def digests(): Map[String, Map[String, String]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("__srcbucket=")).map { d =>
          d.getName -> walk(d).filter(_.getName.endsWith(".parquet"))
            .map { f =>
              val md = java.security.MessageDigest.getInstance("MD5")
              f.getPath -> md.digest(Files.readAllBytes(f.toPath))
                .map("%02x".format(_)).mkString
            }.toMap
        }.toMap
    }
    val overBuckets = spark.read.parquet(path).groupBy("__src").count()
      .filter($"count" > 4)
      .select(pmod($"__src", lit(32L)).cast("int")).distinct()
      .as[Int].collect().toSet
    assert(overBuckets.size < 32, "need at least one untouched bucket")
    val before = digests()
    val rewritten = GraphAnn.repruneBuckets(spark, pg, live,
      "vec_id", "embedding")
    assert(rewritten === overBuckets.size)
    assert(maxDegree() <= 4, s"reprune must bound degree, got ${maxDegree()}")
    val after = digests()
    for (b <- 0 until 32; name = s"__srcbucket=$b"
         if !overBuckets.contains(b))
      assert(after(name) === before(name),
        s"untouched bucket $name must stay byte-identical")
    // reprune after a delete compacts the tombstone away physically
    val victim = live.filter($"vec_id" >= 15).select(min("vec_id"))
      .head().getLong(0)
    GraphAnn.syncPersistedGraphChanges(spark, pg, live,
      live.filter($"vec_id" === victim)
        .withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(9L)),
      "vec_id", "embedding")
    assert(GraphAnn.loadTombstones(spark, pg).isDefined)
    live = live.filter($"vec_id" =!= victim)
    GraphAnn.repruneBuckets(spark, pg, live, "vec_id", "embedding")
    assert(GraphAnn.loadTombstones(spark, pg).isEmpty,
      "reprune must drop the compacted tombstone table")
    assert(GraphAnn.repruneBuckets(spark, pg, live, "vec_id",
        "embedding") === 0,
      "a repruned layout has nothing left to rewrite — idempotent")
    val edges = spark.read.parquet(path).select("__src", "__dst")
      .as[(Long, Long)].collect()
    assert(!edges.exists(e => e._1 == victim || e._2 == victim),
      "compaction must physically remove the deleted node's edges")
    assert(maxDegree() <= 4)
    // the layout still answers: a query at a live node finds itself
    val probe = live.filter($"vec_id" === 17)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val hit = GraphAnn.queryPersistedGraph(spark, pg, live, probe,
        "qid", "qv", "vec_id", "embedding", k = 1, entries = 4,
        beam = 4, hops = 3, metric = Metric.L2, entryMod = 5L)
      .head()
    assert(hit.getLong(2) === 17L)
  }

  test("mergeSignLshShards: shard builds + file-move merge == full " +
      "build, both tables; parameter guard rejects mismatches") {
    val root = Files.createTempDirectory("graft_pslsh_merge").toString
    Ann.persistSignLsh(
      Ann.buildSignLsh(corpus, "embedding", tables = 4, bits = 3),
      "vec_id", "embedding", s"$root/full")
    val shardPaths = (0 to 1).map { p =>
      val sp = s"$root/shard$p"
      Ann.persistSignLsh(
        Ann.buildSignLsh(corpus.filter($"vec_id" % 2 === p),
          "embedding", tables = 4, bits = 3),
        "vec_id", "embedding", sp)
      sp
    }
    def partFiles(dir: String): Seq[Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .filter(f => f.getName.contains("part-") &&
          f.getName.endsWith(".parquet")).map(_.length())
    }
    val shardSizes = shardPaths
      .flatMap(p => partFiles(p) ++ partFiles(p + "_docs")).sorted
    val merged = Ann.mergeSignLshShards(spark, shardPaths,
      s"$root/merged", tables = 4, bits = 3)
    // pure moves across BOTH tables (postings + _docs), roots consumed
    assert((partFiles(s"$root/merged") ++
      partFiles(s"$root/merged_docs")).sorted === shardSizes)
    assert(shardPaths.forall(p => !new java.io.File(p).exists() &&
      !new java.io.File(p + "_docs").exists()))
    // merged answers == full-build answers
    def ans(idx: Ann.PersistedSignLsh) =
      Ann.queryPersistedSignLsh(spark, idx, queries, "vec_id",
        "embedding", "vec_id", "embedding", k = 3, Metric.Cosine)
        .select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ans(merged) ===
      ans(Ann.PersistedSignLsh(s"$root/full", 4, 3)))
    // a shard built with MORE tables than the merge target is rejected
    Ann.persistSignLsh(
      Ann.buildSignLsh(corpus.filter($"vec_id" % 2 === 0),
        "embedding", tables = 8, bits = 3),
      "vec_id", "embedding", s"$root/bad")
    val e = intercept[IllegalArgumentException] {
      Ann.mergeSignLshShards(spark, Seq(s"$root/bad"), s"$root/m2",
        tables = 4, bits = 3)
    }
    assert(e.getMessage.contains("different parameters"))
  }

  test("moveMerge crash contract: an interrupted merge resumes to the " +
      "full layout; a committed merge replays as a no-op") {
    import graft.index.PartitionedLayout
    val root = Files.createTempDirectory("graft_mvmerge_crash").toString
    val df = spark.range(0, 40)
      .selectExpr("id", "CAST(id % 4 AS INT) AS __cell")
    df.filter($"id" % 2 === 0).repartition($"__cell")
      .write.partitionBy("__cell").parquet(s"$root/s0")
    df.filter($"id" % 2 === 1).repartition($"__cell")
      .write.partitionBy("__cell").parquet(s"$root/s1")
    def files(dir: String): Seq[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .filter(f => f.getName.startsWith("part-") ||
          (f.getName.startsWith("s") && f.getName.contains("part-")))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length())
    }
    val total = (files(s"$root/s0") ++ files(s"$root/s1")).map(_._2).sorted
    // simulate a crashed prior attempt: one file already staged in the
    // __mvtmp dir (per-file renames are atomic, so this is the only
    // intermediate state a crash can leave)
    val cellDir = new java.io.File(s"$root/s0").listFiles()
      .filter(_.getName.startsWith("__cell=")).head
    val victim = cellDir.listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    val staged = new java.io.File(
      s"$root/merged__mvtmp/${cellDir.getName}")
    assert(staged.mkdirs())
    assert(victim.renameTo(
      new java.io.File(staged, s"s0-${victim.getName}")))
    // the resumed call moves only what remains and commits
    val moved = PartitionedLayout.moveMerge(spark,
      Seq(s"$root/s0", s"$root/s1"), s"$root/merged", depth = 1)
    assert(moved === total.size - 1)
    assert(files(s"$root/merged").map(_._2).sorted === total)
    assert(spark.read.parquet(s"$root/merged").count() === 40)
    // committed replay: shards consumed, staging gone -> no-op
    assert(PartitionedLayout.moveMerge(spark,
      Seq(s"$root/s0", s"$root/s1"), s"$root/merged", depth = 1) === 0)
    assert(files(s"$root/merged").map(_._2).sorted === total)
  }

  test("inParallel awaits both sides before a failure propagates; " +
      "a's failure wins when both fail") {
    import graft.index.PartitionedLayout
    @volatile var bDone = false
    val e = intercept[IllegalStateException] {
      PartitionedLayout.inParallel(
        throw new IllegalStateException("a failed"),
        { Thread.sleep(500); bDone = true })
    }
    assert(e.getMessage === "a failed")
    assert(bDone, "b must have finished by the time inParallel throws")
    val both = intercept[IllegalStateException] {
      PartitionedLayout.inParallel(
        { Thread.sleep(300); throw new IllegalStateException("a failed") },
        throw new IllegalStateException("b failed"))
    }
    assert(both.getMessage === "a failed")
  }

  test("Sq8.mergeShards: shared-grid shard encodes merge into a full " +
      "build; a mismatched grid is rejected") {
    import graft.search.Sq8
    val root = Files.createTempDirectory("graft_psq8_merge").toString
    val stats = Sq8.fit(corpus, "embedding")
    Sq8.persist(corpus, "embedding", "vec_id", s"$root/full", stats)
    val shardPaths = (0 to 1).map { p =>
      val sp = s"$root/shard$p"
      Sq8.persist(corpus.filter($"vec_id" % 2 === p), "embedding",
        "vec_id", sp, stats)
      Sq8.persistStats(spark, stats, sp) // side file exercises the guard
      sp
    }
    val merged = Sq8.mergeShards(spark, shardPaths, s"$root/merged", stats)
    def ans(idx: Sq8.PersistedSq8) =
      Sq8.rerankPersisted(spark, idx, queries, "embedding", "vec_id",
        "vec_id", "embedding", k = 3, c = 4)
        .select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ans(merged) === ans(Sq8.PersistedSq8(s"$root/full", stats)))
    // the merged layout persists the shared grid (self-contained)
    val reloaded = Sq8.loadStats(spark, s"$root/merged")
    assert(reloaded.mins.sameElements(stats.mins) &&
      reloaded.maxs.sameElements(stats.maxs))
    // a shard whose _stats differ from the merge grid is rejected
    val other = Sq8.Stats(stats.mins.map(_ - 1.0), stats.maxs)
    Sq8.persist(corpus.filter($"vec_id" % 2 === 0), "embedding",
      "vec_id", s"$root/bad", other)
    Sq8.persistStats(spark, other, s"$root/bad")
    val e = intercept[IllegalArgumentException] {
      Sq8.mergeShards(spark, Seq(s"$root/bad"), s"$root/m2", stats)
    }
    assert(e.getMessage.contains("quantization grid"))
  }
}
