package graft

import graft.index.IndexKinds
import org.apache.spark.sql.functions._

/** The façade's index-kind routing: one `similarity_search` entry
  * point, engine-side dispatch to the kind's persisted layout — plan
  * shape, column contract, metadata round-trip, and sync consistency.
  * Result correctness vs the direct legs is the FacadeQueries oracle
  * gate; this spec asserts the things a hash can't see. */
class FacadeRouteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet(s"$sf/embeddings.parquet")
  private def corpus = emb.filter($"vec_id" >= 5)
  private def queries = emb.filter($"vec_id" < 5)

  private def mkIndex(name: String, kind: String,
      options: Map[String, String] = Map.empty): Index = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_facade_$name").toString
    val vs = new VectorSearch(spark, root)
    vs.createEndpoint("ep")
    vs.createDeltaSyncIndex("ep", corpus, name, "vec_id", "embedding",
      64, kind, options)
  }

  test("ivf kind: the routed search executes against the cell-pruned " +
      "persisted layout, not a corpus scan") {
    spark.sharedState.cacheManager.clearCache()
    val idx = mkIndex("plan_ivf", "ivf",
      Map("cells" -> "16", "nProbe" -> "4"))
    val df = idx.search(queries, "vec_id", "embedding", 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__ivf"),
      s"routed plan must read the ivf layout:\n${plan.take(1500)}")
    assert(plan.contains("PartitionFilters: [__cell"),
      s"routed plan must prune cells at the listing:\n${plan.take(1500)}")
  }

  test("signlsh kind routes to the (table, code)-partitioned layout") {
    spark.sharedState.cacheManager.clearCache()
    val idx = mkIndex("plan_slsh", "signlsh",
      Map("tables" -> "4", "bits" -> "3"))
    val df = idx.search(queries, "vec_id", "embedding", 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__signlsh") && plan.contains("PartitionFilters"),
      s"routed plan must prune bucket dirs:\n${plan.take(1500)}")
  }

  test("sq8 kind: the routed coarse stage scans the byte-code file, " +
      "not the vectors") {
    spark.sharedState.cacheManager.clearCache()
    val idx = mkIndex("plan_sq8", "sq8", Map("c" -> "4"))
    val df = idx.search(queries, "vec_id", "embedding", 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__sq8_codes"),
      s"routed plan must read the codes file:\n${plan.take(1500)}")
  }

  test("ivfpq kind: the routed scan prunes cells and reads the code " +
      "column") {
    spark.sharedState.cacheManager.clearCache()
    val idx = mkIndex("plan_ivfpq", "ivfpq",
      Map("cells" -> "8", "nProbe" -> "2", "m" -> "16",
        "codebookK" -> "16", "c" -> "4"))
    val df = idx.search(queries, "vec_id", "embedding", 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__ivfpq"),
      s"routed plan must read the ivfpq layout:\n${plan.take(1500)}")
    assert(plan.contains("PartitionFilters: [__cell"),
      s"routed plan must prune cells at the listing:\n${plan.take(1500)}")
    assert(plan.contains("__codes"),
      s"coarse stage must scan the code column:\n${plan.take(1500)}")
  }

  test("pq kind splits its single cell into hash sub-cells — parallel " +
      "writers for the flat layout, results unchanged") {
    val idx = mkIndex("plan_pq", "pq",
      Map("m" -> "16", "codebookK" -> "16", "writers" -> "4"))
    val path = graft.index.IndexKinds.layoutPath(idx.meta)
    val cellDir = new java.io.File(path, "__cell=0")
    assert(cellDir.exists, "flat pq layout must keep its one cell dir")
    val subs = cellDir.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__subcell="))
    assert(subs.length === 4,
      s"expected 4 sub-cell dirs under the flat cell, got ${subs.length}")
    assert(idx.search(queries, "vec_id", "embedding", 3)
      .groupBy("query_id").count().select(min("count"))
      .head().getLong(0) === 3, "split layout must still answer top-k")
  }

  test("trained ivf kind persists k-means centroids (different from " +
      "the deterministic first-k) and routes through them") {
    val det = mkIndex("tr_det", "ivf", Map("cells" -> "8", "nProbe" -> "8"))
    val tr = mkIndex("tr_kmeans", "ivf",
      Map("cells" -> "8", "nProbe" -> "8", "trained" -> "true",
        "iters" -> "2", "sampleN" -> "64"))
    def cents(idx: Index): Set[Seq[Float]] =
      spark.read.parquet(
          graft.index.IndexKinds.layoutPath(idx.meta) + "_centroids")
        .select("__centroid").as[Seq[Float]].collect().toSet
    assert(cents(det) !== cents(tr),
      "trained=true must persist k-means centroids, not the first-k rows")
    // full-probe search over both still agrees with exact top-k: at
    // nProbe = cells there is no pruning loss on either centroid set
    val qv = queries.orderBy("vec_id").select("embedding")
      .head().getSeq[Float](0)
    assert(tr.similaritySearch(Seq("vec_id"), qv, 3)
      .select("vec_id").as[Long].collect().toSeq ===
      det.similaritySearch(Seq("vec_id"), qv, 3)
        .select("vec_id").as[Long].collect().toSeq)
  }

  test("graph kind with layers=N builds, searches and compacts every " +
      "md5-gated layer as its own layout behind the routed call") {
    import graft.search.GraphAnn
    val idx = mkIndex("plan_hnsw", "graph",
      Map("layers" -> "2", "lbase" -> "5", "m" -> "6", "mUpper" -> "4",
        "buckets" -> "16", "entries" -> "4", "beam" -> "4",
        "hops" -> "3", "topEntries" -> "2", "upperBeam" -> "3",
        "upperHops" -> "2", "metric" -> "l2"))
    val path = IndexKinds.layoutPath(idx.meta)
    assert(new java.io.File(path + "_l1").exists()
      && new java.io.File(path + "_l2").exists(),
      "each upper layer persists beside the main layout")
    val routed = idx.search(queries, "vec_id", "embedding", 3)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val direct = GraphAnn.queryPersistedHnsw(spark,
      GraphAnn.hnswHandle(path, m = 6, mUpper = 4, buckets = 16,
        base = 5, levels = 2),
      corpus, queries, "vec_id", "embedding", "vec_id", "embedding",
      k = 3, entries = 4, beam = 4, hops = 3,
      graft.functions.Metric.L2, topEntries = 2, upperBeam = 3,
      upperHops = 2)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(routed === direct,
      "the routed descent must equal the direct persisted-hnsw leg")
    val touched = idx.optimize()
    assert(Set("edges", "edgesL1", "edgesL2", "corpus")
      .subsetOf(touched.keySet),
      s"optimize must compact every layer: $touched")
  }

  test("plaid kind routes token-bag build/search/sync/optimize; the " +
      "multi-vector contract rejects single-vector entry points") {
    import graft.functions.TextExpressions
    import graft.search.Plaid
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"text".isNotNull && trim($"text") =!= "")
    def bags(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        transform(TextExpressions.wordShingles(col("text"), 3),
          sh => TextExpressions.md5FeatureEmbed(sh, 16)).as("toks"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_facade_plaid_spec").toString
    val vs = new VectorSearch(spark, root)
    vs.createEndpoint("ep")
    val idx = vs.createDeltaSyncIndex("ep",
      bags(d.filter($"doc_id" >= 3 && $"doc_id" < 60)),
      "spec_plaid", "doc_id", "toks", 16, "plaid")
    val path = IndexKinds.layoutPath(idx.meta)
    assert(new java.io.File(path).exists()
      && new java.io.File(path + "_docs").exists()
      && new java.io.File(path + "_cents").exists(),
      "the coded store, _docs twin and centroid side file all persist")
    val q = bags(d.filter($"doc_id" < 3))
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "doc_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val routed = ranked(idx.search(q, "doc_id", "toks", 5))
    assert(routed.nonEmpty)
    val direct = ranked(Plaid.topKPersisted(spark,
      Plaid.Persisted(path), "doc_id",
      q.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("__pi", "__tv"))),
      "doc_id", "__pi", "__tv", 5))
    assert(routed === direct,
      "the routed call must equal the direct persisted PLAID leg")
    // multi-vector guard: the single-vector similarity_search entry
    // point must refuse loudly, not feed a vector in as a bag
    intercept[IllegalArgumentException] {
      idx.similaritySearch(Seq("doc_id"), Seq.fill(16)(0.1f), 3)
    }
    // metadata filters don't survive token-level candidate generation
    intercept[IllegalArgumentException] {
      idx.search(q, "doc_id", "toks", 5, filters = Map("lang" -> "en"))
    }
    val touched = idx.optimize()
    assert(Set("store", "docs").subsetOf(touched.keySet),
      s"optimize must compact the coded store and _docs: $touched")
    val after = ranked(idx.search(q, "doc_id", "toks", 5))
    assert(after === routed, "compaction must preserve answers")
  }

  test("multi-vector prepare drops malformed tokens and empty bags; " +
      "__norm carries the bag's token count") {
    import graft.index.{IndexMeta, VectorIndex}
    import graft.functions.Metric
    val meta = IndexMeta("mv", "id", "toks", 2, Metric.Cosine,
      "/tmp/unused_mv", kind = IndexKinds.PlaidKind)
    val vi = new VectorIndex(meta)
    val src = Seq(
      (1L, Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))),
      (2L, Seq(Seq(1.0f))), // wrong-dim token -> bag empties -> row drops
      (3L, Seq.empty[Seq[Float]])).toDF("id", "toks")
    val out = vi.prepare(src).orderBy("id")
      .select($"id", size($"toks"), $"__norm").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    assert(out.head.getInt(1) === 2 && out.head.getDouble(2) === 2.0)
  }

  test("similaritySearch returns the requested columns plus score on " +
      "a routed kind, ranked like the exact kind") {
    val ivf = mkIndex("cols_ivf", "ivf",
      Map("cells" -> "4", "nProbe" -> "4"))
    val qv = queries.orderBy("vec_id").select("embedding")
      .head().getSeq[Float](0)
    val rows = ivf.similaritySearch(Seq("vec_id", "label"), qv, 3)
    assert(rows.columns.toSeq === Seq("vec_id", "label", "score"))
    assert(rows.count() === 3)
    // nProbe = cells → no pruning loss: the routed top-k ids equal the
    // exact kind's for the same query
    val exact = mkIndex("cols_exact", "exact")
    val want = exact.similaritySearch(Seq("vec_id"), qv, 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(rows.select("vec_id").as[Long].collect().toSeq === want)
  }

  /** The formulation the single-question ivf plan replaced: a one-row
    * routed batch search joined back to the corpus table by pk. */
  private def joinedBack(idx: Index, qv: Seq[Float], cols: Seq[String],
      k: Int, filters: Map[String, Any] = Map.empty)
      : org.apache.spark.sql.DataFrame =
    idx.search(Seq(Tuple2(0L, qv)).toDF("__qid", "__qvec"), "__qid",
        "__qvec", k, filters)
      .join(IndexKinds.corpusTable(spark, idx.meta), Seq(idx.meta.pkCol))
      .orderBy(col("rank").asc)
      .select((cols :+ "score").map(col): _*)

  /** Asserts single-question `similaritySearch` ≡ [[joinedBack]] for
    * every query: same columns, same rows in the same order, scores
    * equal as Doubles. Returns the per-query row counts. */
  private def assertSameAsJoinedBack(idx: Index, qvs: Seq[Seq[Float]],
      k: Int, filters: Map[String, Any] = Map.empty): Seq[Int] = {
    val cols = Seq("vec_id", "label", "embedding")
    qvs.map { qv =>
      val got = idx.similaritySearch(cols, qv, k, filters)
      val want = joinedBack(idx, qv, cols, k, filters)
      assert(got.columns.toSeq === want.columns.toSeq)
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      // Row equality compares the Double scores exactly
      if (g != w)
        fail(s"single-question ivf plan diverged: (pk, score) " +
          s"${g.map(r => (r.getLong(0), r.getDouble(3)))} vs " +
          s"${w.map(r => (r.getLong(0), r.getDouble(3)))}")
      g.size
    }
  }

  private def queryVecs(n: Int): Seq[Seq[Float]] =
    emb.filter($"vec_id" % 17 < 2).orderBy("vec_id").limit(n)
      .select("embedding").as[Seq[Float]].collect().toSeq

  test("single-question ivf similaritySearch equals the routed search " +
      "joined back to the corpus: probes, filters, trained centroids") {
    val qvs = queryVecs(24)
    assert(qvs.size >= 20)
    val idx = mkIndex("one_ivf", "ivf", Map("cells" -> "16", "nProbe" -> "4"))
    assertSameAsJoinedBack(idx, qvs, 5)
    // a filter that leaves the probed cells short of k matches: PRE-rank
    // semantics under-fill on both formulations alike
    val filled = assertSameAsJoinedBack(idx, qvs.take(6), 40,
      Map("label" -> 3))
    assert(filled.exists(_ < 40), s"filter should under-fill k: $filled")
    val tr = mkIndex("one_ivf_tr", "ivf",
      Map("cells" -> "8", "nProbe" -> "2", "trained" -> "true",
        "iters" -> "2", "sampleN" -> "64"))
    assertSameAsJoinedBack(tr, qvs, 5)
  }

  test("single-question ivf similaritySearch stays equal to the joined " +
      "formulation across sync, optimize and a same-name rebuild") {
    import graft.index.ChangeLog
    import graft.search.Ann
    val qvs = queryVecs(20)
    val root = java.nio.file.Files
      .createTempDirectory("graft_facade_one_ivf_life").toString
    val vs = new VectorSearch(spark, root)
    vs.createEndpoint("ep")
    val idx = vs.createDeltaSyncIndex("ep", corpus, "life", "vec_id",
      "embedding", 64, "ivf", Map("cells" -> "16", "nProbe" -> "4"))
    assertSameAsJoinedBack(idx, qvs, 5)
    // one batch that moves rows to other cells (their vector becomes a
    // far-away row's), updates a label in place, deletes and inserts
    val moved = corpus.filter($"vec_id".between(5, 14))
      .join(corpus.filter($"vec_id".between(400, 409))
        .select(($"vec_id" - 395).as("vec_id"),
          $"embedding".as("far")), "vec_id")
      .select($"vec_id", $"far".as("embedding"), $"label")
    val relabelled = corpus.filter($"vec_id".between(20, 24))
      .withColumn("label", $"label" + 100)
    val changes = moved.union(relabelled)
      .withColumn("__op", lit(ChangeLog.OpUpdate))
      .union(corpus.filter($"vec_id".between(30, 39))
        .withColumn("__op", lit(ChangeLog.OpDelete)))
      .union(queries.withColumn("__op", lit(ChangeLog.OpInsert)))
      .withColumn("__seq", lit(1L))
    def cellsOfMoved(): Map[Long, Int] =
      spark.read.parquet(IndexKinds.layoutPath(idx.meta))
        .filter($"vec_id".between(5, 14)).select("vec_id", "__cell")
        .as[(Long, Int)].collect().toMap
    val cellsBefore = cellsOfMoved()
    idx.sync(changes)
    assert(cellsOfMoved().exists { case (pk, c) => cellsBefore(pk) != c },
      "the batch must move some rows to another cell")
    assertSameAsJoinedBack(idx, qvs, 5)
    idx.optimize()
    assertSameAsJoinedBack(idx, qvs, 5)
    // drop and re-create under the same name over a different corpus:
    // the probe must see the new centroids, not the cached old ones
    val path = IndexKinds.layoutPath(idx.meta)
    def onDisk(): Seq[(Int, Seq[Float])] =
      spark.read.parquet(path + "_centroids").orderBy("__cell")
        .as[(Int, Seq[Float])].collect().toSeq
    val before = onDisk()
    vs.deleteIndex("life")
    val other = corpus.filter($"vec_id" % 3 =!= 0)
      .select(($"vec_id" * 7 % 1000).as("vec_id"), $"embedding", $"label")
    val again = vs.createDeltaSyncIndex("ep", other, "life", "vec_id",
      "embedding", 64, "ivf", Map("cells" -> "16", "nProbe" -> "4"))
    assert(IndexKinds.layoutPath(again.meta) === path)
    assert(onDisk() !== before, "the rebuild must train other centroids")
    val cached = Ann.loadCentroids(spark, path + "_centroids")
      .frame(spark).orderBy("__cell").as[(Int, Seq[Float])].collect().toSeq
    assert(cached === onDisk(), "the loader must serve the new centroids")
    assertSameAsJoinedBack(again, qvs, 5)
    // and it answers like a twin built over the same corpus at a path
    // the cache has never seen
    val vs2 = new VectorSearch(spark, java.nio.file.Files
      .createTempDirectory("graft_facade_one_ivf_twin").toString)
    vs2.createEndpoint("ep")
    val twin = vs2.createDeltaSyncIndex("ep", other, "life", "vec_id",
      "embedding", 64, "ivf", Map("cells" -> "16", "nProbe" -> "4"))
    val cols = Seq("vec_id", "label", "embedding")
    qvs.foreach { qv =>
      assert(again.similaritySearch(cols, qv, 5).collect().toSeq ===
        twin.similaritySearch(cols, qv, 5).collect().toSeq)
    }
  }

  /** Spark jobs started by `body` on this thread, counted by a
    * listener. A fence job run afterwards flushes the listener bus, so
    * every job of `body` has been seen when this returns. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val prop = "graft.test.jobs"
    val tag = s"measure-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(prop)))
          .foreach { t =>
            if (t == tag) n.incrementAndGet()
            else if (t == tag + ":fence") fence.countDown()
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, tag)
      body
      sc.setLocalProperty(prop, tag + ":fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(listener)
    }
    n.get()
  }

  /** Jobs one warm single-question `similaritySearch(...).collect()`
    * on an ivf index runs: the layout's parquet schema inference and
    * the pruned scan → `TakeOrderedAndProject` itself. */
  private val IvfOneQuestionJobs = 2

  test("single-question ivf search: job budget, a cell-pruned plan " +
      "with no join, and no _centroids read while the layout is unchanged") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    spark.sharedState.cacheManager.clearCache()
    val idx = mkIndex("one_budget", "ivf",
      Map("cells" -> "16", "nProbe" -> "4"))
    val qv = queryVecs(1).head
    val cols = Seq("vec_id", "label")
    val first = idx.similaritySearch(cols, qv, 5).collect().toSeq
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf {
      df = idx.similaritySearch(cols, qv, 5)
      assert(df.collect().toSeq === first)
    }
    assert(jobs <= IvfOneQuestionJobs,
      s"$jobs jobs for one question, budget $IvfOneQuestionJobs")
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("PartitionFilters: [__cell"),
      s"the refine must prune cells at the listing:\n$plan")
    val joins = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case j: BaseJoinExec => j
    }
    assert(joins.isEmpty, s"the single-question plan must not join:\n$plan")
    // overwrite every _centroids file with garbage of the same length
    // and mtime: the listing (the cache key) is unchanged, and any read
    // of those files would now fail
    val dir = new java.io.File(IndexKinds.layoutPath(idx.meta) + "_centroids")
    val files = dir.listFiles().filter(f => f.isFile && f.length > 0)
    assert(files.exists(_.getName.endsWith(".parquet")))
    files.foreach { f =>
      val mtime = f.lastModified()
      java.nio.file.Files.write(f.toPath, Array.fill(f.length.toInt)(7.toByte))
      assert(f.setLastModified(mtime))
    }
    assert(idx.similaritySearch(cols, qv, 5).collect().toSeq === first,
      "a repeat with no layout change must not read _centroids")
  }

  test("kind and options survive a catalog reopen (fresh session " +
      "object, same root)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_facade_reopen").toString
    val vs = new VectorSearch(spark, root)
    vs.createEndpoint("ep")
    vs.createDeltaSyncIndex("ep", corpus, "ridx", "vec_id", "embedding",
      64, "signlsh", Map("tables" -> "4", "bits" -> "3"))
    val reopened = new VectorSearch(spark, root).getIndex("ridx").get
    assert(reopened.meta.kind === "signlsh")
    assert(reopened.meta.options ===
      Map("tables" -> "4", "bits" -> "3"))
    // and it still routes: the reopened handle searches the layout
    assert(reopened.search(queries, "vec_id", "embedding", 3)
      .count() > 0)
  }

  test("sync maintains the routed layout: an upserted row becomes " +
      "retrievable, a deleted row disappears") {
    import graft.index.ChangeLog
    val idx = mkIndex("sync_ivf", "ivf",
      Map("cells" -> "4", "nProbe" -> "4"))
    // insert query-row 0 (absent from the >= 5 corpus) via CDF
    val ins = queries.filter($"vec_id" === 0)
      .withColumn("__op", lit(ChangeLog.OpInsert))
      .withColumn("__seq", lit(1L))
    idx.sync(ins)
    val qv0 = queries.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0)
    val got = idx.similaritySearch(Seq("vec_id"), qv0, 1)
      .as[(Long, Double)].collect().head
    assert(got._1 === 0L, s"synced row must be its own nearest: $got")
    // delete it again — it must leave the routed results
    val del = queries.filter($"vec_id" === 0)
      .withColumn("__op", lit(ChangeLog.OpDelete))
      .withColumn("__seq", lit(2L))
    idx.sync(del)
    val after = idx.similaritySearch(Seq("vec_id"), qv0, 1)
      .as[(Long, Double)].collect().head
    assert(after._1 !== 0L, s"deleted row resurfaced: $after")
  }

  test("ivf and signlsh layouts hold exactly the exact artifact's rows: " +
      "zero and wrong-dim vectors are rejected at build and sync") {
    import graft.index.ChangeLog
    val zero = array_repeat(lit(0f), 64)
    // pk 7 carries an all-zero vector at build
    val source = corpus.withColumn("embedding",
      when($"vec_id" === 7, zero).otherwise($"embedding"))
    Seq("ivf" -> Map("cells" -> "16", "nProbe" -> "4"),
        "signlsh" -> Map("tables" -> "4", "bits" -> "3")).foreach {
      case (kind, opts) =>
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_facade_valid_$kind").toString
        val vs = new VectorSearch(spark, root)
        vs.createEndpoint("ep")
        val idx = vs.createDeltaSyncIndex("ep", source, s"valid_$kind",
          "vec_id", "embedding", 64, kind, opts)
        def pks(df: org.apache.spark.sql.DataFrame): Set[Long] =
          df.select("vec_id").as[Long].collect().toSet
        def assertSame(at: String): Unit = {
          val exact = pks(spark.read.parquet(idx.meta.path))
          val layout = pks(IndexKinds.corpusTable(spark, idx.meta))
          assert(layout === exact, s"$kind layout pks differ from the " +
            s"exact artifact's $at: only in the layout " +
            s"${(layout -- exact).toSeq.sorted}, only in the artifact " +
            s"${(exact -- layout).toSeq.sorted}")
        }
        assertSame("after build")
        assert(!pks(spark.read.parquet(idx.meta.path)).contains(7L))
        // one batch: a zero-vector update, a 3-dim update, a delete
        val changes = source.filter($"vec_id".isin(20, 21, 22))
          .withColumn("embedding",
            when($"vec_id" === 20, zero)
              .when($"vec_id" === 21, array(lit(1f), lit(2f), lit(3f)))
              .otherwise($"embedding"))
          .withColumn("__op", when($"vec_id" === 22, lit(ChangeLog.OpDelete))
            .otherwise(lit(ChangeLog.OpUpdate)))
          .withColumn("__seq", lit(1L))
        idx.sync(changes)
        assertSame("after sync")
        val left = pks(spark.read.parquet(idx.meta.path))
        assert(Seq(20L, 21L, 22L).forall(pk => !left.contains(pk)),
          s"$kind: the exact artifact must drop all three changed pks")
    }
  }

  test("graph corpus sync is touched-dir-only: untouched pk-hash " +
      "bucket dirs stay byte-identical") {
    import graft.index.{ChangeLog, IndexKinds}
    val idx = mkIndex("corp_bkt", "graph",
      Map("m" -> "4", "buckets" -> "4", "entries" -> "2", "beam" -> "3",
        "hops" -> "2", "metric" -> "l2"))
    val corpusPath = IndexKinds.layoutPath(idx.meta) + "_corpus"
    // the side table is pk-hash-bucketed on disk (but the routed reads
    // never see the bucket column)
    assert(new java.io.File(corpusPath).listFiles()
      .exists(_.getName.startsWith("__cbkt=")),
      "corpus side table must be partitioned by __cbkt")
    assert(!IndexKinds.corpusTable(spark, idx.meta)
      .columns.contains("__cbkt"))
    def snapshot(): Map[String, Seq[(String, Long)]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      new java.io.File(corpusPath).listFiles()
        .filter(_.getName.startsWith("__cbkt=")).map { d =>
          d.getName -> walk(d).filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified())).sorted
        }.toMap
    }
    val before = snapshot()
    idx.sync(queries.filter($"vec_id" === 0)
      .withColumn("__op", lit(ChangeLog.OpInsert))
      .withColumn("__seq", lit(1L)))
    val after = snapshot()
    val touched = spark.range(1)
      .select(pmod(xxhash64(lit(0L)), lit(32L)).cast("int"))
      .head().getInt(0)
    val touchedDir = s"__cbkt=$touched"
    assert(after.contains(touchedDir),
      s"the synced pk's bucket dir must exist after sync")
    for ((dir, files) <- before if dir != touchedDir)
      assert(after(dir) === files,
        s"untouched corpus bucket $dir must stay byte-identical")
    // and the synced row is served by the routed corpus relation
    assert(IndexKinds.corpusTable(spark, idx.meta)
      .filter($"vec_id" === 0).count() === 1)
  }

  test("a pre-bucketing corpus side table is migrated once on sync, " +
      "then served and synced bucketed") {
    import graft.index.{ChangeLog, IndexKinds}
    val idx = mkIndex("corp_mig", "graph",
      Map("m" -> "4", "buckets" -> "4", "entries" -> "2", "beam" -> "3",
        "hops" -> "2", "metric" -> "l2"))
    val corpusPath = IndexKinds.layoutPath(idx.meta) + "_corpus"
    // regress the side table to the pre-r10 unpartitioned form
    val flat = IndexKinds.corpusTable(spark, idx.meta).localCheckpoint(true)
    val fs = new org.apache.hadoop.fs.Path(corpusPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(corpusPath), true)
    flat.write.mode("overwrite").parquet(corpusPath)
    assert(!spark.read.parquet(corpusPath).columns.contains("__cbkt"))
    val before = flat.count()
    // the next sync migrates once, then merges touched-dir-only
    idx.sync(queries.filter($"vec_id" === 1)
      .withColumn("__op", lit(ChangeLog.OpInsert))
      .withColumn("__seq", lit(1L)))
    assert(new java.io.File(corpusPath).listFiles()
      .exists(_.getName.startsWith("__cbkt=")),
      "sync must leave the corpus bucketed")
    val served = IndexKinds.corpusTable(spark, idx.meta)
    assert(served.count() === before + 1,
      "migration must keep every row and add the synced one")
    assert(served.filter($"vec_id" === 1).count() === 1)
    // and the routed search still answers over the migrated corpus
    assert(idx.search(queries, "vec_id", "embedding", 3)
      .count() === 15)
  }

  test("hybrid kind demands query text; unknown kinds are rejected " +
      "at creation") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_facade_err").toString
    val vs = new VectorSearch(spark, root)
    vs.createEndpoint("ep")
    intercept[IllegalArgumentException] {
      vs.createDeltaSyncIndex("ep", corpus, "bad", "vec_id",
        "embedding", 64, "hnswlib")
    }
    val docs = corpus.withColumn("text",
      concat_ws(" ", lit("doc"), $"vec_id"))
    val hyb = vs.createDeltaSyncIndex("ep", docs, "hyb", "vec_id",
      "embedding", 64, "hybrid", Map("textCol" -> "text"))
    intercept[IllegalArgumentException] {
      hyb.search(queries, "vec_id", "embedding", 3).collect()
    }
  }

  test("managed-embedding mode composes with index kinds: the engine " +
      "embeds, builds the routed layout over its own embeddings, and " +
      "serves text queries through it") {
    import graft.embed.HashProjectionEmbedder
    val root = java.nio.file.Files
      .createTempDirectory("graft_facade_managed").toString
    val vs = new VectorSearch(spark, root)
    vs.createEndpoint("ep")
    val docs = Seq(
      (1L, "spark catalyst optimizer rules"),
      (2L, "parquet columnar storage format"),
      (3L, "spark catalyst optimizer rules engine"),
      (4L, "streaming watermark state store"),
      (5L, "vector search embedding index")
    ).toDF("doc_id", "text")
    // managed + ivf: the engine embeds and the routed layout indexes
    // ITS embeddings; a text query lands on the pruned ivf plan
    spark.sharedState.cacheManager.clearCache()
    val ivf = vs.createDeltaSyncIndex("ep", docs, "m_ivf", "doc_id",
      "text", new HashProjectionEmbedder(16), "ivf",
      Map("cells" -> "2", "nProbe" -> "2"))
    val hits = ivf.similaritySearch(Seq("doc_id"),
      "spark catalyst optimizer rules", 2)
    assert(hits.columns.toSeq === Seq("doc_id", "score"))
    assert(hits.select("doc_id").as[Long].collect().head === 1L ||
      hits.select("doc_id").as[Long].collect().head === 3L)
    // managed + hybrid: ONE text call fuses the keyword leg (postings
    // over the source text) with the vector leg (engine embeddings)
    val hyb = vs.createDeltaSyncIndex("ep", docs, "m_hyb", "doc_id",
      "text", new HashProjectionEmbedder(16), "hybrid",
      Map("n" -> "4", "buckets" -> "8"))
    assert(hyb.meta.options("textCol") === "text")
    val fused = hyb.similaritySearch(Seq("doc_id", "text"),
      "catalyst optimizer", 3)
    assert(fused.columns.toSeq === Seq("doc_id", "text", "rank"))
    val top = fused.select("doc_id").as[Long].collect()
    assert(top.nonEmpty && Set(1L, 3L).contains(top.head),
      s"keyword+vector fusion should surface a catalyst doc first: " +
        top.mkString(","))
  }

  test("exact kind keeps the original façade behavior byte-for-byte") {
    val idx = mkIndex("exact_compat", "exact")
    assert(idx.meta.kind === IndexKinds.Exact)
    val qv = queries.orderBy("vec_id").select("embedding")
      .head().getSeq[Float](0)
    val rows = idx.similaritySearch(Seq("vec_id"), qv, 5)
    assert(rows.columns.toSeq === Seq("vec_id", "score"))
    assert(rows.count() === 5)
  }
}
