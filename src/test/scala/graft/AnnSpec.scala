package graft

import graft.functions.Metric
import graft.search.{Ann, Knn}
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
  private lazy val corpus = emb.filter($"vec_id" >= 10)
  private lazy val queries = emb.filter($"vec_id" < 10)

  private lazy val exactTop3: Map[Long, Seq[Long]] =
    Knn.batchQuery(corpus, queries, "embedding", "vec_id", "embedding",
      "vec_id", k = 3, Metric.Cosine)
      .select("query_id", "rank", "vec_id").collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq)
      .toMap

  test("IVF with partial probe reaches recall >= 0.5") {
    // k-means over the whole corpus (sampleN >= its 490 rows), run to
    // its fixed point (the recall stops moving from 8 iterations on)
    val idx = Ann.buildIvfTrained(corpus, "embedding", "vec_id", k = 8,
      iters = 10, sampleN = 512)
    val r = Ann.queryIvf(idx, queries, "vec_id", "embedding", "vec_id",
      "embedding", k = 3, nProbe = 2, Metric.Cosine)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val recalls = exactTop3.map { case (q, exact) =>
      r.get(q).map(found => exact.count(found.contains).toDouble / exact.size)
        .getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall $mean too low")
  }

  test("deterministic-centroid IVF at full probe equals exact top-k") {
    val idx = Ann.buildIvfDeterministic(corpus, "embedding", "vec_id", k = 8)
    val r = Ann.queryIvf(idx, queries, "vec_id", "embedding", "vec_id",
      "embedding", k = 3, nProbe = 8, Metric.Cosine)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq)
      .toMap
    assert(r === exactTop3)
  }

  test("cell-balance guard splits hot cells below the skew cap") {
    // plant a pathological corpus: 200 identical vectors (one hot
    // cell) + the real corpus
    val hot = corpus.limit(1)
      .crossJoin(spark.range(200).select($"id".as("copy")))
      .select(($"vec_id" * 1000 + $"copy").as("vec_id"), $"embedding")
    val skewed = corpus.select($"vec_id", $"embedding").union(hot)
    val idx = Ann.buildIvfDeterministic(skewed, "embedding", "vec_id", k = 8)
    val maxBefore = Ann.cellStats(idx).agg(max("n")).head().getLong(0)
    val mean = Ann.cellStats(idx).agg(avg("n")).head().getDouble(0)
    // calibrate the skew cap to the fixture so the hottest cell is
    // guaranteed over it (cell occupancy depends on the fixture):
    // cap = half the hottest cell -> it must split in >= 2
    val maxSkew = maxBefore / mean / 2.0
    val balanced = Ann.balanceCells(idx, "vec_id", maxSkew = maxSkew)
    val n = balanced.corpusWithCell.count()
    assert(n === skewed.count(), "balancing must not drop rows")
    // physical task sizes now bounded: every (cell, subcell) group is
    // within the per-subcell target (hash split is probabilistic, allow
    // 1.6x slack), and strictly better than the unbalanced max
    val stats = balanced.corpusWithCell
      .groupBy("__cell", "__subcell").count().collect()
    val cap = maxSkew * mean * 1.6
    val maxAfter = stats.map(_.getAs[Long]("count")).max
    assert(maxAfter <= cap, s"subcell max $maxAfter exceeds cap $cap")
    assert(maxAfter < maxBefore, "hot cell must actually split")
    // semantics unchanged: the balanced index answers queries
    // identically to the unbalanced one (subcell is physical only)
    def ans(i: Ann.IvfIndex) =
      Ann.queryIvf(i, queries, "vec_id", "embedding", "vec_id",
        "embedding", k = 3, nProbe = 4, Metric.Cosine)
        .select("query_id", "rank", "vec_id")
        .collect().map(_.toString).sorted
    assert(ans(balanced) === ans(idx))
    // skew summary surfaced for describe-style observability
    val skewRow = Ann.cellSkew(idx).head()
    assert(skewRow.getAs[Long]("max_cell") === maxBefore &&
      skewRow.getAs[Double]("skew") > 1.0)
  }

  test("native sign-LSH: deterministic codes, ranked-by-cosine output, " +
    "useful recall") {
    val idx = Ann.buildSignLsh(corpus, "embedding", tables = 8, bits = 4)
    def run() = Ann.querySignLsh(idx, queries, "vec_id", "embedding",
      "vec_id", "embedding", k = 3).collect()
    val r1 = run()
    // pure function of the data: identical across runs (no seed state)
    assert(r1.map(_.toString).sorted === run().map(_.toString).sorted)
    // output is truly cosine-ranked within each query
    r1.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
      val scores = byRank.map(_.getAs[Double]("score"))
      assert(scores.sameElements(scores.sorted.reverse))
    }
    // candidate pruning keeps enough of the true top-k to be useful
    val got = r1.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val recalls = exactTop3.map { case (q, exact) =>
      got.get(q).map(f => exact.count(f.contains).toDouble / exact.size)
        .getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.2, s"mean recall $mean too low (8 tables x 4 bits)")
  }

  test("native BRP-LSH: deterministic buckets, L2-ranked output, " +
    "useful recall, near points co-bucket") {
    val idx = Ann.buildBrpLsh(corpus, "embedding", tables = 4,
      bucketLength = 0.5)
    def run() = Ann.queryBrpLsh(idx, queries, "vec_id", "embedding",
      "vec_id", "embedding", k = 3).collect()
    val r1 = run()
    // pure function of the data: identical across runs (no seed state)
    assert(r1.map(_.toString).sorted === run().map(_.toString).sorted)
    // output is truly L2-ranked within each query
    r1.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val scores = rows.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Double]("score"))
      assert(scores.sameElements(scores.sorted))
    }
    // candidate pruning keeps enough of the true L2 top-k to be useful
    val got = r1.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val exactL2 = Knn.batchQuery(corpus, queries, "embedding", "vec_id",
      "embedding", "vec_id", k = 3, Metric.L2)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val recalls = exactL2.map { case (q, exact) =>
      got.get(q).map(f => exact.count(f.contains).toDouble / exact.size)
        .getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.2, s"mean recall $mean too low (4 tables, L=0.5)")
    // locality: a vector trivially close to a corpus row shares at
    // least one bucket with it (projection difference << bucketLength)
    val probe = corpus.limit(1)
      .select($"vec_id", transform($"embedding", x => x + lit(1e-4f))
        .as("embedding"))
    val hit = Ann.queryBrpLsh(idx, probe, "vec_id", "embedding",
      "vec_id", "embedding", k = 1).collect()
    assert(hit.length === 1 &&
      hit.head.getAs[Long]("vec_id") === hit.head.getAs[Long]("query_id"),
      "an epsilon-perturbed corpus vector must find itself")
  }

  test("LSH candidates refine to high recall within distance budget") {
    val idx = Ann.buildLsh(corpus, "embedding", bucketLength = 2.0,
      numTables = 4)
    val r = Ann.queryLsh(idx, queries, "vec_id", "embedding", "vec_id",
      k = 3, maxDistance = 2.0)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    // L2-based LSH vs cosine exact: compare against l2 exact instead
    val exactL2 = Knn.batchQuery(corpus, queries, "embedding", "vec_id",
      "embedding", "vec_id", k = 3, Metric.L2)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val recalls = exactL2.map { case (q, exact) =>
      r.get(q).map(found => exact.count(found.contains).toDouble / exact.size)
        .getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall $mean too low")
  }

  test("recallAtK: perfect answers score 1.0, degraded index below 1.0") {
    // perfect: score the exact answers against themselves
    val exact = Knn.batchQueryAgg(corpus, queries, "embedding", "vec_id",
      "embedding", "vec_id", k = 5)
    val perfect = Ann.recallAtK(exact, corpus, queries, "vec_id",
      "embedding", "vec_id", "embedding", k = 5, sampleMod = 2L)
      .collect()
    assert(perfect.nonEmpty)
    assert(perfect.forall(_.getAs[Double]("recall") == 1.0),
      s"exact answers must score recall 1.0: ${perfect.mkString(",")}")
    assert(perfect.forall(r => r.getAs[Long]("query_id") % 2 == 0),
      "only parity-sampled queries are scored")
    // degraded: an index whose corpus lost every sampled query's true
    // rank-1 neighbor can hit at most (k-1)/k of the exact set
    val top1 = exact.filter(col("rank") === 1 && col("query_id") % 2 === 0)
      .select("vec_id").distinct().as[Long].collect().toSeq
    val crippled = Knn.batchQueryAgg(
      corpus.filter(!$"vec_id".isin(top1: _*)), queries, "embedding",
      "vec_id", "embedding", "vec_id", k = 5)
    val degraded = Ann.recallAtK(crippled, corpus, queries, "vec_id",
      "embedding", "vec_id", "embedding", k = 5, sampleMod = 2L)
      .collect()
    assert(degraded.forall(_.getAs[Double]("recall") <= 0.8),
      s"degraded index must lose its top-1 hit: ${degraded.mkString(",")}")
    assert(degraded.forall(r => r.getAs[Long]("n_exact") == 5L))
  }

  test("nearDupsAgainstSignLsh equals the in-memory bucket-collision set") {
    import java.nio.file.Files
    val path = Files.createTempDirectory("graft_ndvec").toString + "/idx"
    val index = Ann.buildSignLsh(corpus, "embedding", tables = 8, bits = 4)
    val persisted = Ann.persistSignLsh(index, "vec_id", "embedding", path)
    val got = Ann.nearDupsAgainstSignLsh(spark, persisted, queries,
        "vec_id", "embedding", "vec_id", "embedding", 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: same codes computed in memory, same collision rule
    import graft.functions.{SignLshFunctions, VectorFunctions => VF}
    val codesOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"vec_id", posexplode(SignLshFunctions
        .signLshCodes($"embedding", 8, 4)).as(Seq("t", "code")))
    val want = codesOf(corpus).toDF("c_id", "t", "code")
      .join(codesOf(queries).toDF("d_id", "t", "code"), Seq("t", "code"))
      .select("c_id", "d_id").distinct()
      .join(corpus.select($"vec_id".as("c_id"), $"embedding".as("cv")),
        Seq("c_id"))
      .join(queries.select($"vec_id".as("d_id"), $"embedding".as("dv")),
        Seq("d_id"))
      .filter(VF.cosine($"cv", $"dv") >= 0.25)
      .select("c_id", "d_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want && got.nonEmpty,
      s"got ${got.size} pairs, want ${want.size}")
    // the probe's partition predicate is bounded by the code space
    val plan = Ann.nearDupsAgainstSignLsh(spark, persisted, queries,
      "vec_id", "embedding", "vec_id", "embedding", 0.25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      s"delta probe must prune bucket dirs:\n${plan.take(2000)}")
  }

  test("trained centroids through the persisted layout: recall at " +
      "nProbe=1 is >= the deterministic first-k baseline") {
    // the quality claim behind buildIvfTrained, measured through the
    // DEPLOYABLE path (persistIvf + queryPersistedIvf) at the same
    // degraded probe budget for both codebooks; also measured at sf0.01
    // (0.16 vs 0.12) and sf0.1 (0.24 vs 0.24) via the oracle queries
    def meanRecall(name: String): Double =
      graft.queries.InfraQueries.queries(name)(spark, sf)
        .agg(avg("recall")).head().getDouble(0)
    val trained = meanRecall("ann_recall_ivf_trained")
    val det = meanRecall("ann_recall_probe")
    assert(trained >= det,
      s"trained recall $trained fell below deterministic baseline $det")
  }
}
