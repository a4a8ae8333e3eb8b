package graft.queries

import graft.core.Tables
import graft.embed.{HashProjectionEmbedder, HashingTfIdfEmbedder}
import graft.functions.Metric
import graft.index.{ChangeLog, IndexMeta, VectorIndex}
import graft.operators.Multimodal
import graft.search.{Ann, GraphAnn, Knn}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Index lifecycle, incremental sync, ANN, embedder and multimodal
  * coverage. Oracle-checked where DuckDB can express the semantics
  * (index build stats, sync merge results, multimodal metadata);
  * rows-only where the operator depends on JVM-side hashing or MLlib
  * fitting (ANN, embedders) — those get equivalence/recall assertions in
  * ScalaTest instead. */
object InfraQueries {

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private def tmpPath(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_idx/$name"

  // ---- shared read-only builds ([[BuildCache]] contract: keys carry
  // every build parameter; sync-style queries never use these) ----

  private def graphCorpus(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id") >= 5 && col("vec_id") < 1000)

  /** The [5,1000) exact m=6 graph the whole graph family walks — the
    * O(n²) edge build materializes once per JVM instead of once per
    * query. */
  private def sharedGraphExact(s: SparkSession,
      dir: String): GraphAnn.KnnGraph =
    BuildCache.memo(s"gexact:m6:$dir") {
      val g = GraphAnn.buildGraphExact(graphCorpus(s, dir), "embedding",
        "vec_id", m = 6)
      GraphAnn.KnnGraph(g.edges.localCheckpoint(true), g.m)
    }

  private def sharedEntryGraph(s: SparkSession,
      dir: String): GraphAnn.KnnGraph =
    BuildCache.memo(s"gentry:mod5:m1_4:$dir") {
      val g = GraphAnn.buildEntryGraphExact(graphCorpus(s, dir),
        "embedding", "vec_id", entryMod = 5L, m1 = 4)
      GraphAnn.KnnGraph(g.edges.localCheckpoint(true), g.m)
    }

  /** The read-only deterministic-IVF layout (corpus vec_id >= 5,
    * k = 16) shared by the persisted-IVF query cells that never
    * mutate it — build+persist once per JVM. */
  /** Shingle-token fixture shared by the PLAID cells (the
    * ann_maxsim_docs construction). */
  private def shingleToks(s: SparkSession, dir: String,
      lo: Long, hi: Long, queryWords: Int = 0): DataFrame = {
    import graft.functions.TextExpressions
    val d = Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
    val base =
      if (queryWords > 0)
        d.select(col("doc_id"), concat_ws(" ",
          slice(split(trim(col("text")), "\\s+"), 1, queryWords))
          .as("text"))
      else d.select(col("doc_id"), col("text"))
    base
      .select(col("doc_id"),
        explode(TextExpressions.wordShingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"), md5(col("sh")).as("ti"),
        TextExpressions.md5FeatureEmbed(col("sh"), 16).as("tv"))
  }

  /** ONE trained PLAID index (centroids + codebooks + coded tokens,
    * checkpointed) shared by all four plaid cells, plus the memoized
    * read-only persisted layout (the synced cell mutates its OWN
    * root instead). */
  private def sharedPlaid(s: SparkSession,
      dir: String): graft.search.Plaid.Index =
    BuildCache.memo(s"plaid:c8:$dir") {
      val idx = graft.search.Plaid.build(
        shingleToks(s, dir, 3L, 120L), "doc_id", "ti", "tv",
        graft.search.Plaid.Params(cells = 8, nProbe = 2, c = 4, m = 4,
          pqK = 8, iters = 2, sampleN = 64))
      idx.copy(coded = idx.coded.localCheckpoint(true))
    }

  private def sharedPersistedPlaid(s: SparkSession,
      dir: String): graft.search.Plaid.Persisted =
    BuildCache.memo(s"pplaid:$dir") {
      graft.search.Plaid.persist(sharedPlaid(s, dir),
        s"${System.getProperty("java.io.tmpdir")}/graft_plaid/" +
          dir.replaceAll("[^0-9.]", ""), docBuckets = 8)
    }

  /** The true multi-layer HNSW over the [5,1000) corpus: the shared
    * m=6 layer-0 graph plus two exact m=4 upper graphs over the
    * md5-geometric level pools (base 5). */
  private def sharedHnsw(s: SparkSession,
      dir: String): GraphAnn.HnswGraphs =
    BuildCache.memo(s"hnsw:b5:l2:$dir") {
      val uppers = (1 to 2).map { l =>
        val g = GraphAnn.buildGraphExact(
          graphCorpus(s, dir)
            .filter(GraphAnn.hnswLevelGate(col("vec_id"), 5, l)),
          "embedding", "vec_id", m = 4)
        GraphAnn.KnnGraph(g.edges.localCheckpoint(true), g.m)
      }
      GraphAnn.HnswGraphs(sharedGraphExact(s, dir), uppers, base = 5)
    }

  private def sharedPersistedIvf(s: SparkSession,
      dir: String): Ann.PersistedIvf =
    BuildCache.memo(s"pivf:k16:ge5:$dir") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_shared_pivf/" +
        dir.replaceAll("[^0-9.]", "")
      Ann.persistIvf(Ann.buildIvfDeterministic(
        emb(s, dir).filter(col("vec_id") >= 5), "embedding", "vec_id", 16),
        root)
      Ann.PersistedIvf(root)
    }

  private def sharedPersistedGraph(s: SparkSession,
      dir: String): GraphAnn.PersistedGraph =
    BuildCache.memo(s"pgraph:b16:$dir") {
      GraphAnn.persistGraph(sharedGraphExact(s, dir),
        s"${System.getProperty("java.io.tmpdir")}/graft_shared_pgraph/" +
          dir.replaceAll("[^0-9.]", ""), buckets = 16)
    }

  private def sharedPersistedLayered(s: SparkSession, dir: String)
      : (GraphAnn.PersistedGraph, GraphAnn.PersistedGraph) =
    BuildCache.memo(s"pglay:b8_4:$dir") {
      val root =
        s"${System.getProperty("java.io.tmpdir")}/graft_shared_pglay/" +
          dir.replaceAll("[^0-9.]", "")
      (GraphAnn.persistGraph(sharedGraphExact(s, dir), root, buckets = 8),
        GraphAnn.persistGraph(sharedEntryGraph(s, dir), root + "_entry",
          buckets = 4))
    }

  private def sharedSq8Stats(s: SparkSession,
      dir: String): graft.search.Sq8.Stats =
    BuildCache.memo(s"sq8stats:ge5:$dir") {
      graft.search.Sq8.fit(emb(s, dir).filter(col("vec_id") >= 5),
        "embedding")
    }

  private def sharedPersistedSq8(s: SparkSession,
      dir: String): graft.search.Sq8.PersistedSq8 =
    BuildCache.memo(s"psq8:ge5:$dir") {
      graft.search.Sq8.persist(emb(s, dir).filter(col("vec_id") >= 5),
        "embedding", "vec_id",
        s"${System.getProperty("java.io.tmpdir")}/graft_shared_psq8/" +
          dir.replaceAll("[^0-9.]", ""), sharedSq8Stats(s, dir))
    }

  private def sharedPersistedSignLsh(s: SparkSession,
      dir: String): Ann.PersistedSignLsh =
    BuildCache.memo(s"pslsh:t8b4:ge5:$dir") {
      Ann.persistSignLsh(
        Ann.buildSignLsh(emb(s, dir).filter(col("vec_id") >= 5),
          "embedding", tables = 8, bits = 4),
        "vec_id", "embedding",
        s"${System.getProperty("java.io.tmpdir")}/graft_shared_pslsh/" +
          dir.replaceAll("[^0-9.]", ""))
    }

  /** Deterministic CDF fixture over `documents`: insert every doc
    * (< 300, non-null text) at seq=id, update pk%5 at seq=1000+id with
    * a ' v2' payload, delete pk%7 at seq=2000+id. [[cdfJournalCte]] is
    * the byte-identical DuckDB derivation (`j(doc_id, text, op, seq)`). */
  private def cdfJournal(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 300 && col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val ins = base.select(col("doc_id"), col("text"),
      lit(ChangeLog.OpInsert).as("__op"), col("doc_id").as("__seq"))
    val upd = base.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
        lit(ChangeLog.OpUpdate).as("__op"),
        (col("doc_id") + 1000).as("__seq"))
    val del = base.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"), col("text"),
        lit(ChangeLog.OpDelete).as("__op"),
        (col("doc_id") + 2000).as("__seq"))
    ins.unionByName(upd).unionByName(del)
  }

  private def cdfJournalCte: String =
    """SELECT doc_id, text, 'I' AS op, CAST(doc_id AS BIGINT) AS seq
      |FROM documents WHERE doc_id < 300 AND text IS NOT NULL
      |UNION ALL
      |SELECT doc_id, text || ' v2', 'U', doc_id + 1000
      |FROM documents
      |WHERE doc_id < 300 AND text IS NOT NULL AND doc_id % 5 = 0
      |UNION ALL
      |SELECT doc_id, text, 'D', doc_id + 2000
      |FROM documents
      |WHERE doc_id < 300 AND text IS NOT NULL AND doc_id % 7 = 0""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Build a vector index (normalize + norm column + persist) and report
    // its stats — oracle checks rows/pks/avg pre-normalization norm.
    "index_build_stats" -> ((s, dir) => {
      val idx = new VectorIndex(IndexMeta("emb_idx", "vec_id", "embedding",
        64, Metric.Cosine, tmpPath(s"emb_idx_${dir.replaceAll("[^0-9.]", "")}")))
      idx.rebuild(emb(s, dir), buckets = 8)
      idx.read(s).agg(
        count(lit(1)).as("n"),
        countDistinct(col("vec_id")).as("n_pk"),
        round(avg("__norm"), 4).as("avg_norm"))
    }),
    // Incremental sync: upsert pks 0-4 with the vectors of 400-404,
    // delete pks 5-9; oracle reproduces the merge relationally.
    "index_sync_incremental" -> ((s, dir) => {
      val source = emb(s, dir).filter(col("vec_id") < 400)
      val idx = new VectorIndex(IndexMeta("sync_idx", "vec_id", "embedding",
        64, Metric.Cosine, tmpPath(s"sync_idx_${dir.replaceAll("[^0-9.]", "")}")))
      idx.rebuild(source)
      val upserts = emb(s, dir)
        .filter(col("vec_id").between(400, 404))
        .select((col("vec_id") - 400).as("vec_id"), col("embedding"),
          col("label"), lit(ChangeLog.OpUpdate).as("__op"),
          col("vec_id").as("__seq"))
      val deletes = emb(s, dir)
        .filter(col("vec_id").between(5, 9))
        .select(col("vec_id"), col("embedding"), col("label"),
          lit(ChangeLog.OpDelete).as("__op"),
          (col("vec_id") + 1000).as("__seq"))
      idx.sync(s, upserts.unionByName(deletes))
      idx.read(s).agg(
        count(lit(1)).as("n"),
        sum(col("vec_id")).as("sum_pk"),
        round(avg("__norm"), 4).as("avg_norm"))
    }),
    // Delta-style time travel over the CDF journal: a 3-phase journal
    // (inserts, ' v2' updates on pk%5, deletes on pk%7) folded to the
    // state at three sequence cutoffs. Each snapshot is ONE pk-keyed
    // window argmax — reconstruction cost does not grow with the
    // number of versions between. The oracle rebuilds the same
    // journal and folds every snapshot relationally.
    "cdf_time_travel" -> ((s, dir) => {
      val j = cdfJournal(s, dir)
      Seq(150L, 1999L, 3000L).map { asOf =>
        ChangeLog.stateAt(j, "doc_id", asOf)
          .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_id"),
            sum(length(col("text"))).as("sum_len"))
          .withColumn("snap_seq", lit(asOf))
      }.reduce(_.unionByName(_)).orderBy("snap_seq")
    }),
    // SCD Type-2 history off the same journal: every surviving change
    // as a [valid_from, valid_to) interval (lead per pk), deletes
    // close their predecessor and leave no current row. Row-level,
    // interval bounds and current flags hash-checked.
    "cdf_scd2" -> ((s, dir) => {
      ChangeLog.scd2(cdfJournal(s, dir), "doc_id")
        .select(col("doc_id"),
          col("__valid_from").cast("long").as("valid_from"),
          col("__valid_to").cast("long").as("valid_to"),
          col("__current").as("is_current"),
          length(col("text")).cast("long").as("text_len"))
        .orderBy("doc_id", "valid_from")
    }),
    // STREAMING SCD2 maintenance: the same journal delivered as three
    // seq-ordered micro-batches (inserts / updates / deletes) through
    // Scd2Stream.scd2Sync — per batch only CHANGED pks refold (open
    // row + batch through one lead window); the drained interval table
    // must equal the one-shot scd2 fold row for row, so both share one
    // oracle. The _meta max-seq sidecar makes replays no-ops.
    "cdf_scd2_stream" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val j = cdfJournal(s, dir)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_scd2str/" +
        dir.replaceAll("[^0-9.]", "")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true) // fresh replay
      DedupQueries.appendStamped(fs, j.filter(col("__seq") < 1000),
        s"$root/journal", 10000L)
      DedupQueries.appendStamped(fs,
        j.filter(col("__seq") >= 1000 && col("__seq") < 2000),
        s"$root/journal", 20000L)
      DedupQueries.appendStamped(fs, j.filter(col("__seq") >= 2000),
        s"$root/journal", 30000L)
      val stream = s.readStream.schema(j.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/journal")
      graft.streaming.Scd2Stream
        .scd2Sync(stream, "doc_id", s"$root/state", s"$root/ckpt")
        .awaitTermination()
      graft.streaming.Scd2Stream.read(s, s"$root/state")
        .select(col("doc_id"),
          col("__valid_from").cast("long").as("valid_from"),
          col("__valid_to").cast("long").as("valid_to"),
          col("__current").as("is_current"),
          length(col("text")).cast("long").as("text_len"))
        .orderBy("doc_id", "valid_from")
    }),
    // SCD2 consumption: enrich facts (3 probe sequences per pk) with
    // the dimension version valid at each — pk-equi join with the
    // interval bounds as a residual, LEFT so deleted/not-yet-created
    // versions surface as NULLs instead of vanishing.
    "cdf_scd2_enrich" -> ((s, dir) => {
      val iv = ChangeLog.scd2(cdfJournal(s, dir), "doc_id")
      val facts = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 40 && col("text").isNotNull)
        .select(col("doc_id"),
          explode(array(lit(500L), lit(1500L), lit(2500L)))
            .as("at_seq"))
      ChangeLog.enrichAsOf(facts, "doc_id", "at_seq", iv, Seq("text"))
        .select(col("doc_id"), col("at_seq"),
          length(col("text")).cast("long").as("text_len"),
          col("__valid_from").cast("long").as("valid_from"))
        .orderBy("doc_id", "at_seq")
    }),
    // As-of read OFF THE INTERVALS: the SCD2 table answers "state at
    // seq" with a pure range predicate (valid_from <= s < valid_to) —
    // no fold per timestamp. Must equal the stateAt(1999) leg of
    // cdf_time_travel; the oracle replays the interval read itself.
    "cdf_scd2_asof" -> ((s, dir) => {
      val asOf = 1999L
      ChangeLog.scd2(cdfJournal(s, dir), "doc_id")
        .filter(col("__valid_from") <= asOf &&
          (col("__valid_to").isNull || col("__valid_to") > asOf))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_id"),
          sum(length(col("text"))).as("sum_len"))
    }),
    // Journal compaction (Delta-checkpoint analog): fold history <=
    // 1500 into 'I'@1500 snapshot rows, keep the tail. Post-cut reads
    // must be IDENTICAL: the query folds state at 3000 on the
    // compacted journal next to the original, plus the row-count
    // shrink the maintenance op exists for.
    "cdf_compacted" -> ((s, dir) => {
      val j = cdfJournal(s, dir)
      val c = ChangeLog.compact(j, "doc_id", 1500L)
      def fold(df: org.apache.spark.sql.DataFrame, tag: String) =
        ChangeLog.stateAt(df, "doc_id", 3000L)
          .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_id"),
            sum(length(col("text"))).as("sum_len"))
          .withColumn("journal", lit(tag))
          .withColumn("journal_rows", lit(df.count()))
      fold(j, "original").unionByName(fold(c, "compacted"))
        .select(col("journal"), col("journal_rows"), col("n"),
          col("sum_id"), col("sum_len"))
        .orderBy("journal")
    }),
    // CDF net-diff read between snapshots 150 and 3000: the effective
    // op per changed pk RELATIVE to the older snapshot — in-window
    // create+delete pairs must vanish, in-window insert+update must
    // read as one insert. Row-level and hash-checked.
    "cdf_net_changes" -> ((s, dir) => {
      ChangeLog.netChanges(cdfJournal(s, dir), "doc_id", 150L, 3000L)
        .select(col("doc_id"), col("__op").as("op"),
          length(col("text")).cast("long").as("text_len"))
        .orderBy("doc_id")
    }),
    // Z-order clustering codes: the Morton interleave and the layout's
    // grid-cell id are pure integer arithmetic, so the oracle replays
    // every bit test. The pruning claim (a box query opens only its
    // intersecting cell dirs) is metric-asserted in ZOrderSpec —
    // engine internals, like the other persisted layouts.
    "layout_zorder" -> ((s, dir) => {
      import graft.index.ZOrder
      Tables.load(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(64)).as("a"),
          pmod(shiftright(col("doc_id"), 6), lit(64)).as("b"))
        .withColumn("z", ZOrder.morton2(col("a"), col("b"), 6).cast("long"))
        .withColumn("zc", ZOrder.zCell(col("a"), col("b"), 6, 2).cast("long"))
        .select(col("doc_id"), col("a").cast("long").as("a"),
          col("b").cast("long").as("b"), col("z"), col("zc"))
        .orderBy("doc_id")
    }),
    // Rank-binned z-cells for a SKEWED dimension: n_chars bins come
    // from value-rank cut points on a deterministic md5 sample (the
    // pplBuckets discipline applied to layout), the uniform dim from
    // plain top bits; the Morton cell rollup shows the balanced grid.
    // The oracle replays sample, all 7 cuts, per-row bins and the
    // interleave.
    "layout_zorder_ranked" -> ((s, dir) => {
      import graft.index.ZOrder
      val d = Tables.load(s, dir, "documents")
      val cuts = BuildCache.memo(s"zcuts:nchars:8:$dir") {
        ZOrder.rankCuts(d, "n_chars", "doc_id", nBins = 8,
          sampleRate = 0.5)
      }
      d.withColumn("ba", ZOrder.binByCuts(col("n_chars"), cuts))
        .withColumn("bb", shiftright(pmod(col("doc_id"), lit(64)), 3))
        .withColumn("cell", ZOrder.morton2(col("ba"), col("bb"), 3)
          .cast("long"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_id"))
        .orderBy("cell")
    }),
    // Referential-integrity audit between the doc corpus and its
    // embedding side table — the orphan check that gates an index
    // rebuild (docs with no vector / vectors with no doc). ONE
    // full-outer pk join; deterministic sub-ranges create orphans on
    // both sides so all three legs are exercised.
    "audit_referential" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .filter(col("doc_id") >= 20)
        .select(col("doc_id").as("id")).withColumn("__d", lit(1))
      val e = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 480)
        .select(col("vec_id").as("id")).withColumn("__e", lit(1))
      d.join(e, Seq("id"), "full_outer").agg(
        sum(when(col("__d").isNotNull && col("__e").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("__e").isNull, 1L).otherwise(0L))
          .as("n_docs_orphan"),
        sum(when(col("__d").isNull, 1L).otherwise(0L))
          .as("n_vecs_orphan"),
        sum(when(col("__e").isNull, col("id")).otherwise(0L))
          .as("orphan_id_sum"))
    }),
    // IVF ANN with REAL centroid pruning (nProbe=4 of 16), deterministic
    // centroids (first 16 corpus vectors by id) — the assignment, probe
    // and refine are all pure functions of the corpus, so the DuckDB
    // oracle replays the ENTIRE pruned path stage by stage and
    // hash-checks it. Trained-centroid IVF (buildIvfTrained, the
    // quality path) keeps its recall assertions in AnnSpec.
    "ann_ivf_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val index = Ann.buildIvfDeterministic(e.filter(col("vec_id") >= 5),
        "embedding", "vec_id", 16)
      Ann.queryIvf(index, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, nProbe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Shard-parallel build + file-move merge (FAISS merge_from for the
    // on-disk IVF): centroids picked once from the full corpus, the
    // corpus split into two pk-parity shards each built+persisted
    // independently (no global shuffle), then merged into one layout by
    // pure file renames — zero bytes rewritten. Cell assignment is a
    // per-row function of the shared centroids, so the merged layout
    // holds exactly the rows a single full build would and the query
    // result is hash-equal to ann_ivf_topk, whose oracle it reuses —
    // the 100-TB build path (train once, fan out shard builds, merge
    // with O(files) metadata ops) correctness-gated end to end.
    "ann_ivf_shard_merged" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val cents = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16).centroids
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfshard/" +
        dir.replaceAll("[^0-9.]", "")
      // independent shard builds run concurrently, as a cluster would
      val shardPaths = Seq(s"$root/shard0", s"$root/shard1")
      def buildShard(p: Int): Unit = Ann.persistIvf(Ann.buildIvfShard(
        corpus.filter(pmod(col("vec_id"), lit(2)) === p),
        "embedding", "vec_id", cents), shardPaths(p))
      graft.index.PartitionedLayout.inParallel(buildShard(0), buildShard(1))
      Ann.mergeIvfShards(s, shardPaths, s"$root/merged")
      Ann.queryPersistedIvf(s, Ann.PersistedIvf(s"$root/merged"),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, nProbe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Incremental IVF maintenance THROUGH the persisted layout: build
    // on a reduced corpus (vec_id >= 15), persist by cell, then sync a
    // change batch (insert 5..14, delete 20) — only the touched cell
    // dirs are rewritten (FAISS-style frozen centroids). The query that
    // follows runs on the synced on-disk index; the oracle rebuilds the
    // same frozen-centroid assignment over source+batch and replays the
    // nProbe query, so the whole delta path is hash-checked.
    "ann_ivf_synced" -> ((s, dir) => {
      import graft.index.ChangeLog
      val e = emb(s, dir)
      val initial = e.filter(col("vec_id") >= 15)
      val built = Ann.buildIvfDeterministic(initial, "embedding",
        "vec_id", 16)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfsync/" +
        dir.replaceAll("[^0-9.]", "")
      Ann.persistIvf(built, root)
      val changes = e.filter(col("vec_id") >= 5 && col("vec_id") < 15)
        .withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(1L))
        .unionByName(e.filter(col("vec_id") === 20)
          .withColumn("__op", lit(ChangeLog.OpDelete))
          .withColumn("__seq", lit(2L)))
      Ann.syncPersistedIvf(s, Ann.PersistedIvf(root), changes,
        "vec_id", "embedding")
      Ann.queryPersistedIvf(s, Ann.PersistedIvf(root),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, nProbe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // The same delta path THROUGH a balanceCells-split layout: hot
    // cells persist as (cell, subcell) dirs, the split map beside the
    // centroids re-derives delta sub-cells, and only touched sub-dirs
    // rewrite. Balancing is purely physical, so results are identical
    // to ann_ivf_synced and share its oracle — the hash check proves
    // the skew guard and incremental maintenance compose losslessly.
    "ann_ivf_synced_balanced" -> ((s, dir) => {
      import graft.index.ChangeLog
      val e = emb(s, dir)
      val initial = e.filter(col("vec_id") >= 15)
      val built = Ann.buildIvfDeterministic(initial, "embedding",
        "vec_id", 16)
      val balanced = Ann.balanceCells(built, "vec_id", maxSkew = 1.0)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfbal/" +
        dir.replaceAll("[^0-9.]", "")
      Ann.persistIvf(balanced, root)
      val changes = e.filter(col("vec_id") >= 5 && col("vec_id") < 15)
        .withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(1L))
        .unionByName(e.filter(col("vec_id") === 20)
          .withColumn("__op", lit(ChangeLog.OpDelete))
          .withColumn("__seq", lit(2L)))
      Ann.syncPersistedIvf(s, Ann.PersistedIvf(root), changes,
        "vec_id", "embedding")
      Ann.queryPersistedIvf(s, Ann.PersistedIvf(root),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, nProbe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // FILTERED ANN through the persisted IVF layout — the vector-store
    // `filters` parameter on the approximate path (the exact path is
    // knn_filtered): the label predicate lands on the cell-pruned scan
    // (row-group pushdown on top of partition pruning) and only
    // matching rows are ranked. The oracle replays the deterministic
    // probe with the same candidate-side filter.
    "ann_ivf_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      Ann.queryPersistedIvf(s, sharedPersistedIvf(s, dir),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, nProbe = 4,
          rowFilter = Some(col("label") === 1))
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // The persisted-IVF delta path driven by Structured Streaming: the
    // change journal is an append-only parquet dir drained with
    // Trigger.AvailableNow in bounded micro-batches (maxFilesPerTrigger
    // = 1), each handed to syncPersistedIvf — the reference's TRIGGERED
    // CDF pipeline, here targeting the on-disk ANN index directly. The
    // two journal files carry disjoint pks (insert 5..14 | delete 20),
    // so the final layout is batch-order-independent and identical to
    // the one-shot sync -> shares ann_ivf_synced's oracle.
    "ann_ivf_stream_synced" -> ((s, dir) => {
      import graft.index.ChangeLog
      val e = emb(s, dir)
      val initial = e.filter(col("vec_id") >= 15)
      val built = Ann.buildIvfDeterministic(initial, "embedding",
        "vec_id", 16)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfstr/" +
        dir.replaceAll("[^0-9.]", "")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true) // fresh replay
      Ann.persistIvf(built, s"$root/idx")
      val inserts = e.filter(col("vec_id") >= 5 && col("vec_id") < 15)
        .withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(1L))
      val dels = e.filter(col("vec_id") === 20)
        .withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(2L))
      inserts.coalesce(1).write.mode("append").parquet(s"$root/journal")
      dels.coalesce(1).write.mode("append").parquet(s"$root/journal")
      graft.streaming.IndexSync.layoutSyncOnce(s, s"$root/journal",
        inserts.schema, s"$root/ckpt",
        Map("maxFilesPerTrigger" -> "1")) { batch =>
        Ann.syncPersistedIvf(s, Ann.PersistedIvf(s"$root/idx"), batch,
          "vec_id", "embedding")
      }
      Ann.queryPersistedIvf(s, Ann.PersistedIvf(s"$root/idx"),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, nProbe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // IVF at full probe (nProbe = #cells) degrades to exact KNN by
    // construction — which makes THIS ann path oracle-checkable: the
    // DuckDB oracle is the plain batch-KNN SQL. Proves the
    // cell-join + refine machinery loses nothing when nothing is pruned.
    "ann_ivf_fullprobe" -> ((s, dir) => {
      val e = emb(s, dir)
      val index = Ann.buildIvfDeterministic(e.filter(col("vec_id") >= 5),
        "embedding", "vec_id", 16)
      Ann.queryIvf(index, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, nProbe = 16)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Recall telemetry on a deliberately DEGRADED index (nProbe=1 of
    // 16): recallAtK samples queries by id parity, runs exact cosine
    // top-5 on the sample only (bounded-heap batch KNN) and scores the
    // IVF answers against it — the production observability probe for
    // a drifting index, hash-checked end to end because both the index
    // replay and the exact side are pure functions of the corpus.
    "ann_recall_probe" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val index = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16)
      val answers = Ann.queryIvf(index, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, nProbe = 1)
      Ann.recallAtK(answers, corpus, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, sampleMod = 2L)
    }),
    // Rank-AWARE telemetry next to the recall probe: nDCG@5 of the
    // nProbe=2 IVF answers against the exact ordering (positional
    // gains k+1−r, log2 discounts, rank-sorted folds) — recall says
    // whether the right set came back, this says whether it came back
    // in order. Hash-checked end to end like ann_recall_probe.
    "ann_ndcg_probe" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val index = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16)
      val answers = Ann.queryIvf(index, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, nProbe = 2)
      Ann.ndcgAtK(answers, corpus, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, sampleMod = 2L)
    }),
    // Recall telemetry THROUGH the graph leg: the same recallAtK
    // operator composed over the most complex ANN path — graph
    // beam-search answers vs exact KNN on the deterministic query
    // sample. The oracle replays the full graph build + 3 hops (the
    // ann_graph_topk machinery) AND the exact sample side, then the
    // recall join — drift observability, hash-checked end to end.
    "ann_recall_graph" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5 && col("vec_id") < 1000)
      val queries = e.filter(col("vec_id") < 5)
      val graph = GraphAnn.buildGraphExact(corpus, "embedding", "vec_id",
        m = 6)
      val answers = GraphAnn.queryGraph(graph, corpus, queries,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 3, entries = 4, beam = 4, hops = 3, metric = Metric.L2,
        entryMod = 5L)
      Ann.recallAtK(answers, corpus, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 3, sampleMod = 2L, metric = Metric.L2)
    }),
    // Recall telemetry for the PQ leg — AND the measurement that makes
    // quantizer training evaluable: the SAME recallAtK probe over
    // first-k-rows codebooks ('firstk') and sampled-k-means codebooks
    // ('trained'), side by side in one result. The oracle replays both
    // codebook constructions (incl. the two unrolled Lloyd
    // iterations), both ADC pipelines and the exact side — quantizer
    // quality observability, hash-checked end to end.
    "ann_recall_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val cbF = graft.search.Pq.fit(corpus, "embedding", "vec_id",
        m = 16, k = 32)
      val cbT = graft.search.Pq.fitTrained(corpus, "embedding", "vec_id",
        m = 16, k = 32, iters = 2, sampleN = 128)
      def probe(cb: graft.search.Pq.Codebooks, v: String) = {
        val ans = graft.search.Pq.rerank(corpus, queries, "embedding",
          "vec_id", "embedding", "vec_id", k = 5, c = 2, cb)
        Ann.recallAtK(ans, corpus, queries, "vec_id", "embedding",
          "vec_id", "embedding", k = 5, sampleMod = 2L)
          .withColumn("variant", lit(v))
      }
      probe(cbF, "firstk").unionByName(probe(cbT, "trained"))
        .select(col("variant"), col("query_id"), col("n_exact"),
          col("n_hit"), col("recall"))
        .orderBy("variant", "query_id")
    }),
    // Quantizer-training effectiveness, measured on the training
    // objective itself: total/mean PQ assignment distortion (sum over
    // subspaces of the chosen centroid's integer L2^2) across the
    // WHOLE corpus, for first-k vs trained codebooks. k-means
    // minimizes exactly this; unlike per-query recall on a 5-query
    // sample, the corpus-wide objective is a high-signal gauge —
    // AnnSpec asserts trained < firstk on it. Hash-checked: the
    // oracle replays both codebooks and the per-row min-distance
    // assignment.
    "ann_pq_distortion" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 10)
      val cbF = graft.search.Pq.fit(corpus, "embedding", "vec_id",
        m = 16, k = 32)
      val cbT = graft.search.Pq.fitTrained(corpus, "embedding", "vec_id",
        m = 16, k = 32, iters = 2, sampleN = 128)
      def distortion(cb: graft.search.Pq.Codebooks, v: String) = corpus
        .withColumn("__dist", graft.search.Pq.adc(
          graft.search.Pq.encode(col("embedding"), cb),
          graft.search.Pq.intQuant(col("embedding")), cb))
        .agg(count(lit(1)).as("n"), sum("__dist").as("total_d2"),
          round(avg("__dist"), 2).as("avg_d2"))
        .withColumn("variant", lit(v))
      distortion(cbF, "firstk").unionByName(distortion(cbT, "trained"))
        .select(col("variant"), col("n"), col("total_d2"), col("avg_d2"))
        .orderBy("variant")
    }),
    // Recall telemetry for the SQ8 leg: byte-quantization loses
    // precision per dimension, so its coarse ranking drifts from exact
    // — this probe is the drift gauge, same recallAtK contract as the
    // IVF/graph probes.
    "ann_recall_sq8" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val stats = graft.search.Sq8.fit(corpus, "embedding")
      val ans = graft.search.Sq8.rerank(corpus, queries, "embedding",
        "vec_id", "embedding", "vec_id", k = 5, c = 2, stats)
      Ann.recallAtK(ans, corpus, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, sampleMod = 2L)
    }),
    // Recall telemetry for the sign-LSH leg: bucket collisions bound
    // the candidate set, so queries can under-fill below k — recall
    // here measures exactly that loss (the tables×bits trade), not
    // refine quality.
    "ann_recall_signlsh" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val index = Ann.buildSignLsh(corpus, "embedding", tables = 8,
        bits = 4)
      val ans = Ann.querySignLsh(index, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 5)
      Ann.recallAtK(ans, corpus, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, sampleMod = 2L)
    }),
    // Euclidean bucketed-projection LSH at REALISTIC parameters
    // (4 tables, bucketLength 0.5), re-expressed with the NATIVE
    // deterministic Rademacher projection (BrpLshBuckets) so the
    // bucket ids — floorDiv of an exact integer projection — replay
    // from md5() bits in SQL and the full candidate-join + refine path
    // is hash-checked. This retires the last no_oracle cell: the MLlib
    // BucketedRandomProjectionLSH leg (JVM-internal Gaussian
    // projections) stays covered by ann_lsh_fullcover (degenerate
    // parameters ≡ exact, hash-checked) and its recall ScalaTest.
    "ann_lsh_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val index = Ann.buildBrpLsh(e.filter(col("vec_id") >= 5), "embedding",
        tables = 4, bucketLength = 0.5)
      Ann.queryBrpLsh(index, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // LSH at FULL COVER: radius ⊇ every pair, and bucketLength so large
    // that each table's hash collapses to the SIGN of the random
    // projection — a pair can only be missed by disagreeing in all
    // numTables signs, P ≈ (θ/π)^32 ≈ 0 for any L2-close pair (and
    // deterministic under the pinned seed). Candidates ⊇ all relevant
    // pairs ⇒ output ≡ exact L2 batch-KNN, hash-checked against the
    // plain batch-KNN oracle. Same degeneracy template as
    // ann_ivf_fullprobe.
    "ann_lsh_fullcover" -> ((s, dir) => {
      val e = emb(s, dir)
      val index = Ann.buildLsh(e.filter(col("vec_id") >= 5), "embedding",
        bucketLength = 1e9, numTables = 32)
      Ann.queryLsh(index, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", k = 3, maxDistance = 1e9)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // End-to-end embed→search in the MD5 featurizer's auditable space:
    // the oracle rebuilds every doc's sparse integer vector from md5()
    // hex (byte 7 → dimension, bit 6 → sign), computes the same exact
    // integer dot/norms, and replays the cosine top-5 — so the full
    // embed∘knn composition is hash-checked. The xx-hash embedder path
    // keeps its parity assertions in EmbedderSpec.
    "embed_knn" -> ((s, dir) => {
      val embedder = new graft.embed.Md5FeatureEmbedder(64)
      val corpus = embedder.embed(docs(s, dir).filter(col("doc_id") < 200),
        "text")
      val qv = corpus.filter(col("doc_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Knn.singleQuery(corpus.filter(col("doc_id") =!= 0), "embedding",
          "doc_id", qv, k = 5, Metric.Cosine)
        .select(col("rank").cast("long").as("rnk"), col("doc_id"))
        .orderBy("rnk")
    }),
    // TF-IDF pipeline embedder smoke — rows-only (IDF fit is corpus-wide).
    "embed_tfidf_stats" -> ((s, dir) => {
      val embedder = new HashingTfIdfEmbedder(64)
      embedder.embed(docs(s, dir), "text")
        .agg(count(lit(1)).as("n"),
          sum(when(col("embedding").isNotNull, 1L).otherwise(0L))
            .as("n_embedded"),
          sum(size(col("embedding"))).as("sum_dims"))
    }),
    // Native deterministic sign-LSH ANN at REALISTIC parameters
    // (8 tables x 4-bit Rademacher hyperplane codes, no degeneracy):
    // codes are integer-exact functions of the vector, so the oracle
    // recomputes the identical buckets from md5() bits and replays the
    // candidate join + refine — the engine-owned answer to MLlib's
    // uncheckable random projections.
    "ann_signlsh_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val index = Ann.buildSignLsh(e.filter(col("vec_id") >= 5),
        "embedding", tables = 8, bits = 4)
      Ann.querySignLsh(index, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // The graph search THROUGH the persisted bucket-partitioned edge
    // layout: build, persistGraph (src mod 16 buckets), then
    // queryPersistedGraph — each hop collects its tiny frontier and
    // scans only those buckets' files. Results are identical to the
    // in-memory search by construction (PersistedLayoutSpec), so it
    // shares ann_graph_topk's oracle; what's exercised is the on-disk
    // pruned form.
    "ann_graph_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = graphCorpus(s, dir)
      val pg = sharedPersistedGraph(s, dir)
      GraphAnn.queryPersistedGraph(s, pg, corpus,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, entries = 4, beam = 4, hops = 3,
          metric = Metric.L2, entryMod = 5L)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // FILTERED graph ANN — the metadata-filter parameter on the graph
    // leg, completing the set (exact KNN, IVF, IVF-PQ already have
    // it). Standard filtered-HNSW contract: the beam WALK is
    // unfiltered (restricting traversal disconnects the graph under
    // selective predicates), only candidates matching the predicate
    // are ranked. The oracle replays the identical walk and applies
    // the label predicate at the final rank only.
    "ann_graph_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = graphCorpus(s, dir)
      val pg = sharedPersistedGraph(s, dir)
      GraphAnn.queryPersistedGraph(s, pg, corpus,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, entries = 4, beam = 4, hops = 3,
          metric = Metric.L2, entryMod = 5L,
          rowFilter = Some(col("label") === 1))
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // SQ8 rerank THROUGH the persisted two-file layout: the coarse
    // stage scans the byte-code file only (1 byte/dim — the 4x scan
    // win, on disk), vectors are joined back for the k*c survivors.
    // Identical results to the in-memory path (spec-asserted) -> shares
    // ann_sq8_rerank's oracle.
    "ann_sq8_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = sharedPersistedSq8(s, dir)
      graft.search.Sq8.rerankPersisted(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id",
          "vec_id", "embedding", k = 3, c = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Shard-parallel SQ8 build + file-move merge: the grid is fit ONCE
    // on the full corpus, two pk-parity shards encode+persist
    // independently, and the merge moves codes AND vector files by
    // renames. Codes are pure per-row functions of (vector, grid), so
    // the merged rerank is hash-equal to the direct SQ8 leg, whose
    // oracle this reuses.
    "ann_sq8_shard_merged" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val stats = sharedSq8Stats(s, dir)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_psq8_shard/" +
        dir.replaceAll("[^0-9.]", "")
      val shardPaths = Seq(s"$root/shard0", s"$root/shard1")
      def buildShard(p: Int): Unit = graft.search.Sq8.persist(
        corpus.filter(pmod(col("vec_id"), lit(2)) === p),
        "embedding", "vec_id", shardPaths(p), stats)
      graft.index.PartitionedLayout.inParallel(buildShard(0), buildShard(1))
      val merged = graft.search.Sq8.mergeShards(s, shardPaths,
        s"$root/merged", stats)
      graft.search.Sq8.rerankPersisted(s, merged,
          e.filter(col("vec_id") < 5), "embedding", "vec_id",
          "vec_id", "embedding", k = 3, c = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // CDF maintenance of the persisted SQ8 layout: quantization stats
    // FROZEN at build on [15,∞) (the frozen-centroid contract — new
    // vectors encode on the build-time grid), insert [5,15), delete
    // 20, rerank through the synced two-file layout. The oracle fits
    // stats on the INITIAL corpus only and replays encode → coarse →
    // refine over the live id set.
    "ann_sq8_synced" -> ((s, dir) => {
      import graft.index.ChangeLog
      val e = emb(s, dir)
      val initial = e.filter(col("vec_id") >= 15)
      val stats = graft.search.Sq8.fit(initial, "embedding")
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_psq8sync/" +
        dir.replaceAll("[^0-9.]", "")
      val idx = graft.search.Sq8.persist(initial, "embedding", "vec_id",
        root, stats)
      val changes = e.filter(col("vec_id") >= 5 && col("vec_id") < 15)
        .withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(1L))
        .unionByName(initial.filter(col("vec_id") === 20)
          .withColumn("__op", lit(ChangeLog.OpDelete))
          .withColumn("__seq", lit(2L)))
      graft.search.Sq8.syncPersistedSq8(s, idx, changes, "vec_id",
        "embedding")
      graft.search.Sq8.rerankPersisted(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id",
          "vec_id", "embedding", k = 3, c = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // FILTERED SQ8 rerank through the persisted layout: the label
    // predicate restricts candidates BEFORE the coarse k·c cut (a
    // post-coarse filter would starve the refine under selective
    // predicates) — the codes scan semi-joins eligible pks from the
    // vector file's filtered, column-pruned scan.
    "ann_sq8_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = sharedPersistedSq8(s, dir)
      graft.search.Sq8.rerankPersisted(s, idx,
          e.filter(col("vec_id") < 5), "embedding", "vec_id",
          "vec_id", "embedding", k = 3, c = 4,
          rowFilter = Some(col("label") === 1))
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // The reference's whole ingest story as ONE streaming pipeline:
    // readStream(graft_feed) → md5 embed → delta-sync per micro-batch
    // (3 bounded batches via maxRowsPerBatch admission control) → query
    // the resulting index. The oracle regenerates the deterministic
    // feed, replays the md5 feature-hash embedding, applies the SAME
    // zero-norm exclusion the index build applies, and aggregates —
    // so exactly-once delivery (no dup/missing rows across batches)
    // AND the embed-derived filter are both hash-checked. Ranking
    // equivalence of the streamed index is Spark-asserted in
    // FeedSyncSpec (stream ≡ batch rebuild, bit-identical vectors).
    "feed_stream_index" -> ((s, _) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_feedidx"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true) // fresh replay
      val index = new VectorIndex(IndexMeta("feed_stream_q", "id",
        "embedding", 64, Metric.Cosine, s"$root/idx"))
      val embedder = new graft.embed.Md5FeatureEmbedder(64)
      index.rebuild(embedder.transform(
        s.read.format("graft_feed").option("total", 100).load().limit(0),
        "summary"))
      graft.streaming.IndexSync.feedSyncOnce(s, index, embedder, "summary",
        Map("total" -> "300", "pageSize" -> "100",
          "maxRowsPerBatch" -> "100"), s"$root/ckpt")
      index.read(s).groupBy("category")
        .agg(count(lit(1)).as("n"), min("id").as("min_id"),
          max("id").as("max_id"))
        .orderBy("category")
    }),
    // The same sign-LSH search THROUGH the persisted (__t, __code)-
    // partitioned layout: build, persist (each bucket its own parquet
    // dir), query with partition pruning at the file listing. Results
    // are identical to the in-memory path by construction (spec-
    // asserted), so it shares ann_signlsh_topk's oracle SQL — what's
    // exercised here is the 100 TB on-disk form.
    "ann_signlsh_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val persisted = sharedPersistedSignLsh(s, dir)
      Ann.queryPersistedSignLsh(s, persisted, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Shard-parallel sign-LSH build + file-move merge: codes are a
    // pure per-row function of (vector, tables, bits), so two
    // pk-parity shards built+persisted independently union into
    // exactly the full build's layout — merged by renames (posting
    // dirs at depth 2, the _docs refine table at depth 1), zero bytes
    // rewritten. Query results are hash-equal to the direct
    // ann_signlsh_topk leg, whose oracle this reuses.
    "ann_signlsh_shard_merged" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pslsh_shard/" +
        dir.replaceAll("[^0-9.]", "")
      // the two shard builds are independent by construction — run them
      // concurrently, as a cluster would (each is its own code+write job)
      val shardPaths = Seq(s"$root/shard0", s"$root/shard1")
      def buildShard(p: Int): Unit = Ann.persistSignLsh(
        Ann.buildSignLsh(corpus.filter(pmod(col("vec_id"), lit(2)) === p),
          "embedding", tables = 8, bits = 4),
        "vec_id", "embedding", shardPaths(p))
      graft.index.PartitionedLayout.inParallel(buildShard(0), buildShard(1))
      val merged = Ann.mergeSignLshShards(s, shardPaths, s"$root/merged",
        tables = 8, bits = 4)
      Ann.queryPersistedSignLsh(s, merged, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // CDF maintenance of the persisted sign-LSH layout: build on
    // [15,∞), insert [5,15), delete 20, query the synced layout.
    // Bucket codes are a pure per-row function (no trained state), so
    // the synced layout ≡ a fresh build over the live corpus — the
    // oracle replays the plain sign-LSH search on the post-change id
    // set. Old bucket rows are located via the pk-hash _docs table;
    // only touched (table, code) dirs rewrite.
    "ann_signlsh_synced" -> ((s, dir) => {
      import graft.index.ChangeLog
      val e = emb(s, dir)
      val initial = e.filter(col("vec_id") >= 15)
      val index = Ann.buildSignLsh(initial, "embedding", tables = 8,
        bits = 4)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_pslsync/" +
        dir.replaceAll("[^0-9.]", "")
      val persisted = Ann.persistSignLsh(index, "vec_id", "embedding", path)
      val changes = e.filter(col("vec_id") >= 5 && col("vec_id") < 15)
        .withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(1L))
        .unionByName(initial.filter(col("vec_id") === 20)
          .withColumn("__op", lit(ChangeLog.OpDelete))
          .withColumn("__seq", lit(2L)))
      Ann.syncPersistedSignLsh(s, persisted, changes, "vec_id", "embedding")
      Ann.queryPersistedSignLsh(s, persisted, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // FILTERED sign-LSH through the persisted layout: the label
    // predicate lands ON the (table, code)-pruned scan (the layout now
    // carries metadata columns, the persistIvf discipline) and only
    // matching candidates are ranked — PRE-rank filtered-ANN
    // semantics, same contract as ann_ivf_filtered.
    "ann_signlsh_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val persisted = sharedPersistedSignLsh(s, dir)
      Ann.queryPersistedSignLsh(s, persisted, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 3,
          rowFilter = Some(col("label") === 1))
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // SQ8 quantized retrieve-then-rerank at REALISTIC parameters:
    // per-dim min/max fit on the corpus, byte codes, coarse top-12 by
    // exact INTEGER code dot (the 4x-cheaper scan), cosine refine on
    // survivors. Every stage is exact arithmetic, so the oracle
    // replays fit -> encode -> coarse -> refine with no degeneracy.
    "ann_sq8_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val stats = sharedSq8Stats(s, dir)
      graft.search.Sq8.rerank(corpus, e.filter(col("vec_id") < 5),
          "embedding", "vec_id", "embedding", "vec_id",
          k = 3, c = 4, stats)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Product quantization retrieve-then-rerank at REALISTIC
    // parameters: deterministic per-subspace codebooks (first 32
    // corpus rows by id — the buildIvfDeterministic trick), 16
    // subspaces x 4 dims, integer-quantized encode + ADC (floor(x*2^20)
    // like sign-LSH, so argmins and sums are order-free exact integer
    // math), coarse top-12 by ADC, cosine refine top-3. Every stage is
    // a pure function of the corpus -> the oracle replays fit, encode,
    // ADC and both rankings bit-exactly.
    "ann_pq_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val cb = graft.search.Pq.fit(corpus, "embedding", "vec_id",
        m = 16, k = 32)
      graft.search.Pq.rerank(corpus, e.filter(col("vec_id") < 5),
          "embedding", "vec_id", "embedding", "vec_id", k = 3, c = 4, cb)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // PQ with TRAINED codebooks: deterministic sampled k-means
    // (md5-ordered 128-row sample, 2 unrolled integer-Lloyd
    // iterations, floorDiv means) replaces the first-32-rows
    // codebooks — the quality path whose recall survives 100x scale.
    // Training is still a pure function of the corpus, so the oracle
    // replays the sample, BOTH Lloyd iterations, encode, ADC and the
    // refine bit-exactly.
    "ann_pq_trained_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val cb = graft.search.Pq.fitTrained(corpus, "embedding", "vec_id",
        m = 16, k = 32, iters = 2, sampleN = 128)
      graft.search.Pq.rerank(corpus, e.filter(col("vec_id") < 5),
          "embedding", "vec_id", "embedding", "vec_id", k = 3, c = 4, cb)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // IVF with TRAINED centroids: the same deterministic sampled
    // k-means over full vectors seeds the cells (16 centroids, 2
    // iterations); trained integer centroids are y/2^20 — exact in
    // Float32 — so the float centroid side the index carries replays
    // in double SQL arithmetic with no drift. Probe + refine as in
    // ann_ivf_topk.
    "ann_ivf_trained_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val index = Ann.buildIvfTrained(e.filter(col("vec_id") >= 5),
        "embedding", "vec_id", 16, iters = 2, sampleN = 128)
      Ann.queryIvf(index, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", "vec_id", "embedding", k = 3, nProbe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // TRAINED centroids through the PERSISTED layout's full delta path:
    // train on the initial corpus [15,∞), persist by cell (persistIvf
    // writes the trained centroids as the layout's frozen side file),
    // sync a change batch (insert [5,15), delete 20 — delta rows
    // assigned with the FROZEN trained centroids), query the synced
    // on-disk index. This is the deployment shape of the trained
    // quantizer: the oracle re-trains on the initial id set in SQL and
    // replays the frozen-centroid assignment over the live rows.
    "ann_ivf_trained_synced" -> ((s, dir) => {
      import graft.index.ChangeLog
      val e = emb(s, dir)
      val built = Ann.buildIvfTrained(e.filter(col("vec_id") >= 15),
        "embedding", "vec_id", 16, iters = 2, sampleN = 128)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivftr/" +
        dir.replaceAll("[^0-9.]", "")
      Ann.persistIvf(built, root)
      val changes = e.filter(col("vec_id") >= 5 && col("vec_id") < 15)
        .withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(1L))
        .unionByName(e.filter(col("vec_id") === 20)
          .withColumn("__op", lit(ChangeLog.OpDelete))
          .withColumn("__seq", lit(2L)))
      Ann.syncPersistedIvf(s, Ann.PersistedIvf(root), changes,
        "vec_id", "embedding")
      Ann.queryPersistedIvf(s, Ann.PersistedIvf(root),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, nProbe = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // TRAINED coarse centroids AND trained PQ codebooks through the
    // persisted IVF-PQ layout — the quality configuration a 100×-scale
    // deployment would actually persist (both quantizers k-means-
    // trained, both frozen in the layout's side files). The oracle
    // replays BOTH trainings (shared md5 sample, full-dim Lloyd for
    // the centroids, per-subspace Lloyd for the codebooks), the cell
    // assignment, the pruned ADC over probed cells only, and the
    // exact refine.
    "ann_ivfpq_trained_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val index = Ann.buildIvfTrained(corpus, "embedding", "vec_id", 16,
        iters = 2, sampleN = 128)
      val cb = graft.search.Pq.fitTrained(corpus, "embedding", "vec_id",
        m = 16, k = 32, iters = 2, sampleN = 128)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfpqtr/" +
        dir.replaceAll("[^0-9.]", "")
      val idx = graft.search.Pq.persistIvfPq(index, cb, "embedding", root)
      graft.search.Pq.queryPersistedIvfPq(s, idx,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, c = 4, nProbe = 4,
          metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Recall telemetry for the TRAINED persisted IVF at the same
    // degraded setting as ann_recall_probe (nProbe=1 of 16, k=5,
    // query sample by id parity) — the head-to-head that shows what
    // k-means centroids buy over the deterministic first-k codebooks
    // at equal probe budget (AnnSpec asserts trained ≥ deterministic
    // on the same data). Runs THROUGH the persisted layout, so the
    // wiring under test is the deployable one.
    "ann_recall_ivf_trained" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val built = Ann.buildIvfTrained(corpus, "embedding", "vec_id", 16,
        iters = 2, sampleN = 128)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfrtr/" +
        dir.replaceAll("[^0-9.]", "")
      Ann.persistIvf(built, root)
      val answers = Ann.queryPersistedIvf(s, Ann.PersistedIvf(root),
        queries, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nProbe = 1)
      Ann.recallAtK(answers, corpus, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, sampleMod = 2L)
    }),
    // IVF-PQ — the canonical two-level vector-store composition (the
    // FAISS IVFPQ architecture) at REALISTIC parameters: probe 4 of 16
    // deterministic cells, ADC-rank only the probed cells' PQ codes
    // (16 subspaces x 32-entry deterministic codebooks, integer
    // arithmetic), exact cosine refine on the top-12. Cell assignment,
    // probe, codebooks, encode and ADC are all pure functions of the
    // corpus -> the oracle replays the full three-prune pipeline.
    "ann_ivfpq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val index = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16)
      val cb = graft.search.Pq.fit(corpus, "embedding", "vec_id",
        m = 16, k = 32)
      graft.search.Pq.rerankOverIvf(index, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 3, c = 4,
          cb, nProbe = 4, metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Late-interaction MaxSim retrieval (ColBERT): docs and queries
    // as BAGS of per-token vectors, score = Σ per query token of the
    // max cosine over the doc's tokens — term-level interaction the
    // pooled ANN legs erase. Token fixture: each 64-dim embedding
    // splits into 8 tokens × 8 dims (deterministic, oracle-shared).
    // The plan is the PLAID two-stage shape: candidates from ONE
    // sign-LSH bucket equi-join (never an unguarded
    // queries × tokens × corpus product), exact MaxSim over the
    // candidate pairs only. The oracle replays token slicing, the
    // integer sign buckets, candidate generation, every double
    // cosine, the per-token max and the token-ordered sum.
    "ann_maxsim_topk" -> ((s, dir) => {
      import graft.search.MaxSim
      val e = emb(s, dir).filter(col("embedding").isNotNull)
      def toks(df: DataFrame) = df
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(7))).as("ti"),
          col("embedding"))
        .select(col("vec_id"), col("ti"),
          slice(col("embedding"), col("ti") * 8 + 1, lit(8)).as("tv"))
      MaxSim.topK(toks(e.filter(col("vec_id") >= 5)), "vec_id", "tv",
          toks(e.filter(col("vec_id") < 5)), "vec_id", "ti", "tv",
          k = 5, bits = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Recall telemetry for the MaxSim leg: late-interaction answers
    // scored against exact POOLED-vector cosine on the query sample —
    // the drift measurement that says how far per-token scoring pulls
    // the ranking from the single-vector truth (the reranker-review
    // telemetry every other retrieval leg already carries). Oracle =
    // the MaxSim replay + the pooled exact side + the recall join.
    "ann_recall_maxsim" -> ((s, dir) => {
      import graft.search.MaxSim
      val e = emb(s, dir).filter(col("embedding").isNotNull)
      val corpus = e.filter(col("vec_id") >= 5)
      val queries = e.filter(col("vec_id") < 5)
      def toks(df: DataFrame) = df
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(7))).as("ti"),
          col("embedding"))
        .select(col("vec_id"), col("ti"),
          slice(col("embedding"), col("ti") * 8 + 1, lit(8)).as("tv"))
      val ans = MaxSim.topK(toks(corpus), "vec_id", "tv", toks(queries),
        "vec_id", "ti", "tv", k = 5, bits = 4)
      Ann.recallAtK(ans, corpus, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, sampleMod = 2L)
    }),
    // Rank-aware MaxSim telemetry — nDCG against the pooled exact
    // order: recall says WHETHER the pooled top-k came back, nDCG
    // says whether late interaction returned it IN ORDER (a reversed
    // set scores recall 1.0 but low nDCG — the reranker-drift gauge).
    "ann_ndcg_maxsim" -> ((s, dir) => {
      import graft.search.MaxSim
      val e = emb(s, dir).filter(col("embedding").isNotNull)
      val corpus = e.filter(col("vec_id") >= 5)
      val queries = e.filter(col("vec_id") < 5)
      def toks(df: DataFrame) = df
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(7))).as("ti"),
          col("embedding"))
        .select(col("vec_id"), col("ti"),
          slice(col("embedding"), col("ti") * 8 + 1, lit(8)).as("tv"))
      val ans = MaxSim.topK(toks(corpus), "vec_id", "tv", toks(queries),
        "vec_id", "ti", "tv", k = 5, bits = 4)
      Ann.ndcgAtK(ans, corpus, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, sampleMod = 2L)
    }),
    // MaxSim THROUGH the persisted bucket-partitioned token layout:
    // candidate generation scans only the query tokens' bucket DIRS
    // (partition pruning at the file listing), the exact stage joins
    // candidate docs' FULL token sets back via the pk — identical
    // scores to the in-memory path by construction -> shares
    // ann_maxsim_topk's oracle.
    "ann_maxsim_persisted" -> ((s, dir) => {
      import graft.search.MaxSim
      val e = emb(s, dir).filter(col("embedding").isNotNull)
      def toks(df: DataFrame) = df
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(7))).as("ti"),
          col("embedding"))
        .select(col("vec_id"), col("ti"),
          slice(col("embedding"), col("ti") * 8 + 1, lit(8)).as("tv"))
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_ptoks/" +
        dir.replaceAll("[^0-9.]", "")
      val idx = MaxSim.persistTokens(toks(e.filter(col("vec_id") >= 5)),
        "vec_id", "tv", root, bits = 4)
      MaxSim.topKPersisted(s, idx, "vec_id",
          toks(e.filter(col("vec_id") < 5)), "vec_id", "ti", "tv", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // CDF maintenance of the persisted token layout: build on
    // [15,∞) with a STALE token bag for 15, then insert [5,15),
    // replace 15's bag, and delete+reinsert 20 — a doc's tokens
    // replace atomically (one nested-bag row per doc in the batch).
    // Sign buckets are a pure per-token function (no trained state),
    // so the synced layout ≡ a fresh build over the live corpus and
    // the cell shares ann_maxsim_topk's oracle string. Old token rows
    // are located via the pk-hash _docs twin (a lookup pruned to the
    // batch's pk dirs); only touched __b / __dbkt dirs rewrite.
    "ann_maxsim_synced" -> ((s, dir) => {
      import graft.search.MaxSim
      import graft.index.ChangeLog
      val e = emb(s, dir).filter(col("embedding").isNotNull)
      def toks(df: DataFrame) = df
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(7))).as("ti"),
          col("embedding"))
        .select(col("vec_id"), col("ti"),
          slice(col("embedding"), col("ti") * 8 + 1, lit(8)).as("tv"))
      def bags(df: DataFrame) = df
        .select(col("vec_id"),
          transform(sequence(lit(0), lit(7)),
            i => slice(col("embedding"), i * 8 + 1, lit(8))).as("toks"))
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_ptoksync/" +
        dir.replaceAll("[^0-9.]", "")
      // build corpus: [15,∞) with vec 15's bag REVERSED (stale)
      val build = e.filter(col("vec_id") >= 15)
        .withColumn("embedding",
          when(col("vec_id") === 15, reverse(col("embedding")))
            .otherwise(col("embedding")))
      val idx = MaxSim.persistTokens(toks(build), "vec_id", "tv", root,
        bits = 4)
      val changes = bags(e.filter(col("vec_id") >= 5 && col("vec_id") < 15))
        .withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(1L))
        .unionByName(bags(e.filter(col("vec_id") === 15))
          .withColumn("__op", lit(ChangeLog.OpUpdate))
          .withColumn("__seq", lit(2L)))
        .unionByName(bags(e.filter(col("vec_id") === 20))
          .withColumn("__op", lit(ChangeLog.OpDelete))
          .withColumn("__seq", lit(2L)))
        .unionByName(bags(e.filter(col("vec_id") === 20))
          .withColumn("__op", lit(ChangeLog.OpInsert))
          .withColumn("__seq", lit(3L)))
      MaxSim.syncPersistedTokens(s, idx, changes, "vec_id", "toks")
      MaxSim.topKPersisted(s, idx, "vec_id",
          toks(e.filter(col("vec_id") < 5)), "vec_id", "ti", "tv", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // MaxSim over REAL multi-token documents: per-doc token vectors
    // are md5-feature-hash embeddings of the doc's distinct 3-word
    // shingles (the WordShingles × Md5FeatureHashEmbed chain — both
    // cross-engine byte-exact), queries are the first five words of
    // docs 0-2 (3 shingle tokens each), so the sign-LSH stage-1 join
    // prunes to a few of 16 buckets instead of degenerating the way
    // uniform embedding slices do. Token order for the score fold is
    // the shingle's md5 hex (ASCII — identical collation on any
    // engine). The oracle replays shingling, every per-word hash
    // contribution, the 16-dim vectors, integer sign buckets,
    // candidate generation and the exact MaxSim chain.
    "ann_maxsim_docs" -> ((s, dir) => {
      import graft.search.MaxSim
      import graft.functions.TextExpressions
      val d = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
      val corpus = d.filter(col("doc_id") >= 3 && col("doc_id") < 120)
        .select(col("doc_id"), col("text"))
      val queries = d.filter(col("doc_id") < 3)
        .select(col("doc_id"),
          concat_ws(" ",
            slice(split(trim(col("text")), "\\s+"), 1, 5)).as("text"))
      def toks(df: DataFrame) = df
        .select(col("doc_id"),
          explode(TextExpressions.wordShingles(col("text"), 3)).as("sh"))
        .select(col("doc_id"), md5(col("sh")).as("ti"),
          TextExpressions.md5FeatureEmbed(col("sh"), 16).as("tv"))
      MaxSim.topK(toks(corpus), "doc_id", "tv", toks(queries),
          "doc_id", "ti", "tv", k = 5, bits = 4)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("doc_id"))
        .orderBy("query_id", "rnk")
    }),
    // The shingle-token retrieval THROUGH the persisted layout with a
    // CDF round-trip on top: build WITHOUT docs [3, 10) and with a
    // STALE bag for doc 10 (its shingles reversed word-wise via a
    // reversed text), then sync-insert [3, 10) token bags and replace
    // doc 10's — the final layout must answer exactly like the
    // in-memory chain over the true corpus, so the cell shares
    // ann_maxsim_docs' oracle. Clustered real tokens exercise BOTH
    // new layout paths (pruned candidate fetch via the _docs twin,
    // bag-atomic sync) where stage-1 pruning is non-degenerate.
    "ann_maxsim_docs_synced" -> ((s, dir) => {
      import graft.search.MaxSim
      import graft.index.ChangeLog
      import graft.functions.TextExpressions
      val d = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
      val corpus = d.filter(col("doc_id") >= 3 && col("doc_id") < 120)
        .select(col("doc_id"), col("text"))
      val queries = d.filter(col("doc_id") < 3)
        .select(col("doc_id"),
          concat_ws(" ",
            slice(split(trim(col("text")), "\\s+"), 1, 5)).as("text"))
      def toks(df: DataFrame) = df
        .select(col("doc_id"),
          explode(TextExpressions.wordShingles(col("text"), 3)).as("sh"))
        .select(col("doc_id"), md5(col("sh")).as("ti"),
          TextExpressions.md5FeatureEmbed(col("sh"), 16).as("tv"))
      def bags(df: DataFrame) = df
        .select(col("doc_id"),
          TextExpressions.wordShingles(col("text"), 3).as("shs"))
        .select(col("doc_id"),
          transform(col("shs"),
            sh => TextExpressions.md5FeatureEmbed(sh, 16)).as("toks"))
      val root = s"${System.getProperty("java.io.tmpdir")}" +
        "/graft_ptokdocs/" + dir.replaceAll("[^0-9.]", "")
      val build = corpus.filter(col("doc_id") >= 10)
        .withColumn("text",
          when(col("doc_id") === 10,
            concat_ws(" ", reverse(split(trim(col("text")), "\\s+"))))
            .otherwise(col("text")))
      val idx = MaxSim.persistTokens(toks(build), "doc_id", "tv", root,
        bits = 4)
      val changes = bags(corpus.filter(col("doc_id") < 10))
        .withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(1L))
        .unionByName(bags(corpus.filter(col("doc_id") === 10))
          .withColumn("__op", lit(ChangeLog.OpUpdate))
          .withColumn("__seq", lit(2L)))
      MaxSim.syncPersistedTokens(s, idx, changes, "doc_id", "toks")
      MaxSim.topKPersisted(s, idx, "doc_id", toks(queries), "doc_id",
          "ti", "tv", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("doc_id"))
        .orderBy("query_id", "rnk")
    }),
    // Pruning-recall telemetry for the shingle-token MaxSim leg: the
    // bits=4 bucket-pruned top-5 measured against the bits=0 BRUTE
    // FORCE MaxSim ground truth on sampled queries — the direct
    // answer to "does stage-1 pruning hold recall on clustered real
    // tokens?" (pruning only ever removes candidates; a recall below
    // 1 means a true top-5 doc shared no sign bucket with any query
    // token). Both MaxSim chains and the recall join replay in the
    // oracle.
    "ann_recall_maxsim_docs" -> ((s, dir) => {
      import graft.search.MaxSim
      import graft.functions.TextExpressions
      val d = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
      val corpus = d.filter(col("doc_id") >= 3 && col("doc_id") < 120)
        .select(col("doc_id"), col("text"))
      val queries = d.filter(col("doc_id") < 3)
        .select(col("doc_id"),
          concat_ws(" ",
            slice(split(trim(col("text")), "\\s+"), 1, 5)).as("text"))
      def toks(df: DataFrame) = df
        .select(col("doc_id"),
          explode(TextExpressions.wordShingles(col("text"), 3)).as("sh"))
        .select(col("doc_id"), md5(col("sh")).as("ti"),
          TextExpressions.md5FeatureEmbed(col("sh"), 16).as("tv"))
      def leg(bits: Int) = MaxSim.topK(toks(corpus), "doc_id", "tv",
          toks(queries), "doc_id", "ti", "tv", k = 5, bits = bits)
        .filter(col("query_id") % 2 === 0)
        .select(col("query_id"), col("doc_id"))
      val pruned = leg(4).withColumn("__hit", lit(1))
      leg(0).join(pruned, Seq("query_id", "doc_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0))).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 4))
        .orderBy("query_id")
    }),
    // RESIDUAL IVF-PQ — the FAISS IVFPQ true form: the fine quantizer
    // encodes x − centroid(cell), not x, so the codebook describes
    // the tight within-cell displacement distribution instead of the
    // whole corpus spread — the accuracy source of coarse+fine
    // quantization at EQUAL code bytes (same m=16 subspaces × 32
    // entries as ann_ivfpq_topk). Residuals subtract AFTER integer
    // quantization (exact long arithmetic), the query side residuals
    // against each PROBED cell's centroid, and the same-cell ADC join
    // Centroid-routed MaxSim — the PLAID form (Santhanam et al., CIKM
    // 2022): trained IVF centroids over the shingle-token table route
    // each query token to nProbe=2 of 8 cells; candidates score by
    // ADC over m=4 × pqK=8 residual codes (matched-token count DESC,
    // Σ min-ADC ASC); the top k·c survivors get the exact MaxSim
    // refine. The oracle replays the md5-ordered token sample, both
    // integer Lloyd iterations, cell assignment, first-8 residual
    // codebooks, encode, the per-(query-token, cell) residual ADC,
    // candidate selection and the exact chain.
    "ann_maxsim_plaid" -> ((s, dir) => {
      import graft.search.Plaid
      Plaid.topK(sharedPlaid(s, dir), "doc_id",
          shingleToks(s, dir, 0L, 3L, queryWords = 5), "doc_id", "ti",
          "tv", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("doc_id"))
        .orderBy("query_id", "rnk")
    }),
    // The PLAID chain THROUGH the persisted cell-partitioned layout:
    // stage 1+2 scan only the probed cells' dirs of the coded token
    // store, the exact refine fetches candidate docs' bags from the
    // pk-hash _docs twin — identical answers by construction, shares
    // ann_maxsim_plaid's oracle (PlaidSpec pins the numFiles pruning).
    "ann_maxsim_plaid_persisted" -> ((s, dir) => {
      import graft.search.Plaid
      Plaid.topKPersisted(s, sharedPersistedPlaid(s, dir), "doc_id",
          shingleToks(s, dir, 0L, 3L, queryWords = 5), "doc_id", "ti",
          "tv", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("doc_id"))
        .orderBy("query_id", "rnk")
    }),
    // CDF maintenance of the PLAID layout under the frozen-quantizer
    // contract: delete docs [20,40) then reinsert their true bags,
    // plus a stale-bag update on doc 5 that loses LWW to its true bag
    // — the synced layout must land exactly the untouched build's
    // rows (cells and codes are pure functions of the frozen
    // quantizers), so the cell shares ann_maxsim_plaid's oracle. Old
    // cells are rediscovered by re-assigning the _docs vectors; only
    // touched __cell / __dbkt dirs rewrite, _docs in the crash-safe
    // two-phase protocol.
    "ann_maxsim_plaid_synced" -> ((s, dir) => {
      import graft.search.Plaid
      import graft.index.ChangeLog
      import graft.functions.TextExpressions
      val d = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
      val corpus = d.filter(col("doc_id") >= 3 && col("doc_id") < 120)
        .select(col("doc_id"), col("text"))
      def bags(df: DataFrame) = df
        .select(col("doc_id"),
          TextExpressions.wordShingles(col("text"), 3).as("shs"))
        .select(col("doc_id"),
          transform(col("shs"),
            sh => TextExpressions.md5FeatureEmbed(sh, 16)).as("toks"))
      val root = s"${System.getProperty("java.io.tmpdir")}" +
        "/graft_plaidsync/" + dir.replaceAll("[^0-9.]", "")
      val p = Plaid.persist(sharedPlaid(s, dir), root, docBuckets = 8)
      val victims = corpus.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      val staleFive = corpus.filter(col("doc_id") === 5)
        .withColumn("text",
          concat_ws(" ", reverse(split(trim(col("text")), "\\s+"))))
      val changes = bags(victims)
        .withColumn("__op", lit(ChangeLog.OpDelete))
        .withColumn("__seq", lit(1L))
        .unionByName(bags(victims)
          .withColumn("__op", lit(ChangeLog.OpInsert))
          .withColumn("__seq", lit(2L)))
        .unionByName(bags(staleFive)
          .withColumn("__op", lit(ChangeLog.OpUpdate))
          .withColumn("__seq", lit(1L)))
        .unionByName(bags(corpus.filter(col("doc_id") === 5))
          .withColumn("__op", lit(ChangeLog.OpUpdate))
          .withColumn("__seq", lit(2L)))
      Plaid.syncPersisted(s, p, changes, "doc_id", "toks")
      Plaid.topKPersisted(s, p, "doc_id",
          shingleToks(s, dir, 0L, 3L, queryWords = 5), "doc_id", "ti",
          "tv", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("doc_id"))
        .orderBy("query_id", "rnk")
    }),
    // Pruning-recall telemetry for the PLAID leg: the routed+ADC
    // top-5 measured against the bits=0 brute-force exact MaxSim on
    // sampled queries — the head-to-head that says what the trained
    // route keeps vs the sign-LSH stage 1 (ann_recall_maxsim_docs) at
    // the same k. Both chains and the recall join replay.
    "ann_recall_maxsim_plaid" -> ((s, dir) => {
      import graft.search.{MaxSim, Plaid}
      val qToks = shingleToks(s, dir, 0L, 3L, queryWords = 5)
      val pruned = Plaid.topK(sharedPlaid(s, dir), "doc_id", qToks,
          "doc_id", "ti", "tv", k = 5)
        .filter(col("query_id") % 2 === 0)
        .select(col("query_id"), col("doc_id"))
        .withColumn("__hit", lit(1))
      val exact = MaxSim.topK(shingleToks(s, dir, 3L, 120L), "doc_id",
          "tv", qToks, "doc_id", "ti", "tv", k = 5, bits = 0)
        .filter(col("query_id") % 2 === 0)
        .select(col("query_id"), col("doc_id"))
      exact.join(pruned, Seq("query_id", "doc_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0))).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 4))
        .orderBy("query_id")
    }),
    // adds the centroid term back implicitly. The oracle replays cell
    // assignment, integer residuals, residual codebooks, encode, the
    // per-(query, cell) ADC tables and the exact refine.
    "ann_ivfpq_residual" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val index = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16)
      val cb = graft.search.Pq.fitResidual(index, "embedding", "vec_id",
        m = 16, k = 32)
      graft.search.Pq.rerankOverIvfResidual(index,
          e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id",
          "embedding", k = 3, c = 4, cb, nProbe = 4,
          metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // TRAINED residual IVF-PQ — the configuration FAISS actually
    // ships at scale: deterministic coarse cells + residual codebooks
    // k-means-trained on the md5-ordered residual sample (two
    // unrolled integer Lloyd iterations). The oracle replays cell
    // assignment, integer residuals, the sample, BOTH Lloyd
    // iterations per subspace, the residual encode, the per-(query,
    // cell) ADC tables and the exact refine.
    "ann_ivfpq_residual_trained" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val index = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16)
      val cb = graft.search.Pq.fitResidualTrained(index, "embedding",
        "vec_id", m = 16, k = 32, iters = 2, sampleN = 128)
      graft.search.Pq.rerankOverIvfResidual(index,
          e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id",
          "embedding", k = 3, c = 4, cb, nProbe = 4,
          metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // The equal-bytes distortion head-to-head: full-vector
    // reconstruction distortion (for the residual path,
    // ‖q(x) − (q(c) + decode)‖² = the residual ADC distance — exact
    // by the integer-domain residual identity) summed over the whole
    // corpus, raw vs residual codebooks at identical m/k. On THIS
    // fixture the synthetic embeddings are high-dim uniform, so the
    // 16-cell coarse quantizer barely contracts distances and
    // residuals are MORE spread than raw vectors (≈2× variance —
    // the textbook failure mode of IVF on unclustered data); the
    // cell is the telemetry that would surface that in production.
    // PqSpec pins the CLUSTERED-data case, where residual encoding
    // wins by an order of magnitude at equal bytes.
    "ann_pq_residual_distortion" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val index = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16)
      val cbRaw = graft.search.Pq.fit(corpus, "embedding", "vec_id",
        m = 16, k = 32)
      val cbRes = graft.search.Pq.fitResidual(index, "embedding",
        "vec_id", m = 16, k = 32)
      val raw = corpus
        .withColumn("__dist", graft.search.Pq.adc(
          graft.search.Pq.encode(col("embedding"), cbRaw),
          graft.search.Pq.intQuant(col("embedding")), cbRaw))
        .agg(count(lit(1)).as("n"), sum("__dist").as("total_d2"),
          round(avg("__dist"), 2).as("avg_d2"))
        .withColumn("variant", lit("raw"))
      val resid = index.corpusWithCell
        .join(broadcast(index.centroids), Seq("__cell"))
        .withColumn("__ri", graft.search.Pq.residualInt(
          col("embedding"), col("__centroid")))
        .withColumn("__dist", graft.search.Pq.adc(
          graft.search.Pq.encode(col("__ri"), cbRes), col("__ri"), cbRes))
        .agg(count(lit(1)).as("n"), sum("__dist").as("total_d2"),
          round(avg("__dist"), 2).as("avg_d2"))
        .withColumn("variant", lit("residual"))
      raw.unionByName(resid)
        .select("variant", "n", "total_d2", "avg_d2")
        .orderBy("variant")
    }),
    // IVF-PQ THROUGH the persisted cell-partitioned layout: one parquet
    // layout holds (pk, vector, codes); the coarse ADC stage's scan
    // reads ONLY the code column of the probed cell dirs (columnar
    // pruning x partition pruning — the two 100 TB wins composed) and
    // the refine joins the vector column back for the k*c survivors.
    // Identical results to rerankOverIvf by construction (spec-
    // asserted) -> shares ann_ivfpq_topk's oracle.
    "ann_ivfpq_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val index = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16)
      val cb = graft.search.Pq.fit(corpus, "embedding", "vec_id",
        m = 16, k = 32)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfpq/" +
        dir.replaceAll("[^0-9.]", "")
      val idx = graft.search.Pq.persistIvfPq(index, cb, "embedding", root)
      graft.search.Pq.queryPersistedIvfPq(s, idx,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, c = 4, nProbe = 4,
          metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Shard-parallel IVF-PQ build + file-move merge — the quantized
    // completion of the shard family: centroids AND codebooks trained
    // once on the full corpus, two pk-parity shards assigned+encoded
    // independently, cell dirs merged by renames with centroid and
    // codebook equality guards. Hash-equal to the direct IVF-PQ leg,
    // whose oracle this reuses.
    "ann_ivfpq_shard_merged" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val cents = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16).centroids
      val cb = graft.search.Pq.fit(corpus, "embedding", "vec_id",
        m = 16, k = 32)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfpq_sh/" +
        dir.replaceAll("[^0-9.]", "")
      val shardPaths = Seq(s"$root/shard0", s"$root/shard1")
      def buildShard(p: Int): Unit = graft.search.Pq.persistIvfPq(
        Ann.buildIvfShard(corpus.filter(pmod(col("vec_id"), lit(2)) === p),
          "embedding", "vec_id", cents),
        cb, "embedding", shardPaths(p))
      graft.index.PartitionedLayout.inParallel(buildShard(0), buildShard(1))
      val merged = graft.search.Pq.mergeIvfPqShards(s, shardPaths,
        s"$root/merged")
      graft.search.Pq.queryPersistedIvfPq(s, merged,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, c = 4, nProbe = 4,
          metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // CDF maintenance of the persisted IVF-PQ layout under the frozen
    // centroid + codebook contract: delete ten docs (their cell dirs
    // rewrite without them), then re-insert them from the source in a
    // second batch (encoded with the PERSISTED codebooks, assigned
    // with the PERSISTED centroids). The final index must be
    // bit-identical to the never-touched build -> shares
    // ann_ivfpq_topk's oracle; the hash check proves delete + insert
    // round-trip losslessly through the delta path. True delete
    // semantics (rows physically gone between batches) are asserted in
    // PersistedIvfSpec.
    "ann_ivfpq_synced" -> ((s, dir) => {
      import graft.index.ChangeLog
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val index = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16)
      val cb = graft.search.Pq.fit(corpus, "embedding", "vec_id",
        m = 16, k = 32)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfpqs/" +
        dir.replaceAll("[^0-9.]", "")
      val idx = graft.search.Pq.persistIvfPq(index, cb, "embedding", root)
      val victims = corpus.filter(col("vec_id") >= 20 && col("vec_id") < 30)
      graft.search.Pq.syncPersistedIvfPq(s, idx,
        victims.withColumn("__op", lit(ChangeLog.OpDelete))
          .withColumn("__seq", lit(1L)),
        "vec_id", "embedding")
      graft.search.Pq.syncPersistedIvfPq(s, idx,
        victims.withColumn("__op", lit(ChangeLog.OpInsert))
          .withColumn("__seq", lit(2L)),
        "vec_id", "embedding")
      graft.search.Pq.queryPersistedIvfPq(s, idx,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, c = 4, nProbe = 4,
          metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Residual IVF-PQ THROUGH the persisted layout: codes persist
    // residual-encoded, the codebook side file carries the
    // `__residual` marker, and queryPersistedIvfPq SELF-DESCRIBES —
    // it reads the marker and quantizes the query against each
    // probed cell's centroid. Identical results to
    // rerankOverIvfResidual by construction -> shares
    // ann_ivfpq_residual's oracle.
    "ann_ivfpq_residual_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val index = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16)
      val cb = graft.search.Pq.fitResidual(index, "embedding", "vec_id",
        m = 16, k = 32)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfpqr/" +
        dir.replaceAll("[^0-9.]", "")
      val idx = graft.search.Pq.persistIvfPqResidual(index, cb,
        "embedding", root)
      graft.search.Pq.queryPersistedIvfPq(s, idx,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, c = 4, nProbe = 4,
          metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // CDF maintenance of the RESIDUAL layout under the frozen
    // centroid + codebook contract: the sync path reads the marker,
    // assigns each change row's cell with the persisted centroids
    // (the same deterministic argmin the downstream merge performs)
    // and re-encodes the residual against it. Delete ten, re-insert
    // them -> the layout must be bit-identical to the untouched
    // build, so the cell shares ann_ivfpq_residual's oracle.
    "ann_ivfpq_residual_synced" -> ((s, dir) => {
      import graft.index.ChangeLog
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val index = Ann.buildIvfDeterministic(corpus, "embedding",
        "vec_id", 16)
      val cb = graft.search.Pq.fitResidual(index, "embedding", "vec_id",
        m = 16, k = 32)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pivfpqrs/" +
        dir.replaceAll("[^0-9.]", "")
      val idx = graft.search.Pq.persistIvfPqResidual(index, cb,
        "embedding", root)
      val victims = corpus.filter(col("vec_id") >= 20 && col("vec_id") < 30)
      graft.search.Pq.syncPersistedIvfPq(s, idx,
        victims.withColumn("__op", lit(ChangeLog.OpDelete))
          .withColumn("__seq", lit(1L)),
        "vec_id", "embedding")
      graft.search.Pq.syncPersistedIvfPq(s, idx,
        victims.withColumn("__op", lit(ChangeLog.OpInsert))
          .withColumn("__seq", lit(2L)),
        "vec_id", "embedding")
      graft.search.Pq.queryPersistedIvfPq(s, idx,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, c = 4, nProbe = 4,
          metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Graph ANN (the HNSW stand-in) at REALISTIC parameters: exact
    // 6-NN graph on a bounded corpus block, then 3 hops of BEST-FIRST
    // beam-4 search (visited-set expansion, HNSW's discipline) from
    // per-query seeded entries (top-4 of the mod-5 sample — the coarse
    // layer) — REAL graph pruning and REAL navigation, not a
    // degeneracy. Every stage (graph edges, seeds, per-hop frontier =
    // best unexpanded, final top-3) is a pure function of the corpus,
    // so the DuckDB oracle replays the build and every hop and
    // hash-checks the pruned result. The sign-LSH-built graph (the
    // 100 TB build path) keeps its recall assertions in GraphAnnSpec.
    "ann_graph_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = graphCorpus(s, dir)
      val graph = sharedGraphExact(s, dir)
      GraphAnn.queryGraph(graph, corpus, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding",
          k = 3, entries = 4, beam = 4, hops = 3, metric = Metric.L2,
          entryMod = 5L, materializeEdges = false)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // TWO-LAYER entry descent (HNSW's hierarchy): the coarse scan drops
    // from the mod-5 sample (~n/5 rows) to the mod-25 pool (~n/25 —
    // 5x cheaper), then a 2-hop beam-3 walk over the layer-1 edge graph
    // (4-NN among the mod-5 pool) descends to the 4 seeds that start
    // the layer-0 search. Both layers' graphs, the descent and all
    // layer-0 hops are pure functions of the corpus — the oracle
    // replays the full hierarchy.
    // TRUE multi-layer HNSW: two upper layers drawn by the md5
    // geometric gate (base 5 — pools n/5 and n/25, HNSW's level
    // distribution as a pure function of the id), each layer an exact
    // m=4 graph walked briefly (beam 3, 2 hops) to hand its best
    // nodes down, then the full layer-0 search. The top-pool entry
    // scan touches n/25 rows — base× cheaper than the one-layer
    // seeded entry at equal navigability. The oracle replays the
    // level gates, all three graph builds, the top scan and every
    // hop of all three walks.
    "ann_graph_hnsw_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      GraphAnn.queryHnsw(sharedHnsw(s, dir), graphCorpus(s, dir),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, entries = 4, beam = 4, hops = 3,
          metric = Metric.L2, topEntries = 2, upperBeam = 3,
          upperHops = 2, materializeEdges = false)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Every layer of the hierarchy on disk as its own bucket-pruned
    // layout; identical answers by construction (GraphAnnSpec pins
    // disk == mem) -> shares ann_graph_hnsw_topk's oracle.
    "ann_graph_hnsw_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_phnsw/" +
        dir.replaceAll("[^0-9.]", "")
      val ph = GraphAnn.persistHnsw(sharedHnsw(s, dir), root,
        buckets = 16)
      GraphAnn.queryPersistedHnsw(s, ph, graphCorpus(s, dir),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, entries = 4, beam = 4, hops = 3,
          metric = Metric.L2, topEntries = 2, upperBeam = 3,
          upperHops = 2)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Recall telemetry for the multi-layer leg at the SAME k and
    // sample as ann_recall_graph — the head-to-head that shows what
    // the geometric hierarchy keeps vs the flat seeded entry.
    "ann_recall_graph_hnsw" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = graphCorpus(s, dir)
      val queries = e.filter(col("vec_id") < 5)
      val ans = GraphAnn.queryHnsw(sharedHnsw(s, dir), corpus, queries,
        "vec_id", "embedding", "vec_id", "embedding", k = 3,
        entries = 4, beam = 4, hops = 3, metric = Metric.L2,
        topEntries = 2, upperBeam = 3, upperHops = 2,
        materializeEdges = false)
      Ann.recallAtK(ans, corpus, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = 3, sampleMod = 2L,
        metric = Metric.L2)
    }),
    "ann_graph_layered_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = graphCorpus(s, dir)
      val graph = sharedGraphExact(s, dir)
      val entry = sharedEntryGraph(s, dir)
      GraphAnn.queryGraphLayered(graph, entry, corpus,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, entries = 4, beam = 4, hops = 3,
          entryMod = 5L, metric = Metric.L2,
          l2Entries = 2, l1Beam = 3, l1Hops = 2,
          materializeEdges = false)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // The SAME two-layer descent with both layers on disk: main edges
    // and the layer-1 entry graph each persisted as bucket-partitioned
    // layouts, every hop of both layers pruning to its frontier's
    // buckets. Results are identical to the in-memory hierarchy by
    // construction (PersistedLayoutSpec) -> shares its oracle; what's
    // exercised is the on-disk pruned form of the full hierarchy.
    "ann_graph_layered_persisted" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = graphCorpus(s, dir)
      val (pg, epg) = sharedPersistedLayered(s, dir)
      GraphAnn.queryPersistedGraphLayered(s, pg, epg, corpus,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, entries = 4, beam = 4, hops = 3,
          entryMod = 5L, metric = Metric.L2,
          l2Entries = 2, l1Beam = 3, l1Hops = 2)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // FILTERED layered graph search: the two-layer descent picks entry
    // points UNFILTERED (layer 1 only routes), the label predicate
    // applies at the layer-0 rank — the walk-unfiltered/rank-filtered
    // contract of ann_graph_filtered through the full hierarchy.
    "ann_graph_layered_filtered" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = graphCorpus(s, dir)
      val (pg, epg) = sharedPersistedLayered(s, dir)
      GraphAnn.queryPersistedGraphLayered(s, pg, epg, corpus,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, entries = 4, beam = 4, hops = 3,
          entryMod = 5L, metric = Metric.L2,
          l2Entries = 2, l1Beam = 3, l1Hops = 2,
          rowFilter = Some(col("label") === 1))
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Incremental graph maintenance THROUGH the persisted layout —
    // HNSW's add: build on [15,1000), persist by src bucket, insert
    // [5,15) (m-NN edges + the reverse edges that make new nodes
    // reachable, appended to touched buckets only), then beam-search
    // the synced on-disk graph. Oracle replays base build, insert
    // edges (incl. reverse), and all 3 best-first hops.
    "ann_graph_synced" -> ((s, dir) => {
      val e = emb(s, dir)
      // smaller block than ann_graph_topk: what's under test is the
      // INSERT machinery, not build scale — the O(n²) base build is
      // already exercised (and timed) by the other graph queries
      val initial = e.filter(col("vec_id") >= 15 && col("vec_id") < 600)
      val batch = e.filter(col("vec_id") >= 5 && col("vec_id") < 15)
      val corpus = e.filter(col("vec_id") >= 5 && col("vec_id") < 600)
      val graph = GraphAnn.buildGraphExact(initial, "embedding", "vec_id",
        m = 6)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pgsync/" +
        dir.replaceAll("[^0-9.]", "")
      val pg = GraphAnn.persistGraph(graph, root, buckets = 8)
      GraphAnn.syncPersistedGraph(s, pg, initial, batch, "vec_id",
        "embedding")
      GraphAnn.queryPersistedGraph(s, pg, corpus,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, entries = 4, beam = 4, hops = 3,
          metric = Metric.L2, entryMod = 5L)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // DELETE semantics through the persisted graph layout — the other
    // half of the CDF contract ann_graph_synced exercises for inserts:
    // one change batch inserts [5,15) AND deletes [15,25); tombstones
    // beside the edge buckets must keep deleted nodes out of every read
    // path even though the corpus snapshot handed to the query is
    // deliberately STALE (still holds the deleted rows). The oracle
    // replays base build, live-edge filter, insert edges (m-NN into the
    // post-change pool + reverse) and all 3 best-first hops over the
    // post-change corpus.
    "ann_graph_sync_delete" -> ((s, dir) => {
      import graft.index.ChangeLog
      val e = emb(s, dir)
      val initial = e.filter(col("vec_id") >= 15 && col("vec_id") < 400)
      val changes = e.filter(col("vec_id") >= 5 && col("vec_id") < 15)
        .withColumn("__op", lit(ChangeLog.OpInsert))
        .withColumn("__seq", lit(1L))
        .unionByName(e.filter(col("vec_id") >= 15 && col("vec_id") < 25)
          .withColumn("__op", lit(ChangeLog.OpDelete))
          .withColumn("__seq", lit(2L)))
      val graph = GraphAnn.buildGraphExact(initial, "embedding", "vec_id",
        m = 6)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pgdel/" +
        dir.replaceAll("[^0-9.]", "")
      val pg = GraphAnn.persistGraph(graph, root, buckets = 8)
      GraphAnn.syncPersistedGraphChanges(s, pg, initial, changes, "vec_id",
        "embedding")
      GraphAnn.queryPersistedGraph(s, pg,
          e.filter(col("vec_id") >= 5 && col("vec_id") < 400),
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, entries = 4, beam = 4, hops = 3,
          metric = Metric.L2, entryMod = 5L)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // The three-stage composition the Rerank docstring promises for
    // 100 TB: IVF probe (4 of 16 deterministic cells) -> coarse 8-dim
    // prefix rank over ONLY the probed cells' rows -> k*c=12 exact
    // cosine refine. Every stage deterministic -> the oracle replays
    // probe, prefix rank and refine end to end.
    "ann_ivf_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val index = Ann.buildIvfDeterministic(e.filter(col("vec_id") >= 5),
        "embedding", "vec_id", 16)
      graft.search.Rerank.truncatedOverIvf(index,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          "vec_id", "embedding", k = 3, c = 4, coarseDims = 8,
          nProbe = 4, metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // The 100 TB GRAPH BUILD PATH under the oracle: edges from native
    // sign-LSH bucket-mates (one equi-join on integer codes, never n²)
    // truncated to the 4 nearest per node, then the same best-first
    // beam search. Codes are md5-reproducible integers, edge distances
    // DOUBLE-exact, hops pure — so build AND search are hash-checked,
    // upgrading buildGraphLsh from spec-trusted to oracled.
    "ann_graph_lsh_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 5)
      val graph = GraphAnn.buildGraphLsh(corpus, "embedding", "vec_id",
        m = 4, tables = 4, bits = 4)
      GraphAnn.queryGraph(graph, corpus, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding",
          k = 3, entries = 4, beam = 4, hops = 2, metric = Metric.L2,
          entryMod = 5L)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Two-stage rerank at REALISTIC parameters (coarse 8-dim prefix
    // scan -> k*c=12 candidates -> exact re-score -> top 3): both
    // stages are pure functions of the corpus, so the oracle replays
    // them stage by stage — the reference's commented reranker hook
    // (query_endpoint.py:130) as a hash-checked operator.
    "rerank_truncated" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.search.Rerank.truncated(
          corpus = e.filter(col("vec_id") >= 5),
          queries = e.filter(col("vec_id") < 5),
          corpusVecCol = "embedding", corpusPkCol = "vec_id",
          queryVecCol = "embedding", queryIdCol = "vec_id",
          k = 3, c = 4, coarseDims = 8, metric = Metric.Cosine)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("vec_id"))
        .orderBy("query_id", "rnk")
    }),
    // Multimodal frame sampling: video rows explode to one row per
    // 250 ms frame via sequence+explode; the oracle reproduces the
    // frame grid with generate_series.
    "mm_frame_sample" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(
        docs(s, dir).filter(col("doc_id") < 60), "doc_id", "text")
      Multimodal.sampleFrames(media, everyMs = 250L)
        .select(col("media_id"), col("frame_idx"), col("ts_ms"))
        .orderBy("media_id", "frame_idx")
    }),
    // Multimodal resize: geometry + byte-budget contract on image rows.
    "mm_resize" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(
        docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text")
      Multimodal.resize(media, 64, 64)
        .filter(col("kind") === "image" && col("content").isNotNull)
        .select(col("media_id"), col("width"), col("height"),
          length(col("content")).cast("long").as("n_bytes"))
        .orderBy("media_id")
    }),
    // REAL image decode, hash-checked end to end: payloads are genuine
    // binary P6 PPM files (pixel values a pure function of the id),
    // ppmFeatures PARSES the bytes and averages the actual channels,
    // and the oracle recomputes the same means from the generator
    // formula — so a decoder bug (header parse, stride, channel order)
    // breaks the hash. No codec libraries involved: PPM is raw RGB.
    "mm_ppm_decode" -> ((s, dir) => {
      Multimodal.ppmFeatures(Multimodal.syntheticPpmMedia(
          docs(s, dir).filter(col("doc_id") < 100), "doc_id")).toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("media_id")
    }),
    // REAL nearest-neighbor resize: decode -> resample (sx = tx*w/tw,
    // integer division) -> re-encode -> decode AGAIN -> channel means.
    // The oracle replays the NN index map on the pixel formula, so the
    // whole decode/resample/encode round-trip is hash-checked.
    "mm_ppm_resize" -> ((s, dir) => {
      val media = Multimodal.syntheticPpmMedia(
        docs(s, dir).filter(col("doc_id") < 30), "doc_id")
      Multimodal.ppmFeatures(Multimodal.ppmResize(media, 4, 4)).toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("media_id")
    }),
    // Image similarity over REAL decoded pixels end to end: PPM decode
    // -> channel-mean feature vectors -> cosine top-3. Means are exact
    // rationals and the cosine formula is written identically in both
    // engines, so the whole decode∘featurize∘knn composition
    // hash-checks — the multimodal retrieval story with no stub in
    // the chain.
    "mm_ppm_knn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val feats = Multimodal.ppmFeatures(Multimodal.syntheticPpmMedia(
        docs(s, dir).filter(col("doc_id") < 100), "doc_id")).toDF()
      val q = feats.filter(col("media_id") < 3)
        .select(col("media_id").as("query_id"),
          col("mean_r").as("qr"), col("mean_g").as("qg"),
          col("mean_b").as("qb"))
      val c = feats.filter(col("media_id") >= 3)
      val cos = (col("qr") * col("mean_r") + col("qg") * col("mean_g") +
          col("qb") * col("mean_b")) /
        (sqrt(col("qr") * col("qr") + col("qg") * col("qg") +
          col("qb") * col("qb")) *
         sqrt(col("mean_r") * col("mean_r") +
           col("mean_g") * col("mean_g") +
           col("mean_b") * col("mean_b")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("__cos").desc, col("media_id").asc)
      q.crossJoin(c).withColumn("__cos", cos)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("rnk"), col("media_id"),
          round(col("__cos"), 4).as("score"))
        .orderBy("query_id", "rnk")
    }),
    // REAL video frame extraction: payloads are concatenated-PPM
    // streams; frame k is DEMUXED by walking every earlier frame's
    // header + raster, then parsed and channel-averaged. The oracle
    // replays the per-frame pixel formula — a demux bug (stride, frame
    // boundary, header walk) breaks the hash.
    "mm_video_frames" -> ((s, dir) => {
      Multimodal.samplePpmFrames(Multimodal.syntheticPpmVideoMedia(
          docs(s, dir).filter(col("doc_id") < 40), "doc_id"),
          everyMs = 250L).toDF()
        .select(col("media_id"), col("frame_idx"), col("ts_ms"),
          col("width"), col("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("media_id", "frame_idx")
    }),
    // REAL video demux through a REAL codec: payloads are genuine
    // multi-frame animated GIFs (palettes + LZW + frame sequencing);
    // the synthetic frames have <= 224 distinct colors, so GIF is
    // lossless for them and the per-frame pixel replay hash-checks the
    // whole encode -> demux -> featurize chain. Same oracle as the
    // codec-free concatenated-PPM walk — what changed is only which
    // real bytes carried the frames.
    "mm_gif_video_frames" -> ((s, dir) => {
      Multimodal.sampleGifFrames(Multimodal.syntheticGifVideoMedia(
          docs(s, dir).filter(col("doc_id") < 40), "doc_id"),
          everyMs = 250L).toDF()
        .select(col("media_id"), col("frame_idx"), col("ts_ms"),
          col("width"), col("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("media_id", "frame_idx")
    }),
    // REAL audio decode: payloads are genuine PCM16 mono WAV files
    // (RIFF-walked in pure JVM), features come from the ACTUAL header
    // and samples (duration, RMS, zero crossings); the oracle replays
    // the sample formula — a decoder bug (endianness, chunk walk,
    // sample stride) breaks the hash.
    "mm_wav_decode" -> ((s, dir) => {
      Multimodal.wavFeatures(Multimodal.syntheticWavMedia(
          docs(s, dir).filter(col("doc_id") < 60), "doc_id")).toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), round(col("rms"), 4).as("rms"),
          col("zero_crossings"))
        .orderBy("media_id")
    }),
    // Time-envelope audio features — the audio analog of the image
    // block grid: mean |amplitude| over 8 equal windows (sample i →
    // window i*8 div n), exploded to scalar rows so every window of
    // every clip hash-checks against the sample-formula replay. A
    // single global RMS is content-blind (equal-energy clips collide);
    // the envelope keeps temporal structure for audio near-dup.
    "mm_wav_windows" -> ((s, dir) => {
      Multimodal.wavWindowEnergy(Multimodal.syntheticWavMedia(
          docs(s, dir).filter(col("doc_id") < 120), "doc_id"), 8)
        .select(col("media_id"),
          posexplode(col("vec")).as(Seq("w", "ma")))
        .select(col("media_id"), col("w").cast("long").as("w"),
          round(col("ma"), 4).as("mean_abs"))
        .orderBy("media_id", "w")
    }),
    // REAL PNG decode via javax.imageio (JDK codec, headless):
    // payloads are genuine PNG files of the formula images; PNG is
    // lossless, so imageFeatures' decoded channel means hash-check
    // against the same SQL pixel replay as mm_ppm_decode — a codec
    // wiring bug (channel order, row stride, colorspace) breaks the
    // hash. This is the production image format, not the codec-free
    // PPM ground-truth path.
    "mm_png_decode" -> ((s, dir) => {
      Multimodal.imageFeatures(Multimodal.syntheticPngMedia(
          docs(s, dir).filter(col("doc_id") < 100), "doc_id")).toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("media_id")
    }),
    // PNG decode -> NN resample -> PNG re-encode -> decode AGAIN ->
    // channel means: the whole ImageIO round-trip is lossless, so the
    // mm_ppm_resize pixel replay carries over unchanged.
    "mm_png_resize" -> ((s, dir) => {
      val media = Multimodal.syntheticPngMedia(
        docs(s, dir).filter(col("doc_id") < 30), "doc_id")
      Multimodal.imageFeatures(Multimodal.imageResize(media, 4, 4)).toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("media_id")
    }),
    // Image similarity over REAL PNG-decoded pixels end to end:
    // ImageIO decode -> channel-mean features -> cosine top-3 — the
    // multimodal retrieval story on the production format.
    "mm_png_knn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val feats = Multimodal.imageFeatures(Multimodal.syntheticPngMedia(
        docs(s, dir).filter(col("doc_id") < 100), "doc_id")).toDF()
      val q = feats.filter(col("media_id") < 3)
        .select(col("media_id").as("query_id"),
          col("mean_r").as("qr"), col("mean_g").as("qg"),
          col("mean_b").as("qb"))
      val c = feats.filter(col("media_id") >= 3)
      val cos = (col("qr") * col("mean_r") + col("qg") * col("mean_g") +
          col("qb") * col("mean_b")) /
        (sqrt(col("qr") * col("qr") + col("qg") * col("qg") +
          col("qb") * col("qb")) *
         sqrt(col("mean_r") * col("mean_r") +
           col("mean_g") * col("mean_g") +
           col("mean_b") * col("mean_b")))
      val w = Window.partitionBy("query_id")
        .orderBy(col("__cos").desc, col("media_id").asc)
      q.crossJoin(c).withColumn("__cos", cos)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("rnk"), col("media_id"),
          round(col("__cos"), 4).as("score"))
        .orderBy("query_id", "rnk")
    }),
    // BMP through the same ImageIO seam: 24-bit uncompressed BMP is
    // lossless, so the full pixel replay carries over — proving the
    // decode path is format-agnostic, not PNG-special-cased.
    "mm_bmp_decode" -> ((s, dir) => {
      Multimodal.imageFeatures(Multimodal.syntheticImageMedia(
          docs(s, dir).filter(col("doc_id") < 100), "doc_id", "bmp")).toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("media_id")
    }),
    // JPEG is lossy, so only the decoded GEOMETRY is oracle-exact (the
    // id-derived w/h formula); pixel fidelity is MultimodalSpec's
    // tolerance check. The payloads are genuine JPEG files and the
    // decode is the real codec — a wiring bug (dims swap, truncated
    // decode dropping rows) still breaks this hash.
    "mm_jpeg_decode" -> ((s, dir) => {
      Multimodal.imageFeatures(Multimodal.syntheticImageMedia(
          docs(s, dir).filter(col("doc_id") < 100), "doc_id", "jpg")).toDF()
        .select(col("media_id"), col("width"), col("height"))
        .orderBy("media_id")
    }),
    // REAL audio resample: decode genuine WAV bytes, nearest-sample
    // rate conversion to 3 kHz (integer index map), re-encode, decode
    // AGAIN, feature the actual resampled samples. The oracle replays
    // the sample formula through the same floor-index map — a
    // resampler bug (off-by-one, rate header, length) breaks the hash.
    "mm_wav_resample" -> ((s, dir) => {
      Multimodal.wavFeatures(Multimodal.wavResample(
          Multimodal.syntheticWavMedia(
            docs(s, dir).filter(col("doc_id") < 60), "doc_id"),
          targetRate = 3000)).toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), round(col("rms"), 4).as("rms"),
          col("zero_crossings"))
        .orderBy("media_id")
    }),
    // The multimodal corpus story END TO END in one oracled query:
    // genuine PNG bytes -> ImageIO decode -> channel-mean features ->
    // near-dup removal over the DECODED features (exact cosine pairs
    // on this bounded block — embeddingNearDupLsh is the scale path —
    // closed to components, min-id survives) -> deterministic IVF
    // index on the surviving vectors -> pruned 2-of-8-cell probe ->
    // cosine top-3. Every stage replays in SQL from the pixel formula,
    // so decode, dedup decision, cell assignment, probe pruning and
    // final ranking are all hash-checked as one composition.
    "mm_media_index_knn" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val feats = Multimodal.imageBlockGrid(Multimodal.syntheticPngMedia(
          docs(s, dir).filter(col("doc_id") < 120), "doc_id"), 4)
        .select(col("media_id"), col("vec"))
      val corpus = feats.filter(col("media_id") >= 3)
      val pairs = corpus
        .select(col("media_id").as("a_id"), col("vec").as("__va"))
        .join(corpus.select(col("media_id").as("b_id"),
          col("vec").as("__vb")), col("a_id") < col("b_id"))
        .filter(VF.cosine(col("__va"), col("__vb")) >= 0.9999)
        .select("a_id", "b_id")
      val losers = graft.operators.Dedup
        .componentsAuto(pairs, "a_id", "b_id")
        .filter(col("id") =!= col("component"))
        .select(col("id").as("media_id"))
      val keep = corpus.join(losers, Seq("media_id"), "left_anti")
      val index = Ann.buildIvfDeterministic(keep, "vec", "media_id", 8)
      Ann.queryIvf(index, feats.filter(col("media_id") < 3),
          "media_id", "vec", "media_id", "vec", k = 3, nProbe = 2)
        .select(col("query_id"), col("rank").cast("long").as("rnk"),
          col("media_id"))
        .orderBy("query_id", "rnk")
    }),
    // Multimodal: binary payload column → partition-batched feature
    // extraction; metadata path oracle-checked, feature values ScalaTest'd.
    "multimodal_features" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(
        docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text")
      Multimodal.extractFeatures(media, dim = 64).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          size(col("feature")).cast("long").as("n_dims"))
        .orderBy("media_id")
    }),
  )

  private val baseOracleSql: Map[String, String] = Map(
    // Deterministic-centroid IVF, REAL pruning (nProbe=4 of 16): the
    // oracle replays build (centroids = first 16 corpus vectors by id,
    // assignment = argmin L2 with cell-id tie-break), probe (4 nearest
    // centroids per query) and refine (cosine top-3) stage by stage.
    "ann_ivf_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
        |cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |           AS cell,
        |         embedding AS cvec
        |  FROM (SELECT vec_id, embedding FROM corpus
        |        ORDER BY vec_id LIMIT 16)),
        |asg AS (
        |  SELECT c.vec_id, c.embedding, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.embedding, t.cvec), t.cell) AS rn
        |  FROM corpus c CROSS JOIN cents t),
        |cells AS (SELECT vec_id, embedding, cell FROM asg WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |probe AS (
        |  SELECT q.query_id, q.qv, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN cents t),
        |cand AS (
        |  SELECT p.query_id, p.qv, c.vec_id, c.embedding
        |  FROM (SELECT query_id, qv, cell FROM probe WHERE pr <= 4) p
        |  JOIN cells c USING (cell)),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(embedding, qv) DESC, vec_id)
        |      AS rnk
        |  FROM cand)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // ann_ivf_topk's replay with the label predicate applied to the
    // candidate side only (the index itself is built unfiltered).
    "ann_ivf_filtered" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE vec_id >= 5),
        |cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |           AS cell,
        |         embedding AS cvec
        |  FROM (SELECT vec_id, embedding FROM corpus
        |        ORDER BY vec_id LIMIT 16)),
        |asg AS (
        |  SELECT c.vec_id, c.embedding, c.label, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.embedding, t.cvec), t.cell) AS rn
        |  FROM corpus c CROSS JOIN cents t),
        |cells AS (SELECT vec_id, embedding, label, cell FROM asg
        |          WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |probe AS (
        |  SELECT q.query_id, q.qv, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN cents t),
        |cand AS (
        |  SELECT p.query_id, p.qv, c.vec_id, c.embedding
        |  FROM (SELECT query_id, qv, cell FROM probe WHERE pr <= 4) p
        |  JOIN cells c USING (cell)
        |  WHERE c.label = 1),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(embedding, qv) DESC, vec_id)
        |      AS rnk
        |  FROM cand)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Replays the degraded IVF (nProbe=1) answers AND the exact cosine
    // top-5 on the parity-sampled queries, then scores one against the
    // other — the recall probe as pure SQL.
    "ann_recall_probe" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
        |cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |           AS cell,
        |         embedding AS cvec
        |  FROM (SELECT vec_id, embedding FROM corpus
        |        ORDER BY vec_id LIMIT 16)),
        |asg AS (
        |  SELECT c.vec_id, c.embedding, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.embedding, t.cvec), t.cell) AS rn
        |  FROM corpus c CROSS JOIN cents t),
        |cells AS (SELECT vec_id, embedding, cell FROM asg WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |probe AS (
        |  SELECT q.query_id, q.qv, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN cents t),
        |cand AS (
        |  SELECT p.query_id, p.qv, c.vec_id, c.embedding
        |  FROM (SELECT query_id, qv, cell FROM probe WHERE pr <= 1) p
        |  JOIN cells c USING (cell)),
        |ans AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY list_cosine_similarity(embedding, qv) DESC,
        |          vec_id) AS rnk
        |    FROM cand)
        |  WHERE rnk <= 5),
        |sq AS (SELECT query_id, qv FROM qs WHERE query_id % 2 = 0),
        |exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY s.query_id
        |        ORDER BY list_cosine_similarity(c.embedding, s.qv) DESC,
        |          c.vec_id) AS rnk
        |    FROM corpus c CROSS JOIN sq s)
        |  WHERE rnk <= 5)
        |SELECT e.query_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 4) AS recall
        |FROM exact e LEFT JOIN ans a
        |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // Replays the nDCG probe: deterministic-centroid IVF at nProbe=2,
    // exact cosine side on the parity-sampled queries, positional
    // gains 6−rnk, log2 discounts, DCG folds in rank order.
    "ann_ndcg_probe" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
        |cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |           AS cell,
        |         embedding AS cvec
        |  FROM (SELECT vec_id, embedding FROM corpus
        |        ORDER BY vec_id LIMIT 16)),
        |asg AS (
        |  SELECT c.vec_id, c.embedding, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.embedding, t.cvec), t.cell) AS rn
        |  FROM corpus c CROSS JOIN cents t),
        |cells AS (SELECT vec_id, embedding, cell FROM asg WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |probe AS (
        |  SELECT q.query_id, q.qv, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN cents t),
        |cand AS (
        |  SELECT p.query_id, p.qv, c.vec_id, c.embedding
        |  FROM (SELECT query_id, qv, cell FROM probe WHERE pr <= 2) p
        |  JOIN cells c USING (cell)),
        |ann AS (
        |  SELECT query_id, vec_id, rnk AS arnk FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY list_cosine_similarity(embedding, qv) DESC,
        |          vec_id) AS rnk
        |    FROM cand)
        |  WHERE rnk <= 5),
        |sq AS (SELECT query_id, qv FROM qs WHERE query_id % 2 = 0),
        |exact AS (
        |  SELECT query_id, vec_id, rnk FROM (
        |    SELECT s.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY s.query_id
        |        ORDER BY list_cosine_similarity(c.embedding, s.qv) DESC,
        |          c.vec_id) AS rnk
        |    FROM corpus c CROSS JOIN sq s)
        |  WHERE rnk <= 5),
        |gains AS (
        |  SELECT query_id, vec_id, rnk, CAST(6 - rnk AS DOUBLE) AS g
        |  FROM exact),
        |sann AS (SELECT * FROM ann WHERE query_id % 2 = 0),
        |dcg AS (
        |  SELECT a.query_id,
        |    list_sum(list(COALESCE(g.g, 0) / log2(a.arnk + 1)
        |      ORDER BY a.arnk)) AS dcg
        |  FROM sann a LEFT JOIN gains g
        |    ON g.query_id = a.query_id AND g.vec_id = a.vec_id
        |  GROUP BY a.query_id),
        |idcg AS (
        |  SELECT query_id,
        |    list_sum(list(g / log2(rnk + 1) ORDER BY rnk)) AS idcg
        |  FROM gains GROUP BY query_id)
        |SELECT i.query_id,
        |  round(COALESCE(d.dcg, 0) / i.idcg, 4) AS ndcg
        |FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
        |ORDER BY i.query_id""".stripMargin,
    // Replays BOTH PQ codebook constructions — 'firstk' (first 32
    // corpus rows by id) and 'trained' (md5 sample + two unrolled
    // integer-Lloyd iterations) — then both ADC pipelines, the exact
    // cosine side on the sampled queries, and the recall join, with a
    // variant column carried through every stage.
    "ann_recall_pq" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |iq AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS xi
        |  FROM embeddings v, dims dd),
        |pcents AS (
        |  SELECT vec_id, j FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |    FROM embeddings
        |    WHERE vec_id >= 10 AND embedding IS NOT NULL)
        |  WHERE j < 32),
        |cbf AS (
        |  SELECT (iq.d // 4) AS s, c.j, iq.d, iq.xi
        |  FROM iq JOIN pcents c USING (vec_id)),
        |samp AS (
        |  SELECT r, embedding FROM (
        |    SELECT embedding,
        |      row_number() OVER (
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
        |    FROM embeddings WHERE vec_id >= 10 AND embedding IS NOT NULL)
        |  WHERE r < 128),
        |sp AS (
        |  SELECT s.r, dd.d,
        |    CAST(floor(CAST(s.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM samp s, dims dd),
        |c0 AS (SELECT (d // 4) AS s, r AS j, d, y FROM sp WHERE r < 32),
        |d1 AS (
        |  SELECT p.r, c.s, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN c0 c ON c.d = p.d
        |  GROUP BY p.r, c.s, c.j),
        |m1 AS (SELECT r, s, j FROM (
        |  SELECT r, s, j,
        |    row_number() OVER (PARTITION BY r, s ORDER BY d2, j) AS rn
        |  FROM d1) WHERE rn = 1),
        |g1 AS (
        |  SELECT m.s, m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m1 m JOIN sp p ON p.r = m.r AND (p.d // 4) = m.s
        |  GROUP BY m.s, m.j, p.d),
        |c1 AS (
        |  SELECT c0.s, c0.j, c0.d,
        |    COALESCE(CAST((g1.sy - (((g1.sy % g1.c) + g1.c) % g1.c))
        |      / g1.c AS BIGINT), c0.y) AS y
        |  FROM c0 LEFT JOIN g1
        |    ON g1.s = c0.s AND g1.j = c0.j AND g1.d = c0.d),
        |d2i AS (
        |  SELECT p.r, c.s, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN c1 c ON c.d = p.d
        |  GROUP BY p.r, c.s, c.j),
        |m2 AS (SELECT r, s, j FROM (
        |  SELECT r, s, j,
        |    row_number() OVER (PARTITION BY r, s ORDER BY d2, j) AS rn
        |  FROM d2i) WHERE rn = 1),
        |g2 AS (
        |  SELECT m.s, m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m2 m JOIN sp p ON p.r = m.r AND (p.d // 4) = m.s
        |  GROUP BY m.s, m.j, p.d),
        |cbt AS (
        |  SELECT c1.s, c1.j, c1.d,
        |    COALESCE(CAST((g2.sy - (((g2.sy % g2.c) + g2.c) % g2.c))
        |      / g2.c AS BIGINT), c1.y) AS xi
        |  FROM c1 LEFT JOIN g2
        |    ON g2.s = c1.s AND g2.j = c1.j AND g2.d = c1.d),
        |cball AS (
        |  SELECT 'firstk' AS variant, s, j, d, xi FROM cbf
        |  UNION ALL SELECT 'trained' AS variant, s, j, d, xi FROM cbt),
        |cdist AS (
        |  SELECT b.variant, iq.vec_id, b.s, b.j,
        |    sum((iq.xi - b.xi) * (iq.xi - b.xi)) AS d2
        |  FROM iq JOIN cball b ON b.d = iq.d
        |  WHERE iq.vec_id >= 10
        |  GROUP BY b.variant, iq.vec_id, b.s, b.j),
        |codes AS (
        |  SELECT variant, vec_id, s, j FROM (
        |    SELECT variant, vec_id, s, j,
        |      row_number() OVER (PARTITION BY variant, vec_id, s
        |        ORDER BY d2, j) AS rn
        |    FROM cdist) WHERE rn = 1),
        |qtab AS (
        |  SELECT b.variant, iq.vec_id AS query_id, b.s, b.j,
        |    sum((iq.xi - b.xi) * (iq.xi - b.xi)) AS d2
        |  FROM iq JOIN cball b ON b.d = iq.d
        |  WHERE iq.vec_id < 10
        |  GROUP BY b.variant, iq.vec_id, b.s, b.j),
        |adc AS (
        |  SELECT c.variant, c.vec_id, q.query_id, sum(q.d2) AS dist
        |  FROM codes c JOIN qtab q
        |    ON q.variant = c.variant AND q.s = c.s AND q.j = c.j
        |  GROUP BY c.variant, c.vec_id, q.query_id),
        |cand AS (
        |  SELECT variant, query_id, vec_id,
        |    row_number() OVER (PARTITION BY variant, query_id
        |      ORDER BY dist, vec_id) AS cr
        |  FROM adc),
        |ans AS (
        |  SELECT variant, query_id, vec_id FROM (
        |    SELECT cand.variant, cand.query_id, cand.vec_id,
        |      row_number() OVER (PARTITION BY cand.variant, cand.query_id
        |        ORDER BY
        |        CASE WHEN list_dot_product(ce.embedding::DOUBLE[],
        |                                   ce.embedding::DOUBLE[]) = 0
        |               OR list_dot_product(qe.embedding::DOUBLE[],
        |                                   qe.embedding::DOUBLE[]) = 0
        |             THEN 0
        |             ELSE list_dot_product(ce.embedding::DOUBLE[],
        |                                   qe.embedding::DOUBLE[])
        |                / (sqrt(list_dot_product(ce.embedding::DOUBLE[],
        |                                         ce.embedding::DOUBLE[]))
        |                   * sqrt(list_dot_product(qe.embedding::DOUBLE[],
        |                                         qe.embedding::DOUBLE[])))
        |        END DESC, cand.vec_id) AS rnk
        |    FROM cand
        |    JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |    JOIN embeddings qe ON qe.vec_id = cand.query_id
        |    WHERE cand.cr <= 10)
        |  WHERE rnk <= 5),
        |sq AS (SELECT vec_id AS query_id, embedding AS qv
        |       FROM embeddings WHERE vec_id < 10 AND vec_id % 2 = 0),
        |exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY s.query_id
        |        ORDER BY list_cosine_similarity(c.embedding, s.qv) DESC,
        |          c.vec_id) AS rnk
        |    FROM embeddings c CROSS JOIN sq s WHERE c.vec_id >= 10)
        |  WHERE rnk <= 5),
        |ev AS (
        |  SELECT v.variant, e.query_id, e.vec_id
        |  FROM exact e CROSS JOIN
        |    (SELECT 'firstk' AS variant UNION ALL SELECT 'trained') v)
        |SELECT ev.variant, ev.query_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 4) AS recall
        |FROM ev LEFT JOIN ans a
        |  ON a.variant = ev.variant AND a.query_id = ev.query_id
        |  AND a.vec_id = ev.vec_id
        |GROUP BY ev.variant, ev.query_id
        |ORDER BY ev.variant, ev.query_id""".stripMargin,
    // Replays both codebooks (same CTEs as ann_recall_pq) and scores
    // every corpus row's per-subspace min distance — the assignment
    // distortion totals per variant.
    "ann_pq_distortion" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |iq AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS xi
        |  FROM embeddings v, dims dd),
        |pcents AS (
        |  SELECT vec_id, j FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |    FROM embeddings
        |    WHERE vec_id >= 10 AND embedding IS NOT NULL)
        |  WHERE j < 32),
        |cbf AS (
        |  SELECT (iq.d // 4) AS s, c.j, iq.d, iq.xi
        |  FROM iq JOIN pcents c USING (vec_id)),
        |samp AS (
        |  SELECT r, embedding FROM (
        |    SELECT embedding,
        |      row_number() OVER (
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
        |    FROM embeddings WHERE vec_id >= 10 AND embedding IS NOT NULL)
        |  WHERE r < 128),
        |sp AS (
        |  SELECT s.r, dd.d,
        |    CAST(floor(CAST(s.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM samp s, dims dd),
        |c0 AS (SELECT (d // 4) AS s, r AS j, d, y FROM sp WHERE r < 32),
        |d1 AS (
        |  SELECT p.r, c.s, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN c0 c ON c.d = p.d
        |  GROUP BY p.r, c.s, c.j),
        |m1 AS (SELECT r, s, j FROM (
        |  SELECT r, s, j,
        |    row_number() OVER (PARTITION BY r, s ORDER BY d2, j) AS rn
        |  FROM d1) WHERE rn = 1),
        |g1 AS (
        |  SELECT m.s, m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m1 m JOIN sp p ON p.r = m.r AND (p.d // 4) = m.s
        |  GROUP BY m.s, m.j, p.d),
        |c1 AS (
        |  SELECT c0.s, c0.j, c0.d,
        |    COALESCE(CAST((g1.sy - (((g1.sy % g1.c) + g1.c) % g1.c))
        |      / g1.c AS BIGINT), c0.y) AS y
        |  FROM c0 LEFT JOIN g1
        |    ON g1.s = c0.s AND g1.j = c0.j AND g1.d = c0.d),
        |d2i AS (
        |  SELECT p.r, c.s, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN c1 c ON c.d = p.d
        |  GROUP BY p.r, c.s, c.j),
        |m2 AS (SELECT r, s, j FROM (
        |  SELECT r, s, j,
        |    row_number() OVER (PARTITION BY r, s ORDER BY d2, j) AS rn
        |  FROM d2i) WHERE rn = 1),
        |g2 AS (
        |  SELECT m.s, m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m2 m JOIN sp p ON p.r = m.r AND (p.d // 4) = m.s
        |  GROUP BY m.s, m.j, p.d),
        |cbt AS (
        |  SELECT c1.s, c1.j, c1.d,
        |    COALESCE(CAST((g2.sy - (((g2.sy % g2.c) + g2.c) % g2.c))
        |      / g2.c AS BIGINT), c1.y) AS xi
        |  FROM c1 LEFT JOIN g2
        |    ON g2.s = c1.s AND g2.j = c1.j AND g2.d = c1.d),
        |cball AS (
        |  SELECT 'firstk' AS variant, s, j, d, xi FROM cbf
        |  UNION ALL SELECT 'trained' AS variant, s, j, d, xi FROM cbt),
        |cdist AS (
        |  SELECT b.variant, iq.vec_id, b.s, b.j,
        |    sum((iq.xi - b.xi) * (iq.xi - b.xi)) AS d2
        |  FROM iq JOIN cball b ON b.d = iq.d
        |  WHERE iq.vec_id >= 10
        |  GROUP BY b.variant, iq.vec_id, b.s, b.j),
        |mind AS (
        |  SELECT variant, vec_id, s, min(d2) AS md
        |  FROM cdist GROUP BY variant, vec_id, s),
        |perrow AS (
        |  SELECT variant, vec_id, CAST(sum(md) AS BIGINT) AS dist
        |  FROM mind GROUP BY variant, vec_id)
        |SELECT variant,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(dist) AS BIGINT) AS total_d2,
        |  round(avg(dist), 2) AS avg_d2
        |FROM perrow GROUP BY variant ORDER BY variant""".stripMargin,
    // SQ8 recall probe: the ann_sq8_rerank replay at (k=5, c=2) over
    // the vec_id>=10 corpus, then the standard recall join on the
    // mod-2 query sample.
    "ann_recall_sq8" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |comp AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(v.embedding[dd.d + 1] AS DOUBLE) AS x
        |  FROM embeddings v, dims dd),
        |stats AS (
        |  SELECT d, min(x) AS mn, max(x) AS mx
        |  FROM comp WHERE vec_id >= 10 GROUP BY d),
        |codes AS (
        |  SELECT c.vec_id, c.d,
        |    CASE WHEN s.mx = s.mn THEN -128
        |         ELSE CAST(least(greatest(
        |             floor((c.x - s.mn) / (s.mx - s.mn) * 255 + 0.5),
        |             0), 255) AS INT) - 128
        |    END AS b
        |  FROM comp c JOIN stats s USING (d)),
        |cdot AS (
        |  SELECT q.vec_id AS query_id, c.vec_id, sum(q.b * c.b) AS cscore
        |  FROM codes q JOIN codes c USING (d)
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10
        |  GROUP BY q.vec_id, c.vec_id),
        |cand AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cscore DESC, vec_id) AS cr
        |  FROM cdot),
        |ans AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT cand.query_id, cand.vec_id,
        |      row_number() OVER (PARTITION BY cand.query_id
        |        ORDER BY list_cosine_similarity(ce.embedding,
        |          qe.embedding) DESC, cand.vec_id) AS rnk
        |    FROM cand
        |    JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |    JOIN embeddings qe ON qe.vec_id = cand.query_id
        |    WHERE cand.cr <= 10)
        |  WHERE rnk <= 5),
        |sq AS (SELECT vec_id AS query_id, embedding AS qv
        |       FROM embeddings WHERE vec_id < 10 AND vec_id % 2 = 0),
        |exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY s.query_id
        |        ORDER BY list_cosine_similarity(c.embedding, s.qv) DESC,
        |          c.vec_id) AS rnk
        |    FROM embeddings c CROSS JOIN sq s WHERE c.vec_id >= 10)
        |  WHERE rnk <= 5)
        |SELECT e.query_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 4) AS recall
        |FROM exact e LEFT JOIN ans a
        |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // Sign-LSH recall probe: the ann_signlsh_topk bucket replay over
    // the vec_id>=10 corpus at k=5, then the recall join — queries
    // whose buckets under-fill simply score the misses.
    "ann_recall_signlsh" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |tb AS (
        |  SELECT t.t, b.b
        |  FROM (SELECT unnest(range(0, 8)) AS t) t,
        |       (SELECT unnest(range(0, 4)) AS b) b),
        |signs AS (
        |  SELECT tb.t, tb.b, dims.d,
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5(CAST(tb.t AS VARCHAR) || ' ' ||
        |                   CAST(tb.b AS VARCHAR) || ' ' ||
        |                   CAST(dims.d AS VARCHAR)), 16, 1)) - 1) & 1 = 1
        |      THEN 1 ELSE -1 END AS s
        |  FROM tb, dims),
        |comp AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM embeddings v, dims dd),
        |proj AS (
        |  SELECT c.vec_id, s.t, s.b, sum(s.s * c.y) AS acc
        |  FROM comp c JOIN signs s ON s.d = c.d
        |  GROUP BY c.vec_id, s.t, s.b),
        |bcodes AS (
        |  SELECT vec_id, t,
        |    sum(CASE WHEN acc > 0 THEN 1 << b ELSE 0 END) AS code
        |  FROM proj GROUP BY vec_id, t),
        |cpair AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
        |  FROM bcodes q JOIN bcodes c ON q.t = c.t AND q.code = c.code
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
        |ans AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT cpair.query_id, cpair.vec_id,
        |      row_number() OVER (PARTITION BY cpair.query_id
        |        ORDER BY list_cosine_similarity(ce.embedding,
        |          qe.embedding) DESC, cpair.vec_id) AS rnk
        |    FROM cpair
        |    JOIN embeddings ce ON ce.vec_id = cpair.vec_id
        |    JOIN embeddings qe ON qe.vec_id = cpair.query_id)
        |  WHERE rnk <= 5),
        |sq AS (SELECT vec_id AS query_id, embedding AS qv
        |       FROM embeddings WHERE vec_id < 10 AND vec_id % 2 = 0),
        |exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY s.query_id
        |        ORDER BY list_cosine_similarity(c.embedding, s.qv) DESC,
        |          c.vec_id) AS rnk
        |    FROM embeddings c CROSS JOIN sq s WHERE c.vec_id >= 10)
        |  WHERE rnk <= 5)
        |SELECT e.query_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 4) AS recall
        |FROM exact e LEFT JOIN ans a
        |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // Frozen centroids from the INITIAL corpus (vec_id >= 15); the
    // synced corpus is source + inserts − deletes, assigned to those
    // same centroids — the delta-maintenance contract replayed in SQL.
    "ann_ivf_synced" ->
      """WITH initial AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 15),
        |cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |           AS cell,
        |         embedding AS cvec
        |  FROM (SELECT vec_id, embedding FROM initial
        |        ORDER BY vec_id LIMIT 16)),
        |corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id >= 5 AND vec_id <> 20),
        |asg AS (
        |  SELECT c.vec_id, c.embedding, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.embedding, t.cvec), t.cell) AS rn
        |  FROM corpus c CROSS JOIN cents t),
        |cells AS (SELECT vec_id, embedding, cell FROM asg WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |probe AS (
        |  SELECT q.query_id, q.qv, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN cents t),
        |cand AS (
        |  SELECT p.query_id, p.qv, c.vec_id, c.embedding
        |  FROM (SELECT query_id, qv, cell FROM probe WHERE pr <= 4) p
        |  JOIN cells c USING (cell)),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(embedding, qv) DESC, vec_id)
        |      AS rnk
        |  FROM cand)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Replays the native BRP-LSH end to end: ±1 projections from
    // md5("brp t d") bit 0, exact 2^20 integer quantization, floored
    // bucket division (exact via floorMod subtraction — DuckDB "/"
    // would float-divide, "//" truncates toward zero), bucket
    // equi-join OR-across-tables, exact L2 refine top-3.
    "ann_lsh_topk" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |ts AS (SELECT unnest(range(0, 4)) AS t),
        |signs AS (
        |  SELECT ts.t, dims.d,
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5('brp ' || CAST(ts.t AS VARCHAR) || ' ' ||
        |                   CAST(dims.d AS VARCHAR)), 16, 1)) - 1) & 1 = 1
        |      THEN 1 ELSE -1 END AS s
        |  FROM ts, dims),
        |comp AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM embeddings v, dims dd),
        |proj AS (
        |  SELECT c.vec_id, s.t, sum(s.s * c.y) AS acc
        |  FROM comp c JOIN signs s ON s.d = c.d
        |  GROUP BY c.vec_id, s.t),
        |buckets AS (
        |  SELECT vec_id, t, CAST(
        |    (acc - ((acc % 524288) + 524288) % 524288) / 524288
        |    AS BIGINT) AS bucket
        |  FROM proj),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
        |  FROM buckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5),
        |ranked AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    row_number() OVER (PARTITION BY cand.query_id
        |      ORDER BY list_distance(ce.embedding, qe.embedding) ASC,
        |        cand.vec_id) AS rnk
        |  FROM cand
        |  JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // full-cover LSH ≡ exact L2 batch KNN
    "ann_lsh_fullcover" ->
      """SELECT * FROM (
        |  SELECT q.vec_id AS query_id,
        |         CAST(row_number() OVER (
        |           PARTITION BY q.vec_id
        |           ORDER BY list_distance(c.embedding, q.embedding) ASC,
        |                    c.vec_id) AS BIGINT) AS rnk,
        |         c.vec_id
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5)
        |WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,
    // MD5 feature-hash embed → cosine top-5 for doc 0: rebuild each
    // doc's sparse integer vector from md5() hex (byte 7 = hex chars
    // 15-16 → dimension via % 64, bit 6 → ±1), then exact integer
    // dot/norm cosine, ranked with doc_id tie-break. Zero-norm docs
    // score 0 (the engine's cosine(0,·) = 0 convention).
    "embed_knn" ->
      """WITH d AS (
        |  SELECT doc_id, trim(text) AS t FROM documents
        |  WHERE doc_id < 200 AND text IS NOT NULL AND trim(text) <> ''),
        |tok AS (
        |  SELECT doc_id, unnest(string_split_regex(t, '\s+')) AS tk
        |  FROM d),
        |b7 AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(tk), 15, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substr(md5(tk), 16, 1)) - 1 AS v
        |  FROM tok),
        |sp AS (
        |  SELECT doc_id, v % 64 AS dim,
        |    sum(CASE WHEN (v >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS x
        |  FROM b7 GROUP BY doc_id, v % 64),
        |nrm AS (SELECT doc_id, sum(x * x) AS n2 FROM sp GROUP BY doc_id),
        |q AS (SELECT dim, x FROM sp WHERE doc_id = 0),
        |qn AS (SELECT n2 FROM nrm WHERE doc_id = 0),
        |dots AS (
        |  SELECT s.doc_id, sum(s.x * q.x) AS dot
        |  FROM sp s JOIN q USING (dim)
        |  WHERE s.doc_id <> 0 GROUP BY s.doc_id),
        |scored AS (
        |  SELECT n.doc_id,
        |    CASE WHEN n.n2 = 0 OR qn.n2 = 0 THEN 0.0
        |         ELSE coalesce(d.dot, 0) / (sqrt(n.n2) * sqrt(qn.n2))
        |    END AS cos
        |  FROM nrm n LEFT JOIN dots d ON d.doc_id = n.doc_id CROSS JOIN qn
        |  WHERE n.doc_id <> 0)
        |SELECT CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
        |         AS BIGINT) AS rnk, doc_id
        |FROM scored ORDER BY cos DESC, doc_id LIMIT 5""".stripMargin,
    // Replays SQ8 end to end: corpus-only min/max per dimension,
    // clamped affine byte encode (floor(.. * 255 + 0.5) - 128, constant
    // dims -> -128), integer code-dot coarse ranking, cosine refine.
    "ann_sq8_rerank" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |comp AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(v.embedding[dd.d + 1] AS DOUBLE) AS x
        |  FROM embeddings v, dims dd),
        |stats AS (
        |  SELECT d, min(x) AS mn, max(x) AS mx
        |  FROM comp WHERE vec_id >= 5 GROUP BY d),
        |codes AS (
        |  SELECT c.vec_id, c.d,
        |    CASE WHEN s.mx = s.mn THEN -128
        |         ELSE CAST(least(greatest(
        |             floor((c.x - s.mn) / (s.mx - s.mn) * 255 + 0.5),
        |             0), 255) AS INT) - 128
        |    END AS b
        |  FROM comp c JOIN stats s USING (d)),
        |cdot AS (
        |  SELECT q.vec_id AS query_id, c.vec_id, sum(q.b * c.b) AS cscore
        |  FROM codes q JOIN codes c USING (d)
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5
        |  GROUP BY q.vec_id, c.vec_id),
        |cand AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cscore DESC, vec_id) AS cr
        |  FROM cdot),
        |fin AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    row_number() OVER (PARTITION BY cand.query_id
        |      ORDER BY list_cosine_similarity(ce.embedding, qe.embedding)
        |        DESC, cand.vec_id) AS rnk
        |  FROM cand
        |  JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id
        |  WHERE cand.cr <= 12)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM fin WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // ann_sq8_rerank's replay with the label predicate restricting
    // candidates BEFORE the coarse k·c rank (quantization stats stay
    // fit on the FULL corpus — build-time freeze).
    "ann_sq8_filtered" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |comp AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(v.embedding[dd.d + 1] AS DOUBLE) AS x
        |  FROM embeddings v, dims dd),
        |stats AS (
        |  SELECT d, min(x) AS mn, max(x) AS mx
        |  FROM comp WHERE vec_id >= 5 GROUP BY d),
        |codes AS (
        |  SELECT c.vec_id, c.d,
        |    CASE WHEN s.mx = s.mn THEN -128
        |         ELSE CAST(least(greatest(
        |             floor((c.x - s.mn) / (s.mx - s.mn) * 255 + 0.5),
        |             0), 255) AS INT) - 128
        |    END AS b
        |  FROM comp c JOIN stats s USING (d)),
        |cdot AS (
        |  SELECT q.vec_id AS query_id, c.vec_id, sum(q.b * c.b) AS cscore
        |  FROM codes q JOIN codes c USING (d)
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5
        |    AND c.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 1)
        |  GROUP BY q.vec_id, c.vec_id),
        |cand AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cscore DESC, vec_id) AS cr
        |  FROM cdot),
        |fin AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    row_number() OVER (PARTITION BY cand.query_id
        |      ORDER BY list_cosine_similarity(ce.embedding, qe.embedding)
        |        DESC, cand.vec_id) AS rnk
        |  FROM cand
        |  JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id
        |  WHERE cand.cr <= 12)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM fin WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Replays the native sign-LSH end to end: ±1 planes from md5 bit 0
    // (hex char 16), exact integer projection (floor(x * 2^20)),
    // per-table 4-bit bucket codes, candidate equi-join, cosine top-3
    // refine. Integer arithmetic makes every stage bit-identical
    // across engines.
    "ann_signlsh_topk" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |tb AS (
        |  SELECT t.t, b.b
        |  FROM (SELECT unnest(range(0, 8)) AS t) t,
        |       (SELECT unnest(range(0, 4)) AS b) b),
        |signs AS (
        |  SELECT tb.t, tb.b, dims.d,
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5(CAST(tb.t AS VARCHAR) || ' ' ||
        |                   CAST(tb.b AS VARCHAR) || ' ' ||
        |                   CAST(dims.d AS VARCHAR)), 16, 1)) - 1) & 1 = 1
        |      THEN 1 ELSE -1 END AS s
        |  FROM tb, dims),
        |comp AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM embeddings v, dims dd),
        |proj AS (
        |  SELECT c.vec_id, s.t, s.b, sum(s.s * c.y) AS acc
        |  FROM comp c JOIN signs s ON s.d = c.d
        |  GROUP BY c.vec_id, s.t, s.b),
        |codes AS (
        |  SELECT vec_id, t,
        |    sum(CASE WHEN acc > 0 THEN 1 << b ELSE 0 END) AS code
        |  FROM proj GROUP BY vec_id, t),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
        |  FROM codes q JOIN codes c ON q.t = c.t AND q.code = c.code
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5),
        |ranked AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    row_number() OVER (PARTITION BY cand.query_id
        |      ORDER BY list_cosine_similarity(ce.embedding, qe.embedding)
        |        DESC, cand.vec_id) AS rnk
        |  FROM cand
        |  JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // ann_signlsh_topk's replay with the label predicate applied to
    // the candidate side before ranking (PRE-rank filtered ANN; the
    // bucketing itself is unfiltered).
    "ann_signlsh_filtered" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |tb AS (
        |  SELECT t.t, b.b
        |  FROM (SELECT unnest(range(0, 8)) AS t) t,
        |       (SELECT unnest(range(0, 4)) AS b) b),
        |signs AS (
        |  SELECT tb.t, tb.b, dims.d,
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5(CAST(tb.t AS VARCHAR) || ' ' ||
        |                   CAST(tb.b AS VARCHAR) || ' ' ||
        |                   CAST(dims.d AS VARCHAR)), 16, 1)) - 1) & 1 = 1
        |      THEN 1 ELSE -1 END AS s
        |  FROM tb, dims),
        |comp AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM embeddings v, dims dd),
        |proj AS (
        |  SELECT c.vec_id, s.t, s.b, sum(s.s * c.y) AS acc
        |  FROM comp c JOIN signs s ON s.d = c.d
        |  GROUP BY c.vec_id, s.t, s.b),
        |codes AS (
        |  SELECT vec_id, t,
        |    sum(CASE WHEN acc > 0 THEN 1 << b ELSE 0 END) AS code
        |  FROM proj GROUP BY vec_id, t),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
        |  FROM codes q JOIN codes c ON q.t = c.t AND q.code = c.code
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5),
        |ranked AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    row_number() OVER (PARTITION BY cand.query_id
        |      ORDER BY list_cosine_similarity(ce.embedding, qe.embedding)
        |        DESC, cand.vec_id) AS rnk
        |  FROM cand
        |  JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id
        |  WHERE ce.label = 1)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Replays IVF-PQ end to end: deterministic IVF centroids (first 16
    // corpus ids, DOUBLE L2 assignment + probe), PQ codebooks/encode/
    // ADC in exact integer arithmetic restricted to the probed cells'
    // rows, coarse top-12, DOUBLE[]-cast cosine refine.
    "ann_ivfpq_topk" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |iq AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS xi
        |  FROM embeddings v, dims dd),
        |pcents AS (
        |  SELECT vec_id, j FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |    FROM embeddings
        |    WHERE vec_id >= 5 AND embedding IS NOT NULL)
        |  WHERE j < 32),
        |cb AS (
        |  SELECT (iq.d // 4) AS s, c.j, iq.d, iq.xi
        |  FROM iq JOIN pcents c USING (vec_id)),
        |cdist AS (
        |  SELECT iq.vec_id, cb.s, cb.j,
        |    sum((iq.xi - cb.xi) * (iq.xi - cb.xi)) AS d2
        |  FROM iq JOIN cb ON cb.d = iq.d
        |  WHERE iq.vec_id >= 5
        |  GROUP BY iq.vec_id, cb.s, cb.j),
        |codes AS (
        |  SELECT vec_id, s, j FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s
        |        ORDER BY d2, j) AS rn
        |    FROM cdist) WHERE rn = 1),
        |qtab AS (
        |  SELECT iq.vec_id AS query_id, cb.s, cb.j,
        |    sum((iq.xi - cb.xi) * (iq.xi - cb.xi)) AS d2
        |  FROM iq JOIN cb ON cb.d = iq.d
        |  WHERE iq.vec_id < 5
        |  GROUP BY iq.vec_id, cb.s, cb.j),
        |dcorpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id >= 5),
        |icents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |           AS cell,
        |         v AS cvec
        |  FROM (SELECT vec_id, v FROM dcorpus ORDER BY vec_id LIMIT 16)),
        |asg AS (
        |  SELECT c.vec_id, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.v, t.cvec), t.cell) AS rn
        |  FROM dcorpus c CROSS JOIN icents t),
        |cells AS (SELECT vec_id, cell FROM asg WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |probe AS (
        |  SELECT q.query_id, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN icents t),
        |cpair AS (
        |  SELECT p.query_id, c.vec_id
        |  FROM (SELECT query_id, cell FROM probe WHERE pr <= 4) p
        |  JOIN cells c USING (cell)),
        |adc AS (
        |  SELECT cp.query_id, cp.vec_id, sum(q.d2) AS dist
        |  FROM cpair cp
        |  JOIN codes co ON co.vec_id = cp.vec_id
        |  JOIN qtab q ON q.query_id = cp.query_id
        |    AND q.s = co.s AND q.j = co.j
        |  GROUP BY cp.query_id, cp.vec_id),
        |cand AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, vec_id) AS cr
        |  FROM adc),
        |fin AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    row_number() OVER (PARTITION BY cand.query_id ORDER BY
        |      CASE WHEN list_dot_product(ce.v, ce.v) = 0
        |             OR list_dot_product(qe.qv, qe.qv) = 0 THEN 0
        |           ELSE list_dot_product(ce.v, qe.qv)
        |                / (sqrt(list_dot_product(ce.v, ce.v))
        |                   * sqrt(list_dot_product(qe.qv, qe.qv)))
        |      END DESC, cand.vec_id) AS rnk
        |  FROM cand
        |  JOIN dcorpus ce ON ce.vec_id = cand.vec_id
        |  JOIN qs qe ON qe.query_id = cand.query_id
        |  WHERE cand.cr <= 12)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM fin WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // MaxSim replay: 8×8 token slices, integer sign-pair buckets,
    // bucket-join candidates, exact double cosines, per-query-token
    // max, token-ordered sum, top-5.
    "ann_maxsim_topk" ->
      """WITH toks AS (SELECT unnest(range(0, 8)) AS ti),
        |dt AS (
        |  SELECT vec_id, t.ti,
        |    (embedding::DOUBLE[])[t.ti*8 + 1 : t.ti*8 + 8] AS v
        |  FROM embeddings, toks t
        |  WHERE vec_id >= 5 AND embedding IS NOT NULL),
        |qt AS (
        |  SELECT vec_id AS query_id, t.ti,
        |    (embedding::DOUBLE[])[t.ti*8 + 1 : t.ti*8 + 8] AS v
        |  FROM embeddings, toks t
        |  WHERE vec_id < 5 AND embedding IS NOT NULL),
        |db AS (
        |  SELECT vec_id,
        |    (CASE WHEN xi[1] + xi[2] >= 0 THEN 1 ELSE 0 END) +
        |    (CASE WHEN xi[3] + xi[4] >= 0 THEN 2 ELSE 0 END) +
        |    (CASE WHEN xi[5] + xi[6] >= 0 THEN 4 ELSE 0 END) +
        |    (CASE WHEN xi[7] + xi[8] >= 0 THEN 8 ELSE 0 END) AS b
        |  FROM (SELECT vec_id, list_transform(v,
        |          x -> CAST(floor(x * 1048576) AS BIGINT)) AS xi
        |        FROM dt)),
        |qb AS (
        |  SELECT query_id,
        |    (CASE WHEN xi[1] + xi[2] >= 0 THEN 1 ELSE 0 END) +
        |    (CASE WHEN xi[3] + xi[4] >= 0 THEN 2 ELSE 0 END) +
        |    (CASE WHEN xi[5] + xi[6] >= 0 THEN 4 ELSE 0 END) +
        |    (CASE WHEN xi[7] + xi[8] >= 0 THEN 8 ELSE 0 END) AS b
        |  FROM (SELECT query_id, list_transform(v,
        |          x -> CAST(floor(x * 1048576) AS BIGINT)) AS xi
        |        FROM qt)),
        |cand AS (
        |  SELECT DISTINCT q.query_id, d.vec_id
        |  FROM (SELECT DISTINCT query_id, b FROM qb) q
        |  JOIN (SELECT DISTINCT vec_id, b FROM db) d USING (b)),
        |pcos AS (
        |  SELECT c.query_id, c.vec_id, q.ti,
        |    max(CASE WHEN list_dot_product(q.v, q.v) = 0
        |          OR list_dot_product(d.v, d.v) = 0 THEN 0
        |        ELSE list_dot_product(q.v, d.v)
        |             / (sqrt(list_dot_product(q.v, q.v))
        |                * sqrt(list_dot_product(d.v, d.v))) END) AS m
        |  FROM cand c
        |  JOIN qt q ON q.query_id = c.query_id
        |  JOIN dt d ON d.vec_id = c.vec_id
        |  GROUP BY c.query_id, c.vec_id, q.ti),
        |sc AS (
        |  SELECT query_id, vec_id,
        |    list_reduce(list_prepend(0.0, list(m ORDER BY ti)),
        |      (a, x) -> a + x) AS s
        |  FROM pcos GROUP BY query_id, vec_id)
        |SELECT query_id, rnk, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY s DESC, vec_id) AS BIGINT) AS rnk
        |  FROM sc)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // Shingle-token MaxSim replay: distinct 3-word shingles on both
    // sides (queries = first five words of docs 0-2), per-word md5
    // byte-7 feature hashing into 16-dim integer vectors, sign-pair
    // buckets, candidate generation, exact integer-arithmetic
    // cosines, md5-hex-ordered score folds, top-5.
    "ann_maxsim_docs" ->
      s"""WITH $maxsimDocsCtes
        |SELECT query_id, rnk, did AS doc_id FROM (
        |  SELECT query_id, did,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY ms DESC, did) AS BIGINT) AS rnk
        |  FROM msc)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // Shingle-token MaxSim pruning-recall replay: the shared pruned
    // chain's top-5 vs the SAME chain with NO candidate restriction
    // (bits = 0 brute force — every query × doc pair scored), recall
    // join on sampled queries.
    "ann_recall_maxsim_docs" ->
      s"""WITH $maxsimDocsCtes,
        |ansr AS (
        |  SELECT query_id, did FROM (
        |    SELECT query_id, did,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY ms DESC, did) AS rnk
        |    FROM msc)
        |  WHERE rnk <= 5 AND query_id % 2 = 0),
        |xcos AS (
        |  SELECT q.query_id, d.did, q.ti,
        |    max(CASE WHEN list_dot_product(q.tv, q.tv) = 0
        |          OR list_dot_product(d.tv, d.tv) = 0 THEN 0
        |        ELSE list_dot_product(q.tv, d.tv)
        |             / (sqrt(list_dot_product(q.tv, q.tv))
        |                * sqrt(list_dot_product(d.tv, d.tv))) END) AS m
        |  FROM mqt q CROSS JOIN mdt d
        |  WHERE q.query_id % 2 = 0
        |  GROUP BY q.query_id, d.did, q.ti),
        |xsc AS (
        |  SELECT query_id, did,
        |    list_reduce(list_prepend(0.0, list(m ORDER BY ti)),
        |      (a, x) -> a + x) AS ms
        |  FROM xcos GROUP BY query_id, did),
        |exact AS (
        |  SELECT query_id, did FROM (
        |    SELECT query_id, did,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY ms DESC, did) AS rnk
        |    FROM xsc)
        |  WHERE rnk <= 5)
        |SELECT e.query_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.did IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(sum(CASE WHEN a.did IS NOT NULL THEN 1.0 ELSE 0.0 END)
        |    / count(*), 4) AS recall
        |FROM exact e
        |LEFT JOIN ansr a ON a.query_id = e.query_id AND a.did = e.did
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // Multi-layer HNSW replay: md5 level pools, three graph builds,
    // top-pool scan, both upper walks, three layer-0 hops, top-3.
    "ann_graph_hnsw_topk" ->
      s"""WITH $hnswCtes
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // The hierarchy's recall vs exact brute force at k=3 on sampled
    // queries — the same probe as ann_recall_graph for the flat leg.
    "ann_recall_graph_hnsw" ->
      s"""WITH $hnswCtes,
        |hans AS (
        |  SELECT query_id, vec_id FROM ranked WHERE rnk <= 3),
        |sq AS (SELECT query_id, qv FROM qs WHERE query_id % 2 = 0),
        |hexact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY s.query_id
        |        ORDER BY list_distance(c.v, s.qv), c.vec_id) AS rnk
        |    FROM corpus c CROSS JOIN sq s)
        |  WHERE rnk <= 3)
        |SELECT e.query_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 4) AS recall
        |FROM hexact e LEFT JOIN hans a
        |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // PLAID replay: the shared shingle-token CTEs + trained token
    // centroids (md5 sample, two integer Lloyd rounds), assignment,
    // residual codebooks, encode, query probes, ADC candidate
    // selection, exact refine — top-5 of the refined scores.
    "ann_maxsim_plaid" ->
      s"""WITH $plaidCtes
        |SELECT query_id, rnk, did AS doc_id FROM (
        |  SELECT query_id, did,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY ms DESC, did) AS BIGINT) AS rnk
        |  FROM prsc)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // PLAID pruning-recall replay: the routed chain's top-5 vs the
    // unrestricted exact MaxSim (every query × doc pair scored),
    // recall join on sampled queries.
    "ann_recall_maxsim_plaid" ->
      s"""WITH $plaidCtes,
        |pansr AS (
        |  SELECT query_id, did FROM (
        |    SELECT query_id, did,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY ms DESC, did) AS rnk
        |    FROM prsc)
        |  WHERE rnk <= 5 AND query_id % 2 = 0),
        |pxcos AS (
        |  SELECT q.query_id, d.did, q.ti,
        |    max(CASE WHEN list_dot_product(q.tv, q.tv) = 0
        |          OR list_dot_product(d.tv, d.tv) = 0 THEN 0
        |        ELSE list_dot_product(q.tv, d.tv)
        |             / (sqrt(list_dot_product(q.tv, q.tv))
        |                * sqrt(list_dot_product(d.tv, d.tv))) END) AS m
        |  FROM mqt q CROSS JOIN mdt d
        |  WHERE q.query_id % 2 = 0
        |  GROUP BY q.query_id, d.did, q.ti),
        |pxsc AS (
        |  SELECT query_id, did,
        |    list_reduce(list_prepend(0.0, list(m ORDER BY ti)),
        |      (a, x) -> a + x) AS ms
        |  FROM pxcos GROUP BY query_id, did),
        |pexact AS (
        |  SELECT query_id, did FROM (
        |    SELECT query_id, did,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY ms DESC, did) AS rnk
        |    FROM pxsc)
        |  WHERE rnk <= 5)
        |SELECT e.query_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.did IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(sum(CASE WHEN a.did IS NOT NULL THEN 1.0 ELSE 0.0 END)
        |    / count(*), 4) AS recall
        |FROM pexact e
        |LEFT JOIN pansr a ON a.query_id = e.query_id AND a.did = e.did
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // Residual IVF-PQ replay: deterministic cells + centroid integer
    // components, INTEGER residuals (xi − centroid xi, exact), first-
    // 32-rows residual codebooks, per-(vec, subspace) argmin encode,
    // per-(query, PROBED CELL) residual ADC tables, exact refine.
    "ann_ivfpq_residual" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |iq AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS xi
        |  FROM embeddings v, dims dd),
        |dcorpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id >= 5),
        |icents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |           AS cell, vec_id AS cvid, v AS cvec
        |  FROM (SELECT vec_id, v FROM dcorpus ORDER BY vec_id LIMIT 16)),
        |ci AS (
        |  SELECT ic.cell, iq.d, iq.xi
        |  FROM icents ic JOIN iq ON iq.vec_id = ic.cvid),
        |asg AS (
        |  SELECT c.vec_id, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.v, t.cvec), t.cell) AS rn
        |  FROM dcorpus c CROSS JOIN icents t),
        |cells AS (SELECT vec_id, cell FROM asg WHERE rn = 1),
        |rq AS (
        |  SELECT ce.vec_id, iq.d, iq.xi - ci.xi AS ri
        |  FROM cells ce JOIN iq ON iq.vec_id = ce.vec_id
        |  JOIN ci ON ci.cell = ce.cell AND ci.d = iq.d),
        |pcents AS (
        |  SELECT vec_id, j FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |    FROM embeddings
        |    WHERE vec_id >= 5 AND embedding IS NOT NULL)
        |  WHERE j < 32),
        |cb AS (
        |  SELECT (rq.d // 4) AS s, p.j, rq.d, rq.ri
        |  FROM rq JOIN pcents p USING (vec_id)),
        |cdist AS (
        |  SELECT rq.vec_id, cb.s, cb.j,
        |    sum((rq.ri - cb.ri) * (rq.ri - cb.ri)) AS d2
        |  FROM rq JOIN cb ON cb.d = rq.d
        |  GROUP BY rq.vec_id, cb.s, cb.j),
        |codes AS (
        |  SELECT vec_id, s, j FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s
        |        ORDER BY d2, j) AS rn
        |    FROM cdist) WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |probe AS (
        |  SELECT q.query_id, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN icents t),
        |pc AS (SELECT query_id, cell FROM probe WHERE pr <= 4),
        |qres AS (
        |  SELECT p.query_id, p.cell, iq.d, iq.xi - ci.xi AS qri
        |  FROM pc p JOIN iq ON iq.vec_id = p.query_id
        |  JOIN ci ON ci.cell = p.cell AND ci.d = iq.d),
        |qtab AS (
        |  SELECT qr.query_id, qr.cell, cb.s, cb.j,
        |    sum((qr.qri - cb.ri) * (qr.qri - cb.ri)) AS d2
        |  FROM qres qr JOIN cb ON cb.d = qr.d
        |  GROUP BY qr.query_id, qr.cell, cb.s, cb.j),
        |cpair AS (
        |  SELECT p.query_id, c.vec_id, c.cell
        |  FROM pc p JOIN cells c USING (cell)),
        |adc AS (
        |  SELECT cp.query_id, cp.vec_id, sum(q.d2) AS dist
        |  FROM cpair cp
        |  JOIN codes co ON co.vec_id = cp.vec_id
        |  JOIN qtab q ON q.query_id = cp.query_id AND q.cell = cp.cell
        |    AND q.s = co.s AND q.j = co.j
        |  GROUP BY cp.query_id, cp.vec_id),
        |cand AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, vec_id) AS cr
        |  FROM adc),
        |fin AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    row_number() OVER (PARTITION BY cand.query_id ORDER BY
        |      CASE WHEN list_dot_product(ce.v, ce.v) = 0
        |             OR list_dot_product(qe.qv, qe.qv) = 0 THEN 0
        |           ELSE list_dot_product(ce.v, qe.qv)
        |                / (sqrt(list_dot_product(ce.v, ce.v))
        |                   * sqrt(list_dot_product(qe.qv, qe.qv)))
        |      END DESC, cand.vec_id) AS rnk
        |  FROM cand
        |  JOIN dcorpus ce ON ce.vec_id = cand.vec_id
        |  JOIN qs qe ON qe.query_id = cand.query_id
        |  WHERE cand.cr <= 12)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM fin WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Equal-bytes distortion head-to-head: raw first-32 codebooks vs
    // residual first-32 codebooks over the SAME corpus and integer
    // grid — per-(vec, subspace) min distance summed, per variant.
    "ann_pq_residual_distortion" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |iq AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS xi
        |  FROM embeddings v, dims dd),
        |pcents AS (
        |  SELECT vec_id, j FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |    FROM embeddings
        |    WHERE vec_id >= 5 AND embedding IS NOT NULL)
        |  WHERE j < 32),
        |cbraw AS (
        |  SELECT (iq.d // 4) AS s, c.j, iq.d, iq.xi
        |  FROM iq JOIN pcents c USING (vec_id)),
        |rawdist AS (
        |  SELECT iq.vec_id, b.s, b.j,
        |    sum((iq.xi - b.xi) * (iq.xi - b.xi)) AS d2
        |  FROM iq JOIN cbraw b ON b.d = iq.d
        |  WHERE iq.vec_id >= 5
        |  GROUP BY iq.vec_id, b.s, b.j),
        |dcorpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id >= 5),
        |icents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |           AS cell, vec_id AS cvid, v AS cvec
        |  FROM (SELECT vec_id, v FROM dcorpus ORDER BY vec_id LIMIT 16)),
        |ci AS (
        |  SELECT ic.cell, iq.d, iq.xi
        |  FROM icents ic JOIN iq ON iq.vec_id = ic.cvid),
        |asg AS (
        |  SELECT c.vec_id, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.v, t.cvec), t.cell) AS rn
        |  FROM dcorpus c CROSS JOIN icents t),
        |cells AS (SELECT vec_id, cell FROM asg WHERE rn = 1),
        |rq AS (
        |  SELECT ce.vec_id, iq.d, iq.xi - ci.xi AS ri
        |  FROM cells ce JOIN iq ON iq.vec_id = ce.vec_id
        |  JOIN ci ON ci.cell = ce.cell AND ci.d = iq.d),
        |cbres AS (
        |  SELECT (rq.d // 4) AS s, p.j, rq.d, rq.ri
        |  FROM rq JOIN pcents p USING (vec_id)),
        |resdist AS (
        |  SELECT rq.vec_id, b.s, b.j,
        |    sum((rq.ri - b.ri) * (rq.ri - b.ri)) AS d2
        |  FROM rq JOIN cbres b ON b.d = rq.d
        |  GROUP BY rq.vec_id, b.s, b.j),
        |alldist AS (
        |  SELECT 'raw' AS variant, vec_id, s, j, d2 FROM rawdist
        |  UNION ALL
        |  SELECT 'residual' AS variant, vec_id, s, j, d2 FROM resdist),
        |mind AS (
        |  SELECT variant, vec_id, s, min(d2) AS md
        |  FROM alldist GROUP BY variant, vec_id, s),
        |perrow AS (
        |  SELECT variant, vec_id, CAST(sum(md) AS BIGINT) AS dist
        |  FROM mind GROUP BY variant, vec_id)
        |SELECT variant,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(dist) AS BIGINT) AS total_d2,
        |  round(avg(dist), 2) AS avg_d2
        |FROM perrow GROUP BY variant ORDER BY variant""".stripMargin,
    // Replays PQ end to end: integer quantization floor(x*2^20),
    // codebooks = first-32 corpus rows' sub-vectors, per-(vec,subspace)
    // argmin encode (ties -> lowest centroid), ADC = sum of the coded
    // centroids' integer L2^2 to the query sub-vectors, coarse top-12,
    // DOUBLE[]-cast cosine refine (zero-norm -> 0 convention).
    "ann_pq_rerank" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |iq AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS xi
        |  FROM embeddings v, dims dd),
        |cents AS (
        |  SELECT vec_id, j FROM (
        |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |    FROM embeddings
        |    WHERE vec_id >= 5 AND embedding IS NOT NULL)
        |  WHERE j < 32),
        |cb AS (
        |  SELECT (iq.d // 4) AS s, c.j, iq.d, iq.xi
        |  FROM iq JOIN cents c USING (vec_id)),
        |cdist AS (
        |  SELECT iq.vec_id, cb.s, cb.j,
        |    sum((iq.xi - cb.xi) * (iq.xi - cb.xi)) AS d2
        |  FROM iq JOIN cb ON cb.d = iq.d
        |  WHERE iq.vec_id >= 5
        |  GROUP BY iq.vec_id, cb.s, cb.j),
        |codes AS (
        |  SELECT vec_id, s, j FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s
        |        ORDER BY d2, j) AS rn
        |    FROM cdist) WHERE rn = 1),
        |qtab AS (
        |  SELECT iq.vec_id AS query_id, cb.s, cb.j,
        |    sum((iq.xi - cb.xi) * (iq.xi - cb.xi)) AS d2
        |  FROM iq JOIN cb ON cb.d = iq.d
        |  WHERE iq.vec_id < 5
        |  GROUP BY iq.vec_id, cb.s, cb.j),
        |adc AS (
        |  SELECT c.vec_id, q.query_id, sum(q.d2) AS dist
        |  FROM codes c JOIN qtab q ON q.s = c.s AND q.j = c.j
        |  GROUP BY c.vec_id, q.query_id),
        |cand AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, vec_id) AS cr
        |  FROM adc),
        |fin AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    row_number() OVER (PARTITION BY cand.query_id ORDER BY
        |      CASE WHEN list_dot_product(ce.embedding::DOUBLE[],
        |                                 ce.embedding::DOUBLE[]) = 0
        |             OR list_dot_product(qe.embedding::DOUBLE[],
        |                                 qe.embedding::DOUBLE[]) = 0
        |           THEN 0
        |           ELSE list_dot_product(ce.embedding::DOUBLE[],
        |                                 qe.embedding::DOUBLE[])
        |                / (sqrt(list_dot_product(ce.embedding::DOUBLE[],
        |                                         ce.embedding::DOUBLE[]))
        |                   * sqrt(list_dot_product(qe.embedding::DOUBLE[],
        |                                           qe.embedding::DOUBLE[])))
        |      END DESC, cand.vec_id) AS rnk
        |  FROM cand
        |  JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id
        |  WHERE cand.cr <= 12)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM fin WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Replays PQ with TRAINED codebooks: md5-ordered 128-row sample,
    // init = first 32 sample sub-vectors per subspace, then TWO
    // unrolled integer-Lloyd iterations (exact integer L2^2 argmin,
    // ties -> lowest index; means = floorDiv via floorMod subtraction
    // -- DuckDB "/" float-divides, "//" truncates toward zero; empty
    // cluster keeps its previous centroid via COALESCE), then the
    // standard encode/ADC/refine replay of ann_pq_rerank over the
    // trained codebook.
    "ann_pq_trained_rerank" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |iq AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS xi
        |  FROM embeddings v, dims dd),
        |samp AS (
        |  SELECT r, embedding FROM (
        |    SELECT embedding,
        |      row_number() OVER (
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
        |    FROM embeddings WHERE vec_id >= 5 AND embedding IS NOT NULL)
        |  WHERE r < 128),
        |sp AS (
        |  SELECT s.r, dd.d,
        |    CAST(floor(CAST(s.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM samp s, dims dd),
        |c0 AS (SELECT (d // 4) AS s, r AS j, d, y FROM sp WHERE r < 32),
        |d1 AS (
        |  SELECT p.r, c.s, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN c0 c ON c.d = p.d
        |  GROUP BY p.r, c.s, c.j),
        |m1 AS (SELECT r, s, j FROM (
        |  SELECT r, s, j,
        |    row_number() OVER (PARTITION BY r, s ORDER BY d2, j) AS rn
        |  FROM d1) WHERE rn = 1),
        |g1 AS (
        |  SELECT m.s, m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m1 m JOIN sp p ON p.r = m.r AND (p.d // 4) = m.s
        |  GROUP BY m.s, m.j, p.d),
        |c1 AS (
        |  SELECT c0.s, c0.j, c0.d,
        |    COALESCE(CAST((g1.sy - (((g1.sy % g1.c) + g1.c) % g1.c))
        |      / g1.c AS BIGINT), c0.y) AS y
        |  FROM c0 LEFT JOIN g1
        |    ON g1.s = c0.s AND g1.j = c0.j AND g1.d = c0.d),
        |d2i AS (
        |  SELECT p.r, c.s, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN c1 c ON c.d = p.d
        |  GROUP BY p.r, c.s, c.j),
        |m2 AS (SELECT r, s, j FROM (
        |  SELECT r, s, j,
        |    row_number() OVER (PARTITION BY r, s ORDER BY d2, j) AS rn
        |  FROM d2i) WHERE rn = 1),
        |g2 AS (
        |  SELECT m.s, m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m2 m JOIN sp p ON p.r = m.r AND (p.d // 4) = m.s
        |  GROUP BY m.s, m.j, p.d),
        |cb AS (
        |  SELECT c1.s, c1.j, c1.d,
        |    COALESCE(CAST((g2.sy - (((g2.sy % g2.c) + g2.c) % g2.c))
        |      / g2.c AS BIGINT), c1.y) AS xi
        |  FROM c1 LEFT JOIN g2
        |    ON g2.s = c1.s AND g2.j = c1.j AND g2.d = c1.d),
        |cdist AS (
        |  SELECT iq.vec_id, cb.s, cb.j,
        |    sum((iq.xi - cb.xi) * (iq.xi - cb.xi)) AS d2
        |  FROM iq JOIN cb ON cb.d = iq.d
        |  WHERE iq.vec_id >= 5
        |  GROUP BY iq.vec_id, cb.s, cb.j),
        |codes AS (
        |  SELECT vec_id, s, j FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s
        |        ORDER BY d2, j) AS rn
        |    FROM cdist) WHERE rn = 1),
        |qtab AS (
        |  SELECT iq.vec_id AS query_id, cb.s, cb.j,
        |    sum((iq.xi - cb.xi) * (iq.xi - cb.xi)) AS d2
        |  FROM iq JOIN cb ON cb.d = iq.d
        |  WHERE iq.vec_id < 5
        |  GROUP BY iq.vec_id, cb.s, cb.j),
        |adc AS (
        |  SELECT c.vec_id, q.query_id, sum(q.d2) AS dist
        |  FROM codes c JOIN qtab q ON q.s = c.s AND q.j = c.j
        |  GROUP BY c.vec_id, q.query_id),
        |cand AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, vec_id) AS cr
        |  FROM adc),
        |fin AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    row_number() OVER (PARTITION BY cand.query_id ORDER BY
        |      CASE WHEN list_dot_product(ce.embedding::DOUBLE[],
        |                                 ce.embedding::DOUBLE[]) = 0
        |             OR list_dot_product(qe.embedding::DOUBLE[],
        |                                 qe.embedding::DOUBLE[]) = 0
        |           THEN 0
        |           ELSE list_dot_product(ce.embedding::DOUBLE[],
        |                                 qe.embedding::DOUBLE[])
        |                / (sqrt(list_dot_product(ce.embedding::DOUBLE[],
        |                                         ce.embedding::DOUBLE[]))
        |                   * sqrt(list_dot_product(qe.embedding::DOUBLE[],
        |                                           qe.embedding::DOUBLE[])))
        |      END DESC, cand.vec_id) AS rnk
        |  FROM cand
        |  JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id
        |  WHERE cand.cr <= 12)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM fin WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Replays TRAINED-centroid IVF: the same md5-ordered sample and
    // two unrolled integer-Lloyd iterations over FULL 64-dim vectors
    // (init = first 16 sample rows), trained centroids re-scaled to
    // y/2^20 doubles (exact in Float32, so the engine's float centroid
    // side loses nothing), then ann_ivf_topk's assignment, probe and
    // cosine refine over them.
    "ann_ivf_trained_topk" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |samp AS (
        |  SELECT r, embedding FROM (
        |    SELECT embedding,
        |      row_number() OVER (
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
        |    FROM embeddings WHERE vec_id >= 5 AND embedding IS NOT NULL)
        |  WHERE r < 128),
        |sp AS (
        |  SELECT s.r, dd.d,
        |    CAST(floor(CAST(s.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM samp s, dims dd),
        |c0 AS (SELECT r AS j, d, y FROM sp WHERE r < 16),
        |d1 AS (
        |  SELECT p.r, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN c0 c ON c.d = p.d
        |  GROUP BY p.r, c.j),
        |m1 AS (SELECT r, j FROM (
        |  SELECT r, j, row_number() OVER (PARTITION BY r ORDER BY d2, j)
        |    AS rn FROM d1) WHERE rn = 1),
        |g1 AS (
        |  SELECT m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m1 m JOIN sp p ON p.r = m.r
        |  GROUP BY m.j, p.d),
        |c1 AS (
        |  SELECT c0.j, c0.d,
        |    COALESCE(CAST((g1.sy - (((g1.sy % g1.c) + g1.c) % g1.c))
        |      / g1.c AS BIGINT), c0.y) AS y
        |  FROM c0 LEFT JOIN g1 ON g1.j = c0.j AND g1.d = c0.d),
        |d2i AS (
        |  SELECT p.r, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN c1 c ON c.d = p.d
        |  GROUP BY p.r, c.j),
        |m2 AS (SELECT r, j FROM (
        |  SELECT r, j, row_number() OVER (PARTITION BY r ORDER BY d2, j)
        |    AS rn FROM d2i) WHERE rn = 1),
        |g2 AS (
        |  SELECT m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m2 m JOIN sp p ON p.r = m.r
        |  GROUP BY m.j, p.d),
        |c2 AS (
        |  SELECT c1.j, c1.d,
        |    COALESCE(CAST((g2.sy - (((g2.sy % g2.c) + g2.c) % g2.c))
        |      / g2.c AS BIGINT), c1.y) AS y
        |  FROM c1 LEFT JOIN g2 ON g2.j = c1.j AND g2.d = c1.d),
        |cents AS (
        |  SELECT CAST(j AS INT) AS cell,
        |    list(y / 1048576.0 ORDER BY d) AS cvec
        |  FROM c2 GROUP BY j),
        |corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 5 AND embedding IS NOT NULL),
        |asg AS (
        |  SELECT c.vec_id, c.v, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.v, t.cvec), t.cell) AS rn
        |  FROM corpus c CROSS JOIN cents t),
        |cells AS (SELECT vec_id, v, cell FROM asg WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |probe AS (
        |  SELECT q.query_id, q.qv, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN cents t),
        |cand AS (
        |  SELECT p.query_id, p.qv, c.vec_id, c.v
        |  FROM (SELECT query_id, qv, cell FROM probe WHERE pr <= 4) p
        |  JOIN cells c USING (cell)),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(v, qv) DESC, vec_id) AS rnk
        |  FROM cand)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Replays BOTH trainings off one shared md5 sample — full-dim
    // Lloyd for the 16 coarse centroids, per-subspace Lloyd for the
    // 16×32 PQ codebooks — then the persisted IVF-PQ pipeline: cell
    // assignment with the trained centroids, nProbe=4 probe, ADC over
    // the PROBED cells' codes only, exact cosine refine of the top-12.
    "ann_ivfpq_trained_persisted" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |iq AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS xi
        |  FROM embeddings v, dims dd),
        |samp AS (
        |  SELECT r, embedding FROM (
        |    SELECT embedding,
        |      row_number() OVER (
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
        |    FROM embeddings WHERE vec_id >= 5 AND embedding IS NOT NULL)
        |  WHERE r < 128),
        |sp AS (
        |  SELECT s.r, dd.d,
        |    CAST(floor(CAST(s.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM samp s, dims dd),
        |pc0 AS (SELECT (d // 4) AS s, r AS j, d, y FROM sp WHERE r < 32),
        |pd1 AS (
        |  SELECT p.r, c.s, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN pc0 c ON c.d = p.d
        |  GROUP BY p.r, c.s, c.j),
        |pm1 AS (SELECT r, s, j FROM (
        |  SELECT r, s, j,
        |    row_number() OVER (PARTITION BY r, s ORDER BY d2, j) AS rn
        |  FROM pd1) WHERE rn = 1),
        |pg1 AS (
        |  SELECT m.s, m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM pm1 m JOIN sp p ON p.r = m.r AND (p.d // 4) = m.s
        |  GROUP BY m.s, m.j, p.d),
        |pc1 AS (
        |  SELECT pc0.s, pc0.j, pc0.d,
        |    COALESCE(CAST((pg1.sy - (((pg1.sy % pg1.c) + pg1.c) % pg1.c))
        |      / pg1.c AS BIGINT), pc0.y) AS y
        |  FROM pc0 LEFT JOIN pg1
        |    ON pg1.s = pc0.s AND pg1.j = pc0.j AND pg1.d = pc0.d),
        |pd2 AS (
        |  SELECT p.r, c.s, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN pc1 c ON c.d = p.d
        |  GROUP BY p.r, c.s, c.j),
        |pm2 AS (SELECT r, s, j FROM (
        |  SELECT r, s, j,
        |    row_number() OVER (PARTITION BY r, s ORDER BY d2, j) AS rn
        |  FROM pd2) WHERE rn = 1),
        |pg2 AS (
        |  SELECT m.s, m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM pm2 m JOIN sp p ON p.r = m.r AND (p.d // 4) = m.s
        |  GROUP BY m.s, m.j, p.d),
        |cb AS (
        |  SELECT pc1.s, pc1.j, pc1.d,
        |    COALESCE(CAST((pg2.sy - (((pg2.sy % pg2.c) + pg2.c) % pg2.c))
        |      / pg2.c AS BIGINT), pc1.y) AS xi
        |  FROM pc1 LEFT JOIN pg2
        |    ON pg2.s = pc1.s AND pg2.j = pc1.j AND pg2.d = pc1.d),
        |ic0 AS (SELECT r AS j, d, y FROM sp WHERE r < 16),
        |id1 AS (
        |  SELECT p.r, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN ic0 c ON c.d = p.d
        |  GROUP BY p.r, c.j),
        |im1 AS (SELECT r, j FROM (
        |  SELECT r, j, row_number() OVER (PARTITION BY r ORDER BY d2, j)
        |    AS rn FROM id1) WHERE rn = 1),
        |ig1 AS (
        |  SELECT m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM im1 m JOIN sp p ON p.r = m.r
        |  GROUP BY m.j, p.d),
        |ic1 AS (
        |  SELECT ic0.j, ic0.d,
        |    COALESCE(CAST((ig1.sy - (((ig1.sy % ig1.c) + ig1.c) % ig1.c))
        |      / ig1.c AS BIGINT), ic0.y) AS y
        |  FROM ic0 LEFT JOIN ig1 ON ig1.j = ic0.j AND ig1.d = ic0.d),
        |id2 AS (
        |  SELECT p.r, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN ic1 c ON c.d = p.d
        |  GROUP BY p.r, c.j),
        |im2 AS (SELECT r, j FROM (
        |  SELECT r, j, row_number() OVER (PARTITION BY r ORDER BY d2, j)
        |    AS rn FROM id2) WHERE rn = 1),
        |ig2 AS (
        |  SELECT m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM im2 m JOIN sp p ON p.r = m.r
        |  GROUP BY m.j, p.d),
        |ic2 AS (
        |  SELECT ic1.j, ic1.d,
        |    COALESCE(CAST((ig2.sy - (((ig2.sy % ig2.c) + ig2.c) % ig2.c))
        |      / ig2.c AS BIGINT), ic1.y) AS y
        |  FROM ic1 LEFT JOIN ig2 ON ig2.j = ic1.j AND ig2.d = ic1.d),
        |cents AS (
        |  SELECT CAST(j AS INT) AS cell,
        |    list(y / 1048576.0 ORDER BY d) AS cvec
        |  FROM ic2 GROUP BY j),
        |corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 5 AND embedding IS NOT NULL),
        |asg AS (
        |  SELECT c.vec_id, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.v, t.cvec), t.cell) AS rn
        |  FROM corpus c CROSS JOIN cents t),
        |cells AS (SELECT vec_id, cell FROM asg WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |probe AS (
        |  SELECT q.query_id, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN cents t),
        |pcells AS (SELECT query_id, cell FROM probe WHERE pr <= 4),
        |cdist AS (
        |  SELECT iq.vec_id, cb.s, cb.j,
        |    sum((iq.xi - cb.xi) * (iq.xi - cb.xi)) AS d2
        |  FROM iq JOIN cb ON cb.d = iq.d
        |  WHERE iq.vec_id >= 5
        |  GROUP BY iq.vec_id, cb.s, cb.j),
        |codes AS (
        |  SELECT vec_id, s, j FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s
        |        ORDER BY d2, j) AS rn
        |    FROM cdist) WHERE rn = 1),
        |qtab AS (
        |  SELECT iq.vec_id AS query_id, cb.s, cb.j,
        |    sum((iq.xi - cb.xi) * (iq.xi - cb.xi)) AS d2
        |  FROM iq JOIN cb ON cb.d = iq.d
        |  WHERE iq.vec_id < 5
        |  GROUP BY iq.vec_id, cb.s, cb.j),
        |adc AS (
        |  SELECT c.vec_id, p.query_id, sum(q.d2) AS dist
        |  FROM codes c
        |  JOIN cells l ON l.vec_id = c.vec_id
        |  JOIN pcells p ON p.cell = l.cell
        |  JOIN qtab q ON q.query_id = p.query_id
        |    AND q.s = c.s AND q.j = c.j
        |  GROUP BY c.vec_id, p.query_id),
        |cand AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, vec_id) AS cr
        |  FROM adc),
        |fin AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    row_number() OVER (PARTITION BY cand.query_id ORDER BY
        |      CASE WHEN list_dot_product(ce.embedding::DOUBLE[],
        |                                 ce.embedding::DOUBLE[]) = 0
        |             OR list_dot_product(qe.embedding::DOUBLE[],
        |                                 qe.embedding::DOUBLE[]) = 0
        |           THEN 0
        |           ELSE list_dot_product(ce.embedding::DOUBLE[],
        |                                 qe.embedding::DOUBLE[])
        |                / (sqrt(list_dot_product(ce.embedding::DOUBLE[],
        |                                         ce.embedding::DOUBLE[]))
        |                   * sqrt(list_dot_product(qe.embedding::DOUBLE[],
        |                                           qe.embedding::DOUBLE[])))
        |      END DESC, cand.vec_id) AS rnk
        |  FROM cand
        |  JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id
        |  WHERE cand.cr <= 12)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM fin WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // The trained-IVF recall probe: re-trains the 16 centroids on the
    // vec_id >= 10 corpus (same md5 sample + two unrolled Lloyd
    // iterations), replays the degraded nProbe=1 search at k=5, the
    // exact cosine side on the parity-sampled queries, and the recall
    // join — ann_recall_probe with trained centroids.
    "ann_recall_ivf_trained" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |samp AS (
        |  SELECT r, embedding FROM (
        |    SELECT embedding,
        |      row_number() OVER (
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
        |    FROM embeddings WHERE vec_id >= 10 AND embedding IS NOT NULL)
        |  WHERE r < 128),
        |sp AS (
        |  SELECT s.r, dd.d,
        |    CAST(floor(CAST(s.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM samp s, dims dd),
        |c0 AS (SELECT r AS j, d, y FROM sp WHERE r < 16),
        |d1 AS (
        |  SELECT p.r, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN c0 c ON c.d = p.d
        |  GROUP BY p.r, c.j),
        |m1 AS (SELECT r, j FROM (
        |  SELECT r, j, row_number() OVER (PARTITION BY r ORDER BY d2, j)
        |    AS rn FROM d1) WHERE rn = 1),
        |g1 AS (
        |  SELECT m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m1 m JOIN sp p ON p.r = m.r
        |  GROUP BY m.j, p.d),
        |c1 AS (
        |  SELECT c0.j, c0.d,
        |    COALESCE(CAST((g1.sy - (((g1.sy % g1.c) + g1.c) % g1.c))
        |      / g1.c AS BIGINT), c0.y) AS y
        |  FROM c0 LEFT JOIN g1 ON g1.j = c0.j AND g1.d = c0.d),
        |d2i AS (
        |  SELECT p.r, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
        |  FROM sp p JOIN c1 c ON c.d = p.d
        |  GROUP BY p.r, c.j),
        |m2 AS (SELECT r, j FROM (
        |  SELECT r, j, row_number() OVER (PARTITION BY r ORDER BY d2, j)
        |    AS rn FROM d2i) WHERE rn = 1),
        |g2 AS (
        |  SELECT m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m2 m JOIN sp p ON p.r = m.r
        |  GROUP BY m.j, p.d),
        |c2 AS (
        |  SELECT c1.j, c1.d,
        |    COALESCE(CAST((g2.sy - (((g2.sy % g2.c) + g2.c) % g2.c))
        |      / g2.c AS BIGINT), c1.y) AS y
        |  FROM c1 LEFT JOIN g2 ON g2.j = c1.j AND g2.d = c1.d),
        |cents AS (
        |  SELECT CAST(j AS INT) AS cell,
        |    list(y / 1048576.0 ORDER BY d) AS cvec
        |  FROM c2 GROUP BY j),
        |corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 10 AND embedding IS NOT NULL),
        |asg AS (
        |  SELECT c.vec_id, c.v, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.v, t.cvec), t.cell) AS rn
        |  FROM corpus c CROSS JOIN cents t),
        |cells AS (SELECT vec_id, v, cell FROM asg WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |probe AS (
        |  SELECT q.query_id, q.qv, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN cents t),
        |cand AS (
        |  SELECT p.query_id, p.qv, c.vec_id, c.v
        |  FROM (SELECT query_id, qv, cell FROM probe WHERE pr <= 1) p
        |  JOIN cells c USING (cell)),
        |ans AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY list_cosine_similarity(v, qv) DESC, vec_id) AS rnk
        |    FROM cand)
        |  WHERE rnk <= 5),
        |sq AS (SELECT query_id, qv FROM qs WHERE query_id % 2 = 0),
        |exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY s.query_id
        |        ORDER BY list_cosine_similarity(c.v, s.qv) DESC,
        |          c.vec_id) AS rnk
        |    FROM corpus c CROSS JOIN sq s)
        |  WHERE rnk <= 5)
        |SELECT e.query_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 4) AS recall
        |FROM exact e LEFT JOIN ans a
        |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // Replays the best-first graph-ANN search end to end: exact 6-NN
    // graph (L2, id tie-break) on the bounded corpus block, seeded
    // entries (per-query top-4 of the mod-5 sample), then three
    // beam-4 BEST-FIRST hops unrolled as CTEs — fN = the top-beam
    // UNEXPANDED candidates (NOT EXISTS against the earlier
    // frontiers = the visited set), cN = candidates after hop N —
    // final exact top-3. DOUBLE[] casts keep distance accumulation
    // bit-identical with the engine's VectorDistance.
    "ann_graph_synced" ->
      """WITH initial AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 15 AND vec_id < 600),
        |newb AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 5 AND vec_id < 15),
        |corpus AS (
        |  SELECT * FROM initial UNION ALL SELECT * FROM newb),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |base_edges AS (
        |  SELECT src, dst FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
        |    FROM initial a JOIN initial b ON a.vec_id <> b.vec_id)
        |  WHERE rn <= 6),
        |new_sel AS (
        |  SELECT src, dst FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
        |    FROM newb a JOIN corpus b ON a.vec_id <> b.vec_id)
        |  WHERE rn <= 6),
        |edges AS (
        |  SELECT src, dst FROM base_edges
        |  UNION ALL
        |  SELECT src, dst FROM (
        |    SELECT src, dst FROM new_sel
        |    UNION
        |    SELECT dst AS src, src AS dst FROM new_sel)),
        |c0 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(c.v, q.qv), c.vec_id) AS r
        |    FROM corpus c CROSS JOIN qs q WHERE c.vec_id % 5 = 0)
        |  WHERE r <= 4),
        |f1 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c0 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id)
        |  WHERE r <= 4),
        |c1 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c0
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f1 f JOIN edges g ON g.src = f.vec_id)),
        |f2 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c1 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c2 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c1
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f2 f JOIN edges g ON g.src = f.vec_id)),
        |f3 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c2 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id)
        |    AND NOT EXISTS (SELECT 1 FROM f2 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c3 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c2
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f3 f JOIN edges g ON g.src = f.vec_id)),
        |ranked AS (
        |  SELECT c.query_id, c.vec_id,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_distance(v.v, q.qv), c.vec_id) AS rnk
        |  FROM c3 c JOIN corpus v ON v.vec_id = c.vec_id
        |  JOIN qs q ON q.query_id = c.query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // ann_graph_synced's replay plus delete semantics: base edges
    // touching a deleted node are filtered out (the tombstone
    // anti-join), insert edges target the post-change pool only, and
    // the search corpus excludes deleted rows — exactly what the
    // engine's stale-corpus query must reconstruct from the layout.
    "ann_graph_sync_delete" ->
      """WITH initial AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 15 AND vec_id < 400),
        |dels AS (
        |  SELECT vec_id FROM embeddings
        |  WHERE vec_id >= 15 AND vec_id < 25),
        |newb AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 5 AND vec_id < 15),
        |corpus AS (
        |  SELECT * FROM initial
        |  WHERE vec_id NOT IN (SELECT vec_id FROM dels)
        |  UNION ALL SELECT * FROM newb),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |base_edges AS (
        |  SELECT src, dst FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
        |    FROM initial a JOIN initial b ON a.vec_id <> b.vec_id)
        |  WHERE rn <= 6),
        |live_base AS (
        |  SELECT src, dst FROM base_edges
        |  WHERE src NOT IN (SELECT vec_id FROM dels)
        |    AND dst NOT IN (SELECT vec_id FROM dels)),
        |new_sel AS (
        |  SELECT src, dst FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
        |    FROM newb a JOIN corpus b ON a.vec_id <> b.vec_id)
        |  WHERE rn <= 6),
        |edges AS (
        |  SELECT src, dst FROM live_base
        |  UNION ALL
        |  SELECT src, dst FROM (
        |    SELECT src, dst FROM new_sel
        |    UNION
        |    SELECT dst AS src, src AS dst FROM new_sel)),
        |c0 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(c.v, q.qv), c.vec_id) AS r
        |    FROM corpus c CROSS JOIN qs q WHERE c.vec_id % 5 = 0)
        |  WHERE r <= 4),
        |f1 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c0 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id)
        |  WHERE r <= 4),
        |c1 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c0
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f1 f JOIN edges g ON g.src = f.vec_id)),
        |f2 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c1 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c2 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c1
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f2 f JOIN edges g ON g.src = f.vec_id)),
        |f3 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c2 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id)
        |    AND NOT EXISTS (SELECT 1 FROM f2 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c3 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c2
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f3 f JOIN edges g ON g.src = f.vec_id)),
        |ranked AS (
        |  SELECT c.query_id, c.vec_id,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_distance(v.v, q.qv), c.vec_id) AS rnk
        |  FROM c3 c JOIN corpus v ON v.vec_id = c.vec_id
        |  JOIN qs q ON q.query_id = c.query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    "ann_graph_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 5 AND vec_id < 1000),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |edges AS (
        |  SELECT src, dst FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
        |    FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id)
        |  WHERE rn <= 6),
        |c0 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(c.v, q.qv), c.vec_id) AS r
        |    FROM corpus c CROSS JOIN qs q WHERE c.vec_id % 5 = 0)
        |  WHERE r <= 4),
        |f1 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c0 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id)
        |  WHERE r <= 4),
        |c1 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c0
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f1 f JOIN edges g ON g.src = f.vec_id)),
        |f2 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c1 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c2 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c1
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f2 f JOIN edges g ON g.src = f.vec_id)),
        |f3 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c2 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id)
        |    AND NOT EXISTS (SELECT 1 FROM f2 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c3 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c2
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f3 f JOIN edges g ON g.src = f.vec_id)),
        |ranked AS (
        |  SELECT c.query_id, c.vec_id,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_distance(v.v, q.qv), c.vec_id) AS rnk
        |  FROM c3 c JOIN corpus v ON v.vec_id = c.vec_id
        |  JOIN qs q ON q.query_id = c.query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // The ann_graph_topk replay (build + entries + 3 hops) as the
    // answers side, exact L2 top-3 on the mod-2 query sample as the
    // truth side, recall join on top — recallAtK over the graph leg.
    "ann_recall_graph" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 5 AND vec_id < 1000),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |edges AS (
        |  SELECT src, dst FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
        |    FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id)
        |  WHERE rn <= 6),
        |c0 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(c.v, q.qv), c.vec_id) AS r
        |    FROM corpus c CROSS JOIN qs q WHERE c.vec_id % 5 = 0)
        |  WHERE r <= 4),
        |f1 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c0 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id)
        |  WHERE r <= 4),
        |c1 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c0
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f1 f JOIN edges g ON g.src = f.vec_id)),
        |f2 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c1 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c2 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c1
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f2 f JOIN edges g ON g.src = f.vec_id)),
        |f3 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c2 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id)
        |    AND NOT EXISTS (SELECT 1 FROM f2 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c3 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c2
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f3 f JOIN edges g ON g.src = f.vec_id)),
        |ans AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS rnk
        |    FROM c3 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id)
        |  WHERE rnk <= 3),
        |sq AS (SELECT query_id, qv FROM qs WHERE query_id % 2 = 0),
        |exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT s.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY s.query_id
        |        ORDER BY list_distance(c.v, s.qv), c.vec_id) AS rnk
        |    FROM corpus c CROSS JOIN sq s)
        |  WHERE rnk <= 3)
        |SELECT e.query_id,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 4) AS recall
        |FROM exact e LEFT JOIN ans a
        |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // ann_graph_topk's replay with the ENTRY replaced by the two-layer
    // descent: e0 = top-2 of the mod-25 pool, g1/d1/g2/d2 = two beam-3
    // best-first hops over the layer-1 4-NN edge graph (mod-5 pool),
    // c0 = the descent's top-4 — then the same three layer-0 hops.
    "ann_graph_layered_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 5 AND vec_id < 1000),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |edges AS (
        |  SELECT src, dst FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
        |    FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id)
        |  WHERE rn <= 6),
        |l1 AS (SELECT vec_id, v FROM corpus WHERE vec_id % 5 = 0),
        |l1_edges AS (
        |  SELECT src, dst FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
        |    FROM l1 a JOIN l1 b ON a.vec_id <> b.vec_id)
        |  WHERE rn <= 4),
        |e0 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(c.v, q.qv), c.vec_id) AS r
        |    FROM l1 c CROSS JOIN qs q WHERE c.vec_id % 25 = 0)
        |  WHERE r <= 2),
        |g1 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM e0 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id)
        |  WHERE r <= 3),
        |d1 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM e0
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM g1 f JOIN l1_edges g ON g.src = f.vec_id)),
        |g2 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM d1 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM g1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 3),
        |d2 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM d1
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM g2 f JOIN l1_edges g ON g.src = f.vec_id)),
        |c0 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM d2 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id)
        |  WHERE r <= 4),
        |f1 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c0 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id)
        |  WHERE r <= 4),
        |c1 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c0
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f1 f JOIN edges g ON g.src = f.vec_id)),
        |f2 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c1 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c2 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c1
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f2 f JOIN edges g ON g.src = f.vec_id)),
        |f3 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c2 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id)
        |    AND NOT EXISTS (SELECT 1 FROM f2 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c3 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c2
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f3 f JOIN edges g ON g.src = f.vec_id)),
        |ranked AS (
        |  SELECT c.query_id, c.vec_id,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_distance(v.v, q.qv), c.vec_id) AS rnk
        |  FROM c3 c JOIN corpus v ON v.vec_id = c.vec_id
        |  JOIN qs q ON q.query_id = c.query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Regenerates the deterministic feed (same rows the streaming
    // source emits), replays the md5 feature-hash embedding per
    // summary, drops zero-norm rows exactly like the index build, and
    // aggregates per category — hash-equal iff every one of the 300
    // streamed rows landed in the index exactly once with the right
    // embed-derived exclusions.
    "feed_stream_index" ->
      """WITH feed AS (
        |  SELECT i, 'arxiv:' || i AS id,
        |    'cs.' || CASE WHEN i % 4 = 0 THEN 'DB'
        |                  WHEN i % 4 = 1 THEN 'LG'
        |                  WHEN i % 4 = 2 THEN 'IR' ELSE 'DC' END
        |      AS category,
        |    'Deterministic abstract number ' ||
        |      ((i * 2654435761) % 1000) AS summary
        |  FROM range(0, 300) t(i)),
        |tok AS (
        |  SELECT i, unnest(string_split_regex(trim(summary), '\s+')) AS tk
        |  FROM feed),
        |b7 AS (
        |  SELECT i,
        |    (strpos('0123456789abcdef', substr(md5(tk), 15, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substr(md5(tk), 16, 1)) - 1 AS v
        |  FROM tok),
        |sp AS (
        |  SELECT i, v % 64 AS dim,
        |    sum(CASE WHEN (v >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS x
        |  FROM b7 GROUP BY i, v % 64),
        |nrm AS (SELECT i, sum(x * x) AS n2 FROM sp GROUP BY i),
        |kept AS (
        |  SELECT f.id, f.category FROM feed f
        |  JOIN nrm n ON n.i = f.i WHERE n.n2 > 0)
        |SELECT category, count(*) AS n, min(id) AS min_id,
        |       max(id) AS max_id
        |FROM kept GROUP BY category ORDER BY category""".stripMargin,
    // Replays the LSH-built graph end to end: md5 sign-LSH codes
    // (4 tables x 4 bits), bucket-mate candidate pairs, top-4 edges
    // per src by DOUBLE-exact L2 (dst tie-break), then the two
    // best-first hops (visited set via NOT EXISTS) from mod-5 seeded
    // entries, final exact top-3.
    "ann_graph_lsh_topk" ->
      """WITH dims AS (SELECT unnest(range(0, 64)) AS d),
        |tb AS (
        |  SELECT t.t, b.b
        |  FROM (SELECT unnest(range(0, 4)) AS t) t,
        |       (SELECT unnest(range(0, 4)) AS b) b),
        |signs AS (
        |  SELECT tb.t, tb.b, dims.d,
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5(CAST(tb.t AS VARCHAR) || ' ' ||
        |                   CAST(tb.b AS VARCHAR) || ' ' ||
        |                   CAST(dims.d AS VARCHAR)), 16, 1)) - 1) & 1 = 1
        |      THEN 1 ELSE -1 END AS s
        |  FROM tb, dims),
        |comp AS (
        |  SELECT v.vec_id, dd.d,
        |    CAST(floor(CAST(v.embedding[dd.d + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS y
        |  FROM embeddings v, dims dd
        |  WHERE v.vec_id >= 5),
        |proj AS (
        |  SELECT c.vec_id, s.t, s.b, sum(s.s * c.y) AS acc
        |  FROM comp c JOIN signs s ON s.d = c.d
        |  GROUP BY c.vec_id, s.t, s.b),
        |codes AS (
        |  SELECT vec_id, t,
        |    sum(CASE WHEN acc > 0 THEN 1 << b ELSE 0 END) AS code
        |  FROM proj GROUP BY vec_id, t),
        |corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id >= 5),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |ecand AS (
        |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        |  FROM codes a JOIN codes b ON a.t = b.t AND a.code = b.code
        |  WHERE a.vec_id <> b.vec_id),
        |edges AS (
        |  SELECT src, dst FROM (
        |    SELECT e.src, e.dst,
        |      row_number() OVER (PARTITION BY e.src
        |        ORDER BY list_distance(sv.v, dv.v), e.dst) AS rn
        |    FROM ecand e
        |    JOIN corpus sv ON sv.vec_id = e.src
        |    JOIN corpus dv ON dv.vec_id = e.dst)
        |  WHERE rn <= 4),
        |c0 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(c.v, q.qv), c.vec_id) AS r
        |    FROM corpus c CROSS JOIN qs q WHERE c.vec_id % 5 = 0)
        |  WHERE r <= 4),
        |f1 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c0 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id)
        |  WHERE r <= 4),
        |c1 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c0
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f1 f JOIN edges g ON g.src = f.vec_id)),
        |f2 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
        |    FROM c1 c JOIN corpus v ON v.vec_id = c.vec_id
        |    JOIN qs q ON q.query_id = c.query_id
        |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
        |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
        |  WHERE r <= 4),
        |c2 AS (
        |  SELECT DISTINCT query_id, vec_id FROM (
        |    SELECT query_id, vec_id FROM c1
        |    UNION ALL
        |    SELECT f.query_id, g.dst AS vec_id
        |    FROM f2 f JOIN edges g ON g.src = f.vec_id)),
        |ranked AS (
        |  SELECT c.query_id, c.vec_id,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY list_distance(v.v, q.qv), c.vec_id) AS rnk
        |  FROM c2 c JOIN corpus v ON v.vec_id = c.vec_id
        |  JOIN qs q ON q.query_id = c.query_id)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Replays the IVF-fed rerank: deterministic centroids (first 16
    // corpus ids), 4-cell probe, coarse 8-dim-prefix cosine over the
    // probed cells' rows only, exact DOUBLE[]-cast cosine refine on
    // the 12 survivors.
    "ann_ivf_rerank" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id >= 5),
        |cents AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |           AS cell,
        |         v AS cvec
        |  FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 16)),
        |asg AS (
        |  SELECT c.vec_id, c.v, t.cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_distance(c.v, t.cvec), t.cell) AS rn
        |  FROM corpus c CROSS JOIN cents t),
        |cells AS (SELECT vec_id, v, cell FROM asg WHERE rn = 1),
        |qs AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |probe AS (
        |  SELECT q.query_id, q.qv, t.cell,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
        |  FROM qs q CROSS JOIN cents t),
        |cand AS (
        |  SELECT p.query_id, p.qv, c.vec_id, c.v
        |  FROM (SELECT query_id, qv, cell FROM probe WHERE pr <= 4) p
        |  JOIN cells c USING (cell)),
        |coarse AS (
        |  SELECT query_id, qv, vec_id, v,
        |    row_number() OVER (PARTITION BY query_id ORDER BY
        |      CASE WHEN list_dot_product(v[1:8], v[1:8]) = 0
        |             OR list_dot_product(qv[1:8], qv[1:8]) = 0 THEN 0
        |           ELSE list_dot_product(v[1:8], qv[1:8])
        |                / (sqrt(list_dot_product(v[1:8], v[1:8]))
        |                   * sqrt(list_dot_product(qv[1:8], qv[1:8])))
        |      END DESC, vec_id) AS cr
        |  FROM cand),
        |fin AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY
        |      CASE WHEN list_dot_product(v, v) = 0
        |             OR list_dot_product(qv, qv) = 0 THEN 0
        |           ELSE list_dot_product(v, qv)
        |                / (sqrt(list_dot_product(v, v))
        |                   * sqrt(list_dot_product(qv, qv)))
        |      END DESC, vec_id) AS rnk
        |  FROM coarse WHERE cr <= 12)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM fin WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Replays both rerank stages. DOUBLE[] casts force DuckDB to
    // accumulate dot products in double like the engine's
    // VectorDistance (FLOAT[] list_dot_product accumulates in float and
    // diverges ~1e-8); cosine spelled as dot/(sqrt*sqrt) with the
    // zero-norm -> 0 convention to match exactly.
    "rerank_truncated" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id >= 5),
        |coarse AS (
        |  SELECT q.query_id, q.qv, c.vec_id, c.v,
        |    row_number() OVER (PARTITION BY q.query_id ORDER BY
        |      CASE WHEN list_dot_product(c.v[1:8], c.v[1:8]) = 0
        |             OR list_dot_product(q.qv[1:8], q.qv[1:8]) = 0 THEN 0
        |           ELSE list_dot_product(c.v[1:8], q.qv[1:8])
        |                / (sqrt(list_dot_product(c.v[1:8], c.v[1:8]))
        |                   * sqrt(list_dot_product(q.qv[1:8], q.qv[1:8])))
        |      END DESC, c.vec_id) AS cr
        |  FROM c CROSS JOIN q),
        |fin AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY
        |      CASE WHEN list_dot_product(v, v) = 0
        |             OR list_dot_product(qv, qv) = 0 THEN 0
        |           ELSE list_dot_product(v, qv)
        |                / (sqrt(list_dot_product(v, v))
        |                   * sqrt(list_dot_product(qv, qv)))
        |      END DESC, vec_id) AS rnk
        |  FROM coarse WHERE cr <= 12)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id
        |FROM fin WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // identical to the exact batch-KNN oracle: at full probe the IVF
    // candidate set is the whole corpus
    "ann_ivf_fullprobe" ->
      """SELECT * FROM (
        |  SELECT q.vec_id AS query_id,
        |         CAST(row_number() OVER (
        |           PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |                    c.vec_id) AS BIGINT) AS rnk,
        |         c.vec_id
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5)
        |WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,
    // the embedder's aggregate shape is SQL-expressible even though the
    // vectors aren't: every non-null non-empty text embeds to exactly
    // `dim` floats, null/empty to NULL
    "embed_tfidf_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN text IS NOT NULL AND text <> ''
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_embedded,
        |  CAST(64 * sum(CASE WHEN text IS NOT NULL AND text <> ''
        |                THEN 1 ELSE 0 END) AS BIGINT) AS sum_dims
        |FROM documents""".stripMargin,
    "index_build_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT vec_id) AS BIGINT) AS n_pk,
        |  round(avg(sqrt(list_dot_product(embedding, embedding))), 4)
        |    AS avg_norm
        |FROM embeddings
        |WHERE embedding IS NOT NULL AND len(embedding) = 64
        |  AND list_dot_product(embedding, embedding) > 0""".stripMargin,
    "index_sync_incremental" ->
      """WITH kept AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id < 400 AND vec_id NOT BETWEEN 0 AND 9
        |    AND embedding IS NOT NULL AND len(embedding) = 64
        |    AND list_dot_product(embedding, embedding) > 0),
        |ups AS (
        |  SELECT vec_id - 400 AS vec_id, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 400 AND 404
        |    AND embedding IS NOT NULL AND len(embedding) = 64
        |    AND list_dot_product(embedding, embedding) > 0),
        |merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ups)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(vec_id) AS BIGINT) AS sum_pk,
        |  round(avg(sqrt(list_dot_product(embedding, embedding))), 4)
        |    AS avg_norm
        |FROM merged""".stripMargin,
    // SCD2 replay: per-pk lead over the journal, deletes dropped
    // after bounding their predecessor's interval.
    "cdf_scd2" -> (s"WITH j AS ($cdfJournalCte),\n" +
      """x AS (
        |  SELECT doc_id, text, op, seq,
        |    lead(seq) OVER (PARTITION BY doc_id ORDER BY seq)
        |      AS valid_to
        |  FROM j)
        |SELECT doc_id, CAST(seq AS BIGINT) AS valid_from,
        |  CAST(valid_to AS BIGINT) AS valid_to,
        |  valid_to IS NULL AS is_current,
        |  CAST(len(text) AS BIGINT) AS text_len
        |FROM x WHERE op <> 'D'
        |ORDER BY doc_id, valid_from""".stripMargin),
    // Enrichment replay: the same intervals LEFT-joined under the
    // range predicate; probe seqs from a VALUES unnest.
    "cdf_scd2_enrich" -> (s"WITH j AS ($cdfJournalCte),\n" +
      """x AS (
        |  SELECT doc_id, text, op, seq,
        |    lead(seq) OVER (PARTITION BY doc_id ORDER BY seq)
        |      AS valid_to
        |  FROM j),
        |iv AS (SELECT * FROM x WHERE op <> 'D'),
        |f AS (
        |  SELECT d.doc_id, s.at_seq
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest([500, 1500, 2500]) AS at_seq) s
        |  WHERE d.doc_id < 40 AND d.text IS NOT NULL)
        |SELECT f.doc_id, CAST(f.at_seq AS BIGINT) AS at_seq,
        |  CAST(len(iv.text) AS BIGINT) AS text_len,
        |  CAST(iv.seq AS BIGINT) AS valid_from
        |FROM f LEFT JOIN iv
        |  ON f.doc_id = iv.doc_id AND f.at_seq >= iv.seq
        |  AND (iv.valid_to IS NULL OR f.at_seq < iv.valid_to)
        |ORDER BY f.doc_id, at_seq""".stripMargin),
    // Interval as-of replay: the same lead-window intervals read with
    // the range predicate.
    "cdf_scd2_asof" -> (s"WITH j AS ($cdfJournalCte),\n" +
      """x AS (
        |  SELECT doc_id, text, op, seq,
        |    lead(seq) OVER (PARTITION BY doc_id ORDER BY seq)
        |      AS valid_to
        |  FROM j),
        |sel AS (
        |  SELECT * FROM x
        |  WHERE op <> 'D' AND seq <= 1999
        |    AND (valid_to IS NULL OR valid_to > 1999))
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(len(text)) AS BIGINT) AS sum_len
        |FROM sel""".stripMargin),
    // Compaction replay: snapshot <=1500 as 'I'@1500 + verbatim tail,
    // then the same state-at-3000 fold on both journals side by side.
    "cdf_compacted" -> (s"WITH j AS ($cdfJournalCte),\n" +
      """snap AS (
        |  SELECT doc_id, text, 'I' AS op, CAST(1500 AS BIGINT) AS seq
        |  FROM (
        |    SELECT doc_id, text, op,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC)
        |        AS rn
        |    FROM j WHERE seq <= 1500)
        |  WHERE rn = 1 AND op <> 'D'),
        |c AS (
        |  SELECT * FROM snap
        |  UNION ALL
        |  SELECT doc_id, text, op, seq FROM j WHERE seq > 1500),
        |jr AS (
        |  SELECT 'original' AS journal,
        |    CAST(count(*) AS BIGINT) AS journal_rows FROM j
        |  UNION ALL
        |  SELECT 'compacted', CAST(count(*) AS BIGINT) FROM c),
        |fo AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, op,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC)
        |        AS rn
        |    FROM j WHERE seq <= 3000)
        |  WHERE rn = 1 AND op <> 'D'),
        |fc AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, op,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC)
        |        AS rn
        |    FROM c WHERE seq <= 3000)
        |  WHERE rn = 1 AND op <> 'D'),
        |ag AS (
        |  SELECT 'original' AS journal, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |    CAST(sum(len(text)) AS BIGINT) AS sum_len FROM fo
        |  UNION ALL
        |  SELECT 'compacted', CAST(count(*) AS BIGINT),
        |    CAST(sum(doc_id) AS BIGINT),
        |    CAST(sum(len(text)) AS BIGINT) FROM fc)
        |SELECT ag.journal, jr.journal_rows, ag.n, ag.sum_id, ag.sum_len
        |FROM ag JOIN jr USING (journal)
        |ORDER BY journal""".stripMargin),
    // Time-travel replay: per (snapshot, pk) window argmax over the
    // journal prefix, deletes dropped, per-snapshot aggregates.
    "cdf_time_travel" -> (s"WITH j AS ($cdfJournalCte),\n" +
      """snap AS (SELECT unnest([150, 1999, 3000]) AS snap_seq),
        |st AS (
        |  SELECT s.snap_seq, j.doc_id, j.text, j.op,
        |    row_number() OVER (PARTITION BY s.snap_seq, j.doc_id
        |      ORDER BY j.seq DESC) AS rn
        |  FROM j JOIN snap s ON j.seq <= s.snap_seq)
        |SELECT CAST(snap_seq AS BIGINT) AS snap_seq, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(len(text)) AS BIGINT) AS sum_len
        |FROM st WHERE rn = 1 AND op <> 'D'
        |GROUP BY snap_seq ORDER BY snap_seq""".stripMargin),
    // Net-diff replay: argmax at the older snapshot for existence,
    // argmax over the window for the last payload/op, then the
    // relative-op case split with no-net-change suppression.
    "cdf_net_changes" -> (s"WITH j AS ($cdfJournalCte),\n" +
      """bef AS (
        |  SELECT doc_id, (op <> 'D') AS existed FROM (
        |    SELECT doc_id, op,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC)
        |        AS rn
        |    FROM j WHERE seq <= 150) WHERE rn = 1),
        |win AS (
        |  SELECT doc_id, text, op FROM (
        |    SELECT doc_id, text, op,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC)
        |        AS rn
        |    FROM j WHERE seq > 150 AND seq <= 3000) WHERE rn = 1),
        |net AS (
        |  SELECT w.doc_id, w.text,
        |    CASE WHEN w.op = 'D' THEN
        |           (CASE WHEN coalesce(b.existed, false) THEN 'D' END)
        |         WHEN coalesce(b.existed, false) THEN 'U'
        |         ELSE 'I' END AS op
        |  FROM win w LEFT JOIN bef b USING (doc_id))
        |SELECT doc_id, op, CAST(len(text) AS BIGINT) AS text_len
        |FROM net WHERE op IS NOT NULL ORDER BY doc_id""".stripMargin),
    // Morton replay: z = sum of interleaved bit tests; zc = the 2-bit
    // grid-cell interleave of each dimension's top bits.
    "layout_zorder" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 64 AS a, (doc_id // 64) % 64 AS b
        |  FROM documents WHERE doc_id < 200),
        |js AS (SELECT unnest(range(0, 6)) AS j),
        |z AS (
        |  SELECT doc_id, a, b,
        |    CAST(sum(((a // (1 << j)) % 2) * (1 << (2 * j)) +
        |             ((b // (1 << j)) % 2) * (1 << (2 * j + 1)))
        |      AS BIGINT) AS z
        |  FROM d CROSS JOIN js GROUP BY doc_id, a, b)
        |SELECT doc_id, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, z,
        |  CAST(((a // 16) % 2) + ((b // 16) % 2) * 2 +
        |       ((a // 32) % 2) * 4 + ((b // 32) % 2) * 8 AS BIGINT) AS zc
        |FROM z ORDER BY doc_id""".stripMargin,
    // Ranked-cell replay: md5 half sample, the 7 value-rank cuts,
    // per-row cut-count bins, and the 3-bit interleave.
    "layout_zorder_ranked" ->
      """WITH smp AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |    AS BIGINT) / 4294967296.0 < 0.5),
        |rk AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |    (SELECT count(*) FROM smp) AS n
        |  FROM smp),
        |cuts AS (
        |  SELECT q.i, rk.v AS cv FROM rk
        |  JOIN (SELECT unnest(range(1, 8)) AS i) q
        |    ON rk.rn = CAST(ceil(CAST(q.i AS DOUBLE) * rk.n / 8)
        |         AS BIGINT)),
        |b AS (
        |  SELECT d.doc_id,
        |    (SELECT count(*) FROM cuts
        |     WHERE cv < CAST(d.n_chars AS DOUBLE)) AS ba,
        |    (d.doc_id % 64) // 8 AS bb
        |  FROM documents d),
        |z AS (
        |  SELECT doc_id,
        |    (ba % 2) + (bb % 2) * 2 + ((ba // 2) % 2) * 4
        |    + ((bb // 2) % 2) * 8 + ((ba // 4) % 2) * 16
        |    + ((bb // 4) % 2) * 32 AS cell
        |  FROM b)
        |SELECT CAST(cell AS BIGINT) AS cell,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM z GROUP BY cell ORDER BY cell""".stripMargin,
    // Referential audit replay: the same full-outer join legs.
    "audit_referential" ->
      """WITH d AS (
        |  SELECT doc_id AS id FROM documents WHERE doc_id >= 20),
        |e AS (SELECT vec_id AS id FROM embeddings WHERE vec_id < 480),
        |f AS (
        |  SELECT coalesce(d.id, e.id) AS id,
        |    d.id IS NOT NULL AS in_d, e.id IS NOT NULL AS in_e
        |  FROM d FULL OUTER JOIN e ON d.id = e.id)
        |SELECT
        |  CAST(sum(CASE WHEN in_d AND in_e THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_matched,
        |  CAST(sum(CASE WHEN NOT in_e THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_orphan,
        |  CAST(sum(CASE WHEN NOT in_d THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_vecs_orphan,
        |  CAST(sum(CASE WHEN NOT in_e THEN id ELSE 0 END) AS BIGINT)
        |    AS orphan_id_sum
        |FROM f""".stripMargin,
    // PPM decode replay: the generator's pixel formula over unnested
    // pixel ranges — the Spark side parsed REAL image bytes to get the
    // same means, so the hash proves the decoder.
    "mm_ppm_decode" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
        |             WHERE doc_id < 100),
        |g AS (SELECT id, CAST(8 + id % 9 AS INT) AS w,
        |             CAST(8 + id % 7 AS INT) AS h
        |      FROM ids),
        |px AS (SELECT id, w, h, unnest(range(0, w * h)) AS p FROM g),
        |v AS (SELECT id, w, h,
        |        (7 * (p % w) + 13 * (p // w) + id) % 256 AS r,
        |        (3 * (p % w) + 5 * (p // w) + 2 * id) % 256 AS gc,
        |        ((p % w) + (p // w) + 3 * id) % 256 AS b
        |      FROM px)
        |SELECT id AS media_id, w AS width, h AS height,
        |  round(avg(r), 4) AS mean_r, round(avg(gc), 4) AS mean_g,
        |  round(avg(b), 4) AS mean_b
        |FROM v GROUP BY id, w, h ORDER BY media_id""".stripMargin,
    // PPM nearest-neighbor resize replay: the NN index map
    // (sx = tx*w//4) applied to the pixel formula — the Spark side
    // decoded, resampled, re-encoded and re-decoded real bytes.
    "mm_ppm_resize" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
        |             WHERE doc_id < 30),
        |g AS (SELECT id, CAST(8 + id % 9 AS INT) AS w,
        |             CAST(8 + id % 7 AS INT) AS h
        |      FROM ids),
        |t AS (SELECT id, w, h, unnest(range(0, 16)) AS p FROM g),
        |m AS (SELECT id, ((p % 4) * w) // 4 AS sx,
        |             ((p // 4) * h) // 4 AS sy
        |      FROM t),
        |v AS (SELECT id, (7 * sx + 13 * sy + id) % 256 AS r,
        |        (3 * sx + 5 * sy + 2 * id) % 256 AS gc,
        |        (sx + sy + 3 * id) % 256 AS b
        |      FROM m)
        |SELECT id AS media_id, CAST(4 AS INT) AS width,
        |  CAST(4 AS INT) AS height,
        |  round(avg(r), 4) AS mean_r, round(avg(gc), 4) AS mean_g,
        |  round(avg(b), 4) AS mean_b
        |FROM v GROUP BY id ORDER BY media_id""".stripMargin,
    // Decoded-image KNN replay: exact channel means from the pixel
    // formula, the identical cosine expression, rank, round-after-rank.
    "mm_ppm_knn" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
        |             WHERE doc_id < 100),
        |g AS (SELECT id, CAST(8 + id % 9 AS INT) AS w,
        |             CAST(8 + id % 7 AS INT) AS h
        |      FROM ids),
        |px AS (SELECT id, w, h, unnest(range(0, w * h)) AS p FROM g),
        |v AS (SELECT id,
        |        (7 * (p % w) + 13 * (p // w) + id) % 256 AS r,
        |        (3 * (p % w) + 5 * (p // w) + 2 * id) % 256 AS gc,
        |        ((p % w) + (p // w) + 3 * id) % 256 AS b
        |      FROM px),
        |f AS (SELECT id, avg(r) AS mr, avg(gc) AS mg, avg(b) AS mb
        |      FROM v GROUP BY id),
        |j AS (
        |  SELECT q.id AS query_id, c.id AS media_id,
        |    (q.mr * c.mr + q.mg * c.mg + q.mb * c.mb) /
        |      (sqrt(q.mr * q.mr + q.mg * q.mg + q.mb * q.mb) *
        |       sqrt(c.mr * c.mr + c.mg * c.mg + c.mb * c.mb)) AS cs
        |  FROM (SELECT * FROM f WHERE id < 3) q,
        |       (SELECT * FROM f WHERE id >= 3) c),
        |r AS (SELECT query_id, media_id, cs,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY cs DESC, media_id) AS BIGINT) AS rnk
        |      FROM j)
        |SELECT query_id, rnk, media_id, round(cs, 4) AS score
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    // Video demux replay: per-frame pixel formula over unnested
    // (frame, pixel) ranges — the Spark side walked a real
    // concatenated-PPM stream to land on each frame.
    "mm_video_frames" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
        |             WHERE doc_id < 40),
        |g AS (SELECT id, CAST(8 + id % 9 AS INT) AS w,
        |             CAST(8 + id % 7 AS INT) AS h,
        |             CAST(3 + id % 5 AS INT) AS nf
        |      FROM ids),
        |fr AS (SELECT id, w, h, unnest(range(0, nf)) AS f FROM g),
        |px AS (SELECT id, w, h, f, unnest(range(0, w * h)) AS p
        |       FROM fr),
        |v AS (SELECT id, w, h, f,
        |        (7 * (p % w) + 13 * (p // w) + id + 31 * f) % 256 AS r,
        |        (3 * (p % w) + 5 * (p // w) + 2 * id + 31 * f) % 256
        |          AS gc,
        |        ((p % w) + (p // w) + 3 * id + 31 * f) % 256 AS b
        |      FROM px)
        |SELECT id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(f * 250 AS BIGINT) AS ts_ms, w AS width, h AS height,
        |  round(avg(r), 4) AS mean_r, round(avg(gc), 4) AS mean_g,
        |  round(avg(b), 4) AS mean_b
        |FROM v GROUP BY id, f, w, h
        |ORDER BY media_id, frame_idx""".stripMargin,
    // WAV decode replay: the sample formula over unnested ranges with
    // a lag window for sign changes — the Spark side RIFF-parsed real
    // bytes to get the same numbers.
    "mm_wav_decode" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
        |             WHERE doc_id < 60),
        |g AS (SELECT id, CAST(64 + id % 129 AS INT) AS n FROM ids),
        |s AS (SELECT id, n, unnest(range(0, n)) AS i FROM g),
        |v AS (SELECT id, n, i,
        |        (i * (id + 3) + 7 * i * i) % 2003 - 1001 AS smp FROM s),
        |z AS (SELECT id, n, smp,
        |        lag(smp) OVER (PARTITION BY id ORDER BY i) AS prev
        |      FROM v)
        |SELECT id AS media_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST((n * 1000) // 8000 AS BIGINT) AS duration_ms,
        |  round(sqrt(avg(CAST(smp AS DOUBLE) * smp)), 4) AS rms,
        |  CAST(sum(CASE WHEN smp * prev < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_crossings
        |FROM z GROUP BY id, n ORDER BY media_id""".stripMargin,
    // Envelope replay: |sample| means per 8-window split of the same
    // formula — the Spark side decoded real WAV bytes to get there.
    "mm_wav_windows" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
        |             WHERE doc_id < 120),
        |g AS (SELECT id, CAST(64 + id % 129 AS INT) AS n FROM ids),
        |s AS (SELECT id, n, unnest(range(0, n)) AS i FROM g),
        |v AS (SELECT id, (i * 8) // n AS w,
        |        abs((i * (id + 3) + 7 * i * i) % 2003 - 1001) AS a
        |      FROM s)
        |SELECT id AS media_id, CAST(w AS BIGINT) AS w,
        |  round(avg(CAST(a AS DOUBLE)), 4) AS mean_abs
        |FROM v GROUP BY id, w ORDER BY media_id, w""".stripMargin,
    // WAV resample replay: the sample formula composed with the
    // floor-index rate map (i = j*8000//3000, m = n*3000//8000) — the
    // Spark side decoded, resampled and re-encoded real bytes.
    "mm_wav_resample" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents
        |             WHERE doc_id < 60),
        |g AS (SELECT id, CAST(64 + id % 129 AS INT) AS n FROM ids),
        |g2 AS (SELECT id, CAST((n * 3000) // 8000 AS INT) AS m FROM g),
        |s AS (SELECT id, m, unnest(range(0, m)) AS j FROM g2),
        |v0 AS (SELECT id, m, j, (j * 8000) // 3000 AS i FROM s),
        |v AS (SELECT id, m, j,
        |        (i * (id + 3) + 7 * i * i) % 2003 - 1001 AS smp
        |      FROM v0),
        |z AS (SELECT id, m, smp,
        |        lag(smp) OVER (PARTITION BY id ORDER BY j) AS prev
        |      FROM v)
        |SELECT id AS media_id, CAST(3000 AS INT) AS sample_rate,
        |  CAST(m AS BIGINT) AS n_samples,
        |  CAST((m * 1000) // 3000 AS BIGINT) AS duration_ms,
        |  round(sqrt(avg(CAST(smp AS DOUBLE) * smp)), 4) AS rms,
        |  CAST(sum(CASE WHEN smp * prev < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_crossings
        |FROM z GROUP BY id, m ORDER BY media_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    unnest(generate_series(0, CAST(10 * length(text) AS BIGINT),
        |      250)) AS ts
        |  FROM documents
        |  WHERE doc_id < 60 AND doc_id % 3 = 2 AND text IS NOT NULL)
        |SELECT media_id, CAST(ts // 250 AS BIGINT) AS frame_idx,
        |  CAST(ts AS BIGINT) AS ts_ms
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id AS media_id,
        |  CAST(64 AS INT) AS width, CAST(64 AS INT) AS height,
        |  CAST(least(octet_length(encode(text)), 64*64*3) AS BIGINT)
        |    AS n_bytes
        |FROM documents
        |WHERE doc_id < 100 AND doc_id % 3 = 0 AND text IS NOT NULL
        |ORDER BY media_id""".stripMargin,
    "multimodal_features" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(64 AS BIGINT) AS n_dims
        |FROM documents WHERE doc_id < 100 ORDER BY media_id""".stripMargin,
  )

  // Textual derivation of an oracle from a base replay (anchored
  // replace + require guard): the derived query's semantics differ
  // from the base's by exactly the edits, so the two replays can
  // never drift apart.
  /** Shared shingle-token MaxSim CTE chain ending in
    * `msc(query_id, did, ms)` plus the corpus/query text CTEs
    * (`dcorp`, `qcorp`) the pooled-recall replay reuses: distinct
    * 3-word shingles, per-word md5 byte-7 ±1 feature hashing into
    * 16-dim integer vectors, sign-pair buckets, ONE bucket equi-join
    * for candidates, exact integer-arithmetic cosines, md5-hex-
    * ordered per-doc score folds. */
  private lazy val maxsimDocsCtes: String = {
    val shingles =
      """list_distinct(list_transform(
        |    range(1, greatest(len(string_split_regex(trim(text), '\s+'))
        |      - 1, 1)),
        |    i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
        |         string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
        |         string_split_regex(trim(text), '\s+')[i+2]))""".stripMargin
    s"""dcorp AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE text IS NOT NULL AND trim(text) <> ''
      |    AND doc_id >= 3 AND doc_id < 120),
      |qcorp AS (
      |  SELECT doc_id, array_to_string(
      |      string_split_regex(trim(text), '\\s+')[1:5], ' ') AS text
      |  FROM documents
      |  WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id < 3),
      |dsh AS (SELECT doc_id, unnest($shingles) AS sh FROM dcorp),
      |qsh AS (SELECT doc_id, unnest($shingles) AS sh FROM qcorp),
      |allsh AS (SELECT DISTINCT sh FROM
      |  (SELECT sh FROM dsh UNION ALL SELECT sh FROM qsh)),
      |shw AS (
      |  SELECT sh, CAST('0x' || substr(md5(w), 15, 2) AS INT) AS hb
      |  FROM (SELECT sh, unnest(string_split(sh, ' ')) AS w FROM allsh)),
      |shvd AS (
      |  SELECT sh, hb % 16 AS d,
      |    CAST(sum(CASE WHEN (hb // 64) % 2 = 1
      |      THEN 1 ELSE -1 END) AS DOUBLE) AS v
      |  FROM shw GROUP BY 1, 2),
      |shvec AS (
      |  SELECT sh, list(coalesce(v, 0.0) ORDER BY d) AS tv
      |  FROM (SELECT a.sh, r.d, shvd.v
      |        FROM allsh a
      |        CROSS JOIN (SELECT unnest(range(0, 16)) AS d) r
      |        LEFT JOIN shvd ON shvd.sh = a.sh AND shvd.d = r.d)
      |  GROUP BY sh),
      |shb AS (
      |  SELECT sh, tv,
      |    (CASE WHEN tv[1] + tv[2] >= 0 THEN 1 ELSE 0 END) +
      |    (CASE WHEN tv[3] + tv[4] >= 0 THEN 2 ELSE 0 END) +
      |    (CASE WHEN tv[5] + tv[6] >= 0 THEN 4 ELSE 0 END) +
      |    (CASE WHEN tv[7] + tv[8] >= 0 THEN 8 ELSE 0 END) AS b
      |  FROM shvec),
      |mdt AS (SELECT d.doc_id AS did, md5(d.sh) AS ti, k.tv, k.b
      |        FROM dsh d JOIN shb k USING (sh)),
      |mqt AS (SELECT q.doc_id AS query_id, md5(q.sh) AS ti, k.tv, k.b
      |        FROM qsh q JOIN shb k USING (sh)),
      |mcand AS (
      |  SELECT DISTINCT q.query_id, d.did
      |  FROM (SELECT DISTINCT query_id, b FROM mqt) q
      |  JOIN (SELECT DISTINCT did, b FROM mdt) d USING (b)),
      |mcos AS (
      |  SELECT c.query_id, c.did, q.ti,
      |    max(CASE WHEN list_dot_product(q.tv, q.tv) = 0
      |          OR list_dot_product(d.tv, d.tv) = 0 THEN 0
      |        ELSE list_dot_product(q.tv, d.tv)
      |             / (sqrt(list_dot_product(q.tv, q.tv))
      |                * sqrt(list_dot_product(d.tv, d.tv))) END) AS m
      |  FROM mcand c
      |  JOIN mqt q ON q.query_id = c.query_id
      |  JOIN mdt d ON d.did = c.did
      |  GROUP BY c.query_id, c.did, q.ti),
      |msc AS (
      |  SELECT query_id, did,
      |    list_reduce(list_prepend(0.0, list(m ORDER BY ti)),
      |      (a, x) -> a + x) AS ms
      |  FROM mcos GROUP BY query_id, did)""".stripMargin
  }

  /** Multi-layer HNSW replay shared by the topk and recall oracles:
    * md5-geometric level pools (h = first 15 md5 hex digits of the
    * id; layer l ⟺ h % 5^l = 0), exact m=6 layer-0 / m=4 upper
    * graphs, the top-pool 2-entry scan, a beam-3 2-hop walk on each
    * upper layer handing its best down (2 → layer 1, top-4 → layer
    * 0), then the standard three beam-4 layer-0 hops — ending at
    * `ranked (query_id, vec_id, rnk)`. Hop semantics are the
    * beamSearch contract: frontier = top-beam among not-yet-expanded
    * candidates, candidates accumulate, final rank over the full
    * candidate set. */
  private lazy val hnswCtes: String =
    """corpus AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE vec_id >= 5 AND vec_id < 1000),
      |qs AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id < 5),
      |edges AS (
      |  SELECT src, dst FROM (
      |    SELECT a.vec_id AS src, b.vec_id AS dst,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
      |    FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id)
      |  WHERE rn <= 6),
      |lv AS (
      |  SELECT vec_id,
      |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
      |      AS BIGINT) AS h
      |  FROM corpus),
      |p1 AS (SELECT c.vec_id, c.v FROM corpus c
      |  JOIN lv ON lv.vec_id = c.vec_id WHERE lv.h % 5 = 0),
      |p2 AS (SELECT c.vec_id, c.v FROM corpus c
      |  JOIN lv ON lv.vec_id = c.vec_id WHERE lv.h % 25 = 0),
      |e1 AS (
      |  SELECT src, dst FROM (
      |    SELECT a.vec_id AS src, b.vec_id AS dst,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
      |    FROM p1 a JOIN p1 b ON a.vec_id <> b.vec_id)
      |  WHERE rn <= 4),
      |e2 AS (
      |  SELECT src, dst FROM (
      |    SELECT a.vec_id AS src, b.vec_id AS dst,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY list_distance(a.v, b.v), b.vec_id) AS rn
      |    FROM p2 a JOIN p2 b ON a.vec_id <> b.vec_id)
      |  WHERE rn <= 4),
      |s0 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT q.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY list_distance(c.v, q.qv), c.vec_id) AS r
      |    FROM p2 c CROSS JOIN qs q)
      |  WHERE r <= 2),
      |h1 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT c.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
      |    FROM s0 c JOIN corpus v ON v.vec_id = c.vec_id
      |    JOIN qs q ON q.query_id = c.query_id)
      |  WHERE r <= 3),
      |hd1 AS (
      |  SELECT DISTINCT query_id, vec_id FROM (
      |    SELECT query_id, vec_id FROM s0
      |    UNION ALL
      |    SELECT f.query_id, g.dst AS vec_id
      |    FROM h1 f JOIN e2 g ON g.src = f.vec_id)),
      |h2 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT c.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
      |    FROM hd1 c JOIN corpus v ON v.vec_id = c.vec_id
      |    JOIN qs q ON q.query_id = c.query_id
      |    WHERE NOT EXISTS (SELECT 1 FROM h1 e
      |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
      |  WHERE r <= 3),
      |hd2 AS (
      |  SELECT DISTINCT query_id, vec_id FROM (
      |    SELECT query_id, vec_id FROM hd1
      |    UNION ALL
      |    SELECT f.query_id, g.dst AS vec_id
      |    FROM h2 f JOIN e2 g ON g.src = f.vec_id)),
      |s1 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT c.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
      |    FROM hd2 c JOIN corpus v ON v.vec_id = c.vec_id
      |    JOIN qs q ON q.query_id = c.query_id)
      |  WHERE r <= 2),
      |g1 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT c.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
      |    FROM s1 c JOIN corpus v ON v.vec_id = c.vec_id
      |    JOIN qs q ON q.query_id = c.query_id)
      |  WHERE r <= 3),
      |gd1 AS (
      |  SELECT DISTINCT query_id, vec_id FROM (
      |    SELECT query_id, vec_id FROM s1
      |    UNION ALL
      |    SELECT f.query_id, g.dst AS vec_id
      |    FROM g1 f JOIN e1 g ON g.src = f.vec_id)),
      |g2 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT c.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
      |    FROM gd1 c JOIN corpus v ON v.vec_id = c.vec_id
      |    JOIN qs q ON q.query_id = c.query_id
      |    WHERE NOT EXISTS (SELECT 1 FROM g1 e
      |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
      |  WHERE r <= 3),
      |gd2 AS (
      |  SELECT DISTINCT query_id, vec_id FROM (
      |    SELECT query_id, vec_id FROM gd1
      |    UNION ALL
      |    SELECT f.query_id, g.dst AS vec_id
      |    FROM g2 f JOIN e1 g ON g.src = f.vec_id)),
      |c0 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT c.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
      |    FROM gd2 c JOIN corpus v ON v.vec_id = c.vec_id
      |    JOIN qs q ON q.query_id = c.query_id)
      |  WHERE r <= 4),
      |f1 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT c.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
      |    FROM c0 c JOIN corpus v ON v.vec_id = c.vec_id
      |    JOIN qs q ON q.query_id = c.query_id)
      |  WHERE r <= 4),
      |c1 AS (
      |  SELECT DISTINCT query_id, vec_id FROM (
      |    SELECT query_id, vec_id FROM c0
      |    UNION ALL
      |    SELECT f.query_id, g.dst AS vec_id
      |    FROM f1 f JOIN edges g ON g.src = f.vec_id)),
      |f2 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT c.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
      |    FROM c1 c JOIN corpus v ON v.vec_id = c.vec_id
      |    JOIN qs q ON q.query_id = c.query_id
      |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
      |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
      |  WHERE r <= 4),
      |c2 AS (
      |  SELECT DISTINCT query_id, vec_id FROM (
      |    SELECT query_id, vec_id FROM c1
      |    UNION ALL
      |    SELECT f.query_id, g.dst AS vec_id
      |    FROM f2 f JOIN edges g ON g.src = f.vec_id)),
      |f3 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT c.query_id, c.vec_id,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY list_distance(v.v, q.qv), c.vec_id) AS r
      |    FROM c2 c JOIN corpus v ON v.vec_id = c.vec_id
      |    JOIN qs q ON q.query_id = c.query_id
      |    WHERE NOT EXISTS (SELECT 1 FROM f1 e
      |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id)
      |    AND NOT EXISTS (SELECT 1 FROM f2 e
      |      WHERE e.query_id = c.query_id AND e.vec_id = c.vec_id))
      |  WHERE r <= 4),
      |c3 AS (
      |  SELECT DISTINCT query_id, vec_id FROM (
      |    SELECT query_id, vec_id FROM c2
      |    UNION ALL
      |    SELECT f.query_id, g.dst AS vec_id
      |    FROM f3 f JOIN edges g ON g.src = f.vec_id)),
      |ranked AS (
      |  SELECT c.query_id, c.vec_id,
      |    row_number() OVER (PARTITION BY c.query_id
      |      ORDER BY list_distance(v.v, q.qv), c.vec_id) AS rnk
      |  FROM c3 c JOIN corpus v ON v.vec_id = c.vec_id
      |  JOIN qs q ON q.query_id = c.query_id)""".stripMargin

  /** The PLAID replay, built ON TOP of the shingle-token CTEs: token
    * pk `did:ti`, integer quantization, md5-ordered 64-token sample,
    * TWO unrolled integer Lloyd iterations → 8 trained centroids,
    * nearest-cell assignment, first-8-tokens residual codebooks (m=4
    * subspaces × 4 dims), per-token encode, query probes (nProbe=2),
    * per-(query token, cell) integer residuals, ADC, candidate
    * selection by (matched tokens DESC, Σ min-ADC ASC, did), and the
    * exact MaxSim refine over the 20 survivors — ending at `prsc`
    * (query_id, did, ms). */
  private lazy val plaidCtes: String =
    s"""$maxsimDocsCtes,
      |pdims AS (SELECT unnest(range(0, 16)) AS d),
      |dtp AS (
      |  SELECT did, ti, CAST(did AS VARCHAR) || ':' || ti AS tid, tv
      |  FROM mdt),
      |itok AS (
      |  SELECT tid, dd.d,
      |    CAST(floor(tv[dd.d + 1] * 1048576) AS BIGINT) AS xi
      |  FROM dtp, pdims dd),
      |psamp AS (
      |  SELECT tid, r FROM (
      |    SELECT tid, row_number() OVER (ORDER BY md5(tid), tid) - 1
      |      AS r
      |    FROM dtp)
      |  WHERE r < 64),
      |psp AS (SELECT s.r, i.d, i.xi AS y
      |        FROM psamp s JOIN itok i USING (tid)),
      |pc0 AS (SELECT r AS j, d, y FROM psp WHERE r < 8),
      |pd1 AS (
      |  SELECT p.r, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
      |  FROM psp p JOIN pc0 c ON c.d = p.d
      |  GROUP BY p.r, c.j),
      |pm1 AS (SELECT r, j FROM (
      |  SELECT r, j, row_number() OVER (PARTITION BY r ORDER BY d2, j)
      |    AS rn FROM pd1) WHERE rn = 1),
      |pg1 AS (
      |  SELECT m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM pm1 m JOIN psp p ON p.r = m.r
      |  GROUP BY m.j, p.d),
      |pc1 AS (
      |  SELECT pc0.j, pc0.d,
      |    COALESCE(CAST((pg1.sy - (((pg1.sy % pg1.c) + pg1.c) % pg1.c))
      |      / pg1.c AS BIGINT), pc0.y) AS y
      |  FROM pc0 LEFT JOIN pg1 ON pg1.j = pc0.j AND pg1.d = pc0.d),
      |pd2 AS (
      |  SELECT p.r, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
      |  FROM psp p JOIN pc1 c ON c.d = p.d
      |  GROUP BY p.r, c.j),
      |pm2 AS (SELECT r, j FROM (
      |  SELECT r, j, row_number() OVER (PARTITION BY r ORDER BY d2, j)
      |    AS rn FROM pd2) WHERE rn = 1),
      |pg2 AS (
      |  SELECT m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM pm2 m JOIN psp p ON p.r = m.r
      |  GROUP BY m.j, p.d),
      |pc2 AS (
      |  SELECT pc1.j, pc1.d,
      |    COALESCE(CAST((pg2.sy - (((pg2.sy % pg2.c) + pg2.c) % pg2.c))
      |      / pg2.c AS BIGINT), pc1.y) AS y
      |  FROM pc1 LEFT JOIN pg2 ON pg2.j = pc1.j AND pg2.d = pc1.d),
      |pcents AS (
      |  SELECT CAST(j AS INT) AS cell,
      |    list(y / 1048576.0 ORDER BY d) AS cvec
      |  FROM pc2 GROUP BY j),
      |pci AS (SELECT j AS cell, d, y FROM pc2),
      |tasg AS (
      |  SELECT t.tid, c.cell,
      |    row_number() OVER (PARTITION BY t.tid
      |      ORDER BY list_distance(t.tv, c.cvec), c.cell) AS rn
      |  FROM dtp t CROSS JOIN pcents c),
      |tcell AS (SELECT tid, cell FROM tasg WHERE rn = 1),
      |rtok AS (
      |  SELECT i.tid, i.d, i.xi - pci.y AS ri
      |  FROM itok i JOIN tcell tc ON tc.tid = i.tid
      |  JOIN pci ON pci.cell = tc.cell AND pci.d = i.d),
      |pcent AS (SELECT tid, j FROM (
      |  SELECT tid, row_number() OVER (ORDER BY tid) - 1 AS j FROM dtp)
      |  WHERE j < 8),
      |cbk AS (
      |  SELECT (r.d // 4) AS s, p.j, r.d, r.ri
      |  FROM rtok r JOIN pcent p USING (tid)),
      |pcdist AS (
      |  SELECT r.tid, c.s, c.j,
      |    sum((r.ri - c.ri) * (r.ri - c.ri)) AS d2
      |  FROM rtok r JOIN cbk c ON c.d = r.d
      |  GROUP BY r.tid, c.s, c.j),
      |pcodes AS (SELECT tid, s, j FROM (
      |  SELECT tid, s, j,
      |    row_number() OVER (PARTITION BY tid, s ORDER BY d2, j) AS rn
      |  FROM pcdist) WHERE rn = 1),
      |iqq AS (
      |  SELECT query_id, ti, dd.d,
      |    CAST(floor(tv[dd.d + 1] * 1048576) AS BIGINT) AS xi
      |  FROM mqt, pdims dd),
      |qpr AS (
      |  SELECT q.query_id, q.ti, c.cell,
      |    row_number() OVER (PARTITION BY q.query_id, q.ti
      |      ORDER BY list_distance(q.tv, c.cvec), c.cell) AS pr
      |  FROM mqt q CROSS JOIN pcents c),
      |qp AS (SELECT query_id, ti, cell FROM qpr WHERE pr <= 2),
      |qres AS (
      |  SELECT p.query_id, p.ti, p.cell, i.d, i.xi - pci.y AS ri
      |  FROM qp p
      |  JOIN iqq i ON i.query_id = p.query_id AND i.ti = p.ti
      |  JOIN pci ON pci.cell = p.cell AND pci.d = i.d),
      |padc AS (
      |  SELECT q.query_id, q.ti, t.tid,
      |    sum((q.ri - cb.ri) * (q.ri - cb.ri)) AS a
      |  FROM qres q
      |  JOIN tcell t ON t.cell = q.cell
      |  JOIN pcodes co ON co.tid = t.tid AND co.s = (q.d // 4)
      |  JOIN cbk cb ON cb.s = co.s AND cb.j = co.j AND cb.d = q.d
      |  GROUP BY q.query_id, q.ti, t.tid),
      |mad AS (
      |  SELECT a.query_id, a.ti, t.did, min(a.a) AS minadc
      |  FROM padc a JOIN dtp t USING (tid)
      |  GROUP BY a.query_id, a.ti, t.did),
      |ps1 AS (
      |  SELECT query_id, did, count(*) AS nhit, sum(minadc) AS s1
      |  FROM mad GROUP BY query_id, did),
      |pcand AS (SELECT query_id, did FROM (
      |  SELECT query_id, did,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY nhit DESC, s1 ASC, did ASC) AS cr
      |  FROM ps1) WHERE cr <= 20),
      |prcos AS (
      |  SELECT c.query_id, c.did, q.ti,
      |    max(CASE WHEN list_dot_product(q.tv, q.tv) = 0
      |          OR list_dot_product(d.tv, d.tv) = 0 THEN 0
      |        ELSE list_dot_product(q.tv, d.tv)
      |             / (sqrt(list_dot_product(q.tv, q.tv))
      |                * sqrt(list_dot_product(d.tv, d.tv))) END) AS m
      |  FROM pcand c
      |  JOIN mqt q ON q.query_id = c.query_id
      |  JOIN mdt d ON d.did = c.did
      |  GROUP BY c.query_id, c.did, q.ti),
      |prsc AS (
      |  SELECT query_id, did,
      |    list_reduce(list_prepend(0.0, list(m ORDER BY ti)),
      |      (a, x) -> a + x) AS ms
      |  FROM prcos GROUP BY query_id, did)""".stripMargin

  private def derivedSql(base: String, edits: (String, String)*): String =
    edits.foldLeft(baseOracleSql(base)) { case (sql, (anchor, repl)) =>
      require(sql.contains(anchor), s"$base anchor '$anchor' moved")
      sql.replace(anchor, repl)
    }

  // A graph replay with the label predicate applied at the FINAL rank
  // only — the walk itself is unfiltered, matching
  // queryPersistedGraph's filtered-HNSW contract. Derived textually
  // from the base replay so the two traversals can never drift; the
  // require guards the anchor (a silent no-op rewrite would produce
  // the unfiltered SQL and fail the hash gate confusingly).
  private def filteredGraphSql(base: String): String = {
    val anchor = "  FROM c3 c JOIN corpus v ON v.vec_id = c.vec_id\n" +
      "  JOIN qs q ON q.query_id = c.query_id)"
    val sql = baseOracleSql(base)
    require(sql.contains(anchor), s"$base ranked-CTE anchor moved")
    sql.replace(anchor,
      "  FROM c3 c JOIN corpus v ON v.vec_id = c.vec_id\n" +
        "  JOIN qs q ON q.query_id = c.query_id\n" +
        "  JOIN embeddings le ON le.vec_id = c.vec_id\n" +
        "  WHERE le.label = 1)")
  }

  // persisted layouts return the same rows as their in-memory searches
  // (PersistedLayoutSpec asserts disk == mem for each), so the *_persisted
  // queries share the in-memory paths' oracle SQL verbatim
  /** Build/sync/search phase splits for this file's bench-heavy cells
    * (merged into SparkEntry.phases; see FacadeQueries.phases for the
    * rationale): the graph sync-delete cell is ~90% build+sync by
    * design, so a drift triage should read the phase map first. */
  val phases: Map[String, (SparkSession, String) => Map[String, Double]] =
    Map(
      // the plaid synced cell re-persists the shared index and replays
      // the CDF batch per run — the phase split separates that
      // maintenance cost from the routed query itself
      "ann_maxsim_plaid_synced" -> ((s, dir) => {
        import graft.search.Plaid
        import graft.index.ChangeLog
        import graft.functions.TextExpressions
        def timed[T](f: => T): (T, Double) = {
          val t0 = System.nanoTime()
          val r = f
          (r, (System.nanoTime() - t0) / 1e9)
        }
        val d = Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull && trim(col("text")) =!= "")
        val corpus = d.filter(col("doc_id") >= 3 && col("doc_id") < 120)
          .select(col("doc_id"), col("text"))
        def bags(df: DataFrame) = df
          .select(col("doc_id"),
            TextExpressions.wordShingles(col("text"), 3).as("shs"))
          .select(col("doc_id"),
            transform(col("shs"),
              sh => TextExpressions.md5FeatureEmbed(sh, 16)).as("toks"))
        val root = s"${System.getProperty("java.io.tmpdir")}" +
          "/graft_plaidsync_ph/" + dir.replaceAll("[^0-9.]", "")
        val (p, tb) = timed {
          Plaid.persist(sharedPlaid(s, dir), root, docBuckets = 8)
        }
        val victims = corpus
          .filter(col("doc_id") >= 20 && col("doc_id") < 40)
        val changes = bags(victims)
          .withColumn("__op", lit(ChangeLog.OpDelete))
          .withColumn("__seq", lit(1L))
          .unionByName(bags(victims)
            .withColumn("__op", lit(ChangeLog.OpInsert))
            .withColumn("__seq", lit(2L)))
        val (_, ts) = timed {
          Plaid.syncPersisted(s, p, changes, "doc_id", "toks")
        }
        val (_, tq) = timed {
          Plaid.topKPersisted(s, p, "doc_id",
            shingleToks(s, dir, 0L, 3L, queryWords = 5), "doc_id",
            "ti", "tv", k = 5).collect()
        }
        Map("persist" -> tb, "sync" -> ts, "search" -> tq)
      }),
      "ann_graph_sync_delete" -> ((s, dir) => {
        import graft.index.ChangeLog
        def timed[T](f: => T): (T, Double) = {
          val t0 = System.nanoTime()
          val r = f
          (r, (System.nanoTime() - t0) / 1e9)
        }
        val e = emb(s, dir)
        val initial = e.filter(col("vec_id") >= 15 && col("vec_id") < 400)
        val changes = e.filter(col("vec_id") >= 5 && col("vec_id") < 15)
          .withColumn("__op", lit(ChangeLog.OpInsert))
          .withColumn("__seq", lit(1L))
          .unionByName(e.filter(col("vec_id") >= 15 && col("vec_id") < 25)
            .withColumn("__op", lit(ChangeLog.OpDelete))
            .withColumn("__seq", lit(2L)))
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_pgdel_ph/" +
          dir.replaceAll("[^0-9.]", "")
        val (pg, build) = timed {
          GraphAnn.persistGraph(GraphAnn.buildGraphExact(initial,
            "embedding", "vec_id", m = 6), root, buckets = 8)
        }
        val (_, sync) = timed {
          GraphAnn.syncPersistedGraphChanges(s, pg, initial, changes,
            "vec_id", "embedding")
        }
        val (_, search) = timed {
          GraphAnn.queryPersistedGraph(s, pg,
            e.filter(col("vec_id") >= 5 && col("vec_id") < 400),
            e.filter(col("vec_id") < 5), "vec_id", "embedding",
            "vec_id", "embedding", k = 3, entries = 4, beam = 4,
            hops = 3, metric = Metric.L2, entryMod = 5L).count()
        }
        Map("build" -> build, "sync" -> sync, "search" -> search)
      }),
      "ann_maxsim_synced" -> ((s, dir) => {
        import graft.search.MaxSim
        import graft.index.ChangeLog
        def timed[T](f: => T): (T, Double) = {
          val t0 = System.nanoTime()
          val r = f
          (r, (System.nanoTime() - t0) / 1e9)
        }
        val e = emb(s, dir).filter(col("embedding").isNotNull)
        def toks(df: DataFrame) = df
          .select(col("vec_id"),
            explode(sequence(lit(0), lit(7))).as("ti"),
            col("embedding"))
          .select(col("vec_id"), col("ti"),
            slice(col("embedding"), col("ti") * 8 + 1, lit(8)).as("tv"))
        def bags(df: DataFrame) = df
          .select(col("vec_id"),
            transform(sequence(lit(0), lit(7)),
              i => slice(col("embedding"), i * 8 + 1, lit(8))).as("toks"))
        val root = s"${System.getProperty("java.io.tmpdir")}" +
          "/graft_ptoksync_ph/" + dir.replaceAll("[^0-9.]", "")
        val build = e.filter(col("vec_id") >= 15)
          .withColumn("embedding",
            when(col("vec_id") === 15, reverse(col("embedding")))
              .otherwise(col("embedding")))
        val (idx, tb) = timed {
          MaxSim.persistTokens(toks(build), "vec_id", "tv", root, bits = 4)
        }
        val changes = bags(e.filter(col("vec_id") >= 5 &&
            col("vec_id") < 15))
          .withColumn("__op", lit(ChangeLog.OpInsert))
          .withColumn("__seq", lit(1L))
          .unionByName(bags(e.filter(col("vec_id") === 15))
            .withColumn("__op", lit(ChangeLog.OpUpdate))
            .withColumn("__seq", lit(2L)))
          .unionByName(bags(e.filter(col("vec_id") === 20))
            .withColumn("__op", lit(ChangeLog.OpDelete))
            .withColumn("__seq", lit(2L)))
          .unionByName(bags(e.filter(col("vec_id") === 20))
            .withColumn("__op", lit(ChangeLog.OpInsert))
            .withColumn("__seq", lit(3L)))
        val (_, ts) = timed {
          MaxSim.syncPersistedTokens(s, idx, changes, "vec_id", "toks")
        }
        val (_, tq) = timed {
          MaxSim.topKPersisted(s, idx, "vec_id",
            toks(e.filter(col("vec_id") < 5)), "vec_id", "ti", "tv",
            k = 5).count()
        }
        Map("build" -> tb, "sync" -> ts, "search" -> tq)
      }))

  val oracleSql: Map[String, String] =
    baseOracleSql +
      // shard build + file-move merge holds exactly the full build's
      // rows (shared frozen centroids), so the merged query replays as
      // the direct IVF leg verbatim
      // the streaming SCD2 drain must land on the one-shot fold's
      // interval table row for row — one shared replay
      ("cdf_scd2_stream" -> baseOracleSql("cdf_scd2")) +
      ("ann_ivf_shard_merged" -> baseOracleSql("ann_ivf_topk")) +
      ("ann_signlsh_shard_merged" -> baseOracleSql("ann_signlsh_topk")) +
      ("ann_sq8_shard_merged" -> baseOracleSql("ann_sq8_rerank")) +
      ("ann_ivfpq_shard_merged" -> baseOracleSql("ann_ivfpq_topk")) +
      ("ann_signlsh_persisted" -> baseOracleSql("ann_signlsh_topk")) +
      ("ann_graph_persisted" -> baseOracleSql("ann_graph_topk")) +
      ("ann_graph_filtered" -> filteredGraphSql("ann_graph_topk")) +
      ("ann_graph_layered_filtered" ->
        filteredGraphSql("ann_graph_layered_topk")) +
      // synced sign-LSH ≡ fresh build over the live ids (codes are a
      // pure per-row function): base replay on the post-change id set
      ("ann_signlsh_synced" -> derivedSql("ann_signlsh_topk",
        "WHERE q.vec_id < 5 AND c.vec_id >= 5)" ->
          "WHERE q.vec_id < 5 AND c.vec_id >= 5 AND c.vec_id <> 20)")) +
      // synced SQ8: stats frozen on the INITIAL corpus [15,∞), coarse +
      // refine over the live id set
      ("ann_sq8_synced" -> derivedSql("ann_sq8_rerank",
        "FROM comp WHERE vec_id >= 5 GROUP BY d)" ->
          "FROM comp WHERE vec_id >= 15 GROUP BY d)",
        "WHERE q.vec_id < 5 AND c.vec_id >= 5" ->
          "WHERE q.vec_id < 5 AND c.vec_id >= 5 AND c.vec_id <> 20")) +
      ("ann_sq8_persisted" -> baseOracleSql("ann_sq8_rerank")) +
      ("ann_ivfpq_persisted" -> baseOracleSql("ann_ivfpq_topk")) +
      ("ann_ivfpq_synced" -> baseOracleSql("ann_ivfpq_topk")) +
      ("ann_maxsim_persisted" -> baseOracleSql("ann_maxsim_topk")) +
      // synced ≡ fresh build over the live corpus (pure per-token
      // buckets, no trained state) — the shared string IS the proof
      ("ann_maxsim_synced" -> baseOracleSql("ann_maxsim_topk")) +
      // shingle-token layout after the CDF round-trip ≡ the in-memory
      // chain over the true corpus — the shared string IS the proof
      ("ann_maxsim_docs_synced" -> baseOracleSql("ann_maxsim_docs")) +
      // MaxSim nDCG: the ann_ndcg_probe tail (positional gains 6−rnk,
      // log2 discounts, rank-ordered DCG folds) grafted onto the
      // token-level chain against the pooled exact order
      ("ann_ndcg_maxsim" -> derivedSql("ann_maxsim_topk",
        """SELECT query_id, rnk, vec_id FROM (
          |  SELECT query_id, vec_id,
          |    CAST(row_number() OVER (PARTITION BY query_id
          |      ORDER BY s DESC, vec_id) AS BIGINT) AS rnk
          |  FROM sc)
          |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin ->
        """, ans AS (
          |  SELECT query_id, vec_id, rnk AS arnk FROM (
          |    SELECT query_id, vec_id,
          |      row_number() OVER (PARTITION BY query_id
          |        ORDER BY s DESC, vec_id) AS rnk
          |    FROM sc)
          |  WHERE rnk <= 5 AND query_id % 2 = 0),
          |pooled AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  WHERE vec_id >= 5 AND embedding IS NOT NULL),
          |sq AS (
          |  SELECT vec_id AS query_id, embedding AS pqv
          |  FROM embeddings
          |  WHERE vec_id < 5 AND embedding IS NOT NULL
          |    AND vec_id % 2 = 0),
          |exact AS (
          |  SELECT query_id, vec_id, rnk FROM (
          |    SELECT s.query_id, c.vec_id,
          |      row_number() OVER (PARTITION BY s.query_id
          |        ORDER BY list_cosine_similarity(c.embedding, s.pqv)
          |          DESC, c.vec_id) AS rnk
          |    FROM pooled c CROSS JOIN sq s)
          |  WHERE rnk <= 5),
          |gains AS (
          |  SELECT query_id, vec_id, rnk, CAST(6 - rnk AS DOUBLE) AS g
          |  FROM exact),
          |dcg AS (
          |  SELECT a.query_id,
          |    list_sum(list(COALESCE(g.g, 0) / log2(a.arnk + 1)
          |      ORDER BY a.arnk)) AS dcg
          |  FROM ans a LEFT JOIN gains g
          |    ON g.query_id = a.query_id AND g.vec_id = a.vec_id
          |  GROUP BY a.query_id),
          |idcg AS (
          |  SELECT query_id,
          |    list_sum(list(g / log2(rnk + 1) ORDER BY rnk)) AS idcg
          |  FROM gains GROUP BY query_id)
          |SELECT i.query_id,
          |  round(COALESCE(d.dcg, 0) / i.idcg, 4) AS ndcg
          |FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
          |ORDER BY i.query_id""".stripMargin)) +
      // MaxSim recall: the MaxSim replay's final top-5 becomes the
      // answer set (sampled queries), joined against the pooled
      // exact cosine side — the ann_recall_probe tail grafted onto
      // the token-level chain
      ("ann_recall_maxsim" -> derivedSql("ann_maxsim_topk",
        """SELECT query_id, rnk, vec_id FROM (
          |  SELECT query_id, vec_id,
          |    CAST(row_number() OVER (PARTITION BY query_id
          |      ORDER BY s DESC, vec_id) AS BIGINT) AS rnk
          |  FROM sc)
          |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin ->
        """, ans AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT query_id, vec_id,
          |      row_number() OVER (PARTITION BY query_id
          |        ORDER BY s DESC, vec_id) AS rnk
          |    FROM sc)
          |  WHERE rnk <= 5 AND query_id % 2 = 0),
          |pooled AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  WHERE vec_id >= 5 AND embedding IS NOT NULL),
          |sq AS (
          |  SELECT vec_id AS query_id, embedding AS pqv
          |  FROM embeddings
          |  WHERE vec_id < 5 AND embedding IS NOT NULL
          |    AND vec_id % 2 = 0),
          |exact AS (
          |  SELECT query_id, vec_id FROM (
          |    SELECT s.query_id, c.vec_id,
          |      row_number() OVER (PARTITION BY s.query_id
          |        ORDER BY list_cosine_similarity(c.embedding, s.pqv)
          |          DESC, c.vec_id) AS rnk
          |    FROM pooled c CROSS JOIN sq s)
          |  WHERE rnk <= 5)
          |SELECT e.query_id,
          |  CAST(count(*) AS BIGINT) AS n_exact,
          |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_hit,
          |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0
          |    END) AS DOUBLE) / count(*), 4) AS recall
          |FROM exact e LEFT JOIN ans a
          |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
          |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin)) +
      // the PLAID persisted layout answers exactly like the in-memory
      // chain (partition-pruned scan of the same coded rows; PlaidSpec
      // pins disk == mem and the numFiles pruning)
      ("ann_maxsim_plaid_persisted" -> baseOracleSql("ann_maxsim_plaid")) +
      // synced ≡ untouched build under frozen quantizers (delete +
      // reinsert + LWW round-trip; PlaidSpec pins the semantics)
      ("ann_maxsim_plaid_synced" -> baseOracleSql("ann_maxsim_plaid")) +
      // every HNSW layer on disk answers like the in-memory hierarchy
      // (GraphAnnSpec pins disk == mem)
      ("ann_graph_hnsw_persisted" -> baseOracleSql("ann_graph_hnsw_topk")) +
      ("ann_ivfpq_residual_persisted" ->
        baseOracleSql("ann_ivfpq_residual")) +
      ("ann_ivfpq_residual_synced" ->
        baseOracleSql("ann_ivfpq_residual")) +
      // trained residual codebooks: the residual replay with the
      // first-32-rows codebook block swapped for the md5-ordered
      // residual sample + two unrolled integer Lloyd iterations (the
      // ann_pq_distortion trainer chain over residual points)
      ("ann_ivfpq_residual_trained" -> derivedSql("ann_ivfpq_residual",
        """pcents AS (
          |  SELECT vec_id, j FROM (
          |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
          |    FROM embeddings
          |    WHERE vec_id >= 5 AND embedding IS NOT NULL)
          |  WHERE j < 32),
          |cb AS (
          |  SELECT (rq.d // 4) AS s, p.j, rq.d, rq.ri
          |  FROM rq JOIN pcents p USING (vec_id)),""".stripMargin ->
        """samp AS (
          |  SELECT vec_id, r FROM (
          |    SELECT vec_id, row_number() OVER (
          |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS r
          |    FROM embeddings
          |    WHERE vec_id >= 5 AND embedding IS NOT NULL)
          |  WHERE r < 128),
          |sp AS (
          |  SELECT s.r, rq.d, rq.ri AS y
          |  FROM samp s JOIN rq ON rq.vec_id = s.vec_id),
          |c0 AS (SELECT (d // 4) AS s, r AS j, d, y FROM sp WHERE r < 32),
          |d1 AS (
          |  SELECT p.r, c.s, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
          |  FROM sp p JOIN c0 c ON c.d = p.d
          |  GROUP BY p.r, c.s, c.j),
          |m1 AS (SELECT r, s, j FROM (
          |  SELECT r, s, j,
          |    row_number() OVER (PARTITION BY r, s ORDER BY d2, j) AS rn
          |  FROM d1) WHERE rn = 1),
          |g1 AS (
          |  SELECT m.s, m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
          |    CAST(count(*) AS BIGINT) AS c
          |  FROM m1 m JOIN sp p ON p.r = m.r AND (p.d // 4) = m.s
          |  GROUP BY m.s, m.j, p.d),
          |c1 AS (
          |  SELECT c0.s, c0.j, c0.d,
          |    COALESCE(CAST((g1.sy - (((g1.sy % g1.c) + g1.c) % g1.c))
          |      / g1.c AS BIGINT), c0.y) AS y
          |  FROM c0 LEFT JOIN g1
          |    ON g1.s = c0.s AND g1.j = c0.j AND g1.d = c0.d),
          |d2i AS (
          |  SELECT p.r, c.s, c.j, sum((p.y - c.y) * (p.y - c.y)) AS d2
          |  FROM sp p JOIN c1 c ON c.d = p.d
          |  GROUP BY p.r, c.s, c.j),
          |m2 AS (SELECT r, s, j FROM (
          |  SELECT r, s, j,
          |    row_number() OVER (PARTITION BY r, s ORDER BY d2, j) AS rn
          |  FROM d2i) WHERE rn = 1),
          |g2 AS (
          |  SELECT m.s, m.j, p.d, CAST(sum(p.y) AS BIGINT) AS sy,
          |    CAST(count(*) AS BIGINT) AS c
          |  FROM m2 m JOIN sp p ON p.r = m.r AND (p.d // 4) = m.s
          |  GROUP BY m.s, m.j, p.d),
          |cb AS (
          |  SELECT c1.s, c1.j, c1.d AS d,
          |    COALESCE(CAST((g2.sy - (((g2.sy % g2.c) + g2.c) % g2.c))
          |      / g2.c AS BIGINT), c1.y) AS ri
          |  FROM c1 LEFT JOIN g2
          |    ON g2.s = c1.s AND g2.j = c1.j AND g2.d = c1.d),""".stripMargin)) +
      ("ann_ivf_synced_balanced" -> baseOracleSql("ann_ivf_synced")) +
      ("ann_ivf_stream_synced" -> baseOracleSql("ann_ivf_synced")) +
      // trained centroids + persisted delta path: re-train on the
      // INITIAL corpus [15,∞) (the sample and both Lloyd iterations),
      // then frozen-centroid assignment over the post-change live set
      ("ann_ivf_trained_synced" -> derivedSql("ann_ivf_trained_topk",
        "FROM embeddings WHERE vec_id >= 5 AND embedding IS NOT NULL)" ->
          "FROM embeddings WHERE vec_id >= 15 AND embedding IS NOT NULL)",
        "FROM embeddings\n  WHERE vec_id >= 5 AND embedding IS NOT NULL)" ->
          ("FROM embeddings\n  WHERE vec_id >= 5 AND vec_id <> 20 " +
            "AND embedding IS NOT NULL)"))) +
      ("ann_graph_layered_persisted" ->
        baseOracleSql("ann_graph_layered_topk")) +
      // PNG is lossless and the synthetic pixels are the SAME formula
      // as the PPM corpus, so the ImageIO decode / resize / knn legs
      // replay against the PPM oracles verbatim — what changes is only
      // which REAL bytes the Spark side decoded to get there
      ("mm_png_decode" -> baseOracleSql("mm_ppm_decode")) +
      ("mm_png_resize" -> baseOracleSql("mm_ppm_resize")) +
      ("mm_png_knn" -> baseOracleSql("mm_ppm_knn")) +
      // BMP is equally lossless — same pixel replay
      ("mm_bmp_decode" -> baseOracleSql("mm_ppm_decode")) +
      // animated GIF is lossless under 256 colors/frame — the PPM
      // video demux replay carries over
      ("mm_gif_video_frames" -> baseOracleSql("mm_video_frames")) +
      // decode -> dedup -> index -> search, replayed stage by stage
      // from the pixel formula
      ("mm_media_index_knn" ->
        """WITH RECURSIVE ids AS (
          |  SELECT doc_id AS id FROM documents WHERE doc_id < 120),
          |g AS (SELECT id, CAST(8 + id % 9 AS INT) AS w,
          |             CAST(8 + id % 7 AS INT) AS h
          |      FROM ids),
          |px AS (SELECT id, w, h, unnest(range(0, w * h)) AS p FROM g),
          |v AS (SELECT id, w, h,
          |        ((p // w) * 4) // h AS by, ((p % w) * 4) // w AS bx,
          |        (7 * (p % w) + 13 * (p // w) + id) % 256 AS r,
          |        (3 * (p % w) + 5 * (p // w) + 2 * id) % 256 AS gc,
          |        ((p % w) + (p // w) + 3 * id) % 256 AS b
          |      FROM px),
          |bm AS (
          |  SELECT id, by, bx, avg(r) AS ar, avg(gc) AS ag,
          |         avg(b) AS ab
          |  FROM v GROUP BY id, by, bx),
          |f AS MATERIALIZED (
          |  SELECT id, flatten(list([ar, ag, ab] ORDER BY by, bx))
          |    ::DOUBLE[] AS vec
          |  FROM bm GROUP BY id),
          |corpus AS (SELECT id, vec FROM f WHERE id >= 3),
          |pairs AS (
          |  SELECT a.id AS a_id, b.id AS b_id
          |  FROM corpus a JOIN corpus b ON a.id < b.id
          |  WHERE list_cosine_similarity(a.vec, b.vec) >= 0.9999),
          |edges AS (
          |  SELECT a_id AS u, b_id AS v2 FROM pairs
          |  UNION SELECT b_id, a_id FROM pairs),
          |reach AS (
          |  SELECT u AS id, u AS r FROM edges
          |  UNION
          |  SELECT reach.id, e.v2 FROM reach JOIN edges e
          |    ON e.u = reach.r),
          |comp AS (SELECT id, min(r) AS component FROM reach
          |         GROUP BY id),
          |keep AS MATERIALIZED (
          |  SELECT c.id, c.vec FROM corpus c
          |  LEFT JOIN comp ON comp.id = c.id
          |  WHERE coalesce(comp.component, c.id) = c.id),
          |cents AS (
          |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT)
          |           AS cell,
          |         vec AS cvec
          |  FROM (SELECT id, vec FROM keep ORDER BY id LIMIT 8)),
          |asg AS (
          |  SELECT k.id, k.vec, t.cell,
          |    row_number() OVER (PARTITION BY k.id
          |      ORDER BY list_distance(k.vec, t.cvec), t.cell) AS rn
          |  FROM keep k CROSS JOIN cents t),
          |cells AS (SELECT id, vec, cell FROM asg WHERE rn = 1),
          |qs AS (SELECT id AS query_id, vec AS qv FROM f WHERE id < 3),
          |probe AS (
          |  SELECT q.query_id, q.qv, t.cell,
          |    row_number() OVER (PARTITION BY q.query_id
          |      ORDER BY list_distance(q.qv, t.cvec), t.cell) AS pr
          |  FROM qs q CROSS JOIN cents t),
          |cand AS (
          |  SELECT p.query_id, p.qv, c.id, c.vec
          |  FROM (SELECT query_id, qv, cell FROM probe WHERE pr <= 2) p
          |  JOIN cells c USING (cell)),
          |ranked AS (
          |  SELECT query_id, id,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY list_cosine_similarity(vec, qv) DESC, id)
          |      AS rnk
          |  FROM cand)
          |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, id AS media_id
          |FROM ranked WHERE rnk <= 3
          |ORDER BY query_id, rnk""".stripMargin) +
      // JPEG: geometry-only replay (id-derived w/h); pixels are lossy
      ("mm_jpeg_decode" ->
        """SELECT doc_id AS media_id, CAST(8 + doc_id % 9 AS INT) AS width,
          |  CAST(8 + doc_id % 7 AS INT) AS height
          |FROM documents WHERE doc_id < 100 ORDER BY media_id""".stripMargin)
}
