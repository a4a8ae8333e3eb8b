package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** File-format sinks/sources round-trips (csv, json, orc alongside the
  * parquet used everywhere else) with overwrite semantics — the
  * reference writes with mode("overwrite") + overwriteSchema
  * (syntetic_data_arxiv.py:131). */
class SinkSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "lang", "n_chars").limit(100).cache()

  private def roundTrip(fmt: String): Unit = {
    val dir = Files.createTempDirectory(s"graft_sink_$fmt").toString + "/out"
    docs.write.format(fmt).mode("overwrite")
      .option("header", "true").save(dir)
    val back = spark.read.format(fmt)
      .option("header", "true").option("inferSchema", "true").load(dir)
    assert(back.count() === 100, s"$fmt round-trip row count")
    val sums = back.agg(sum(col("n_chars").cast("long"))).head().getLong(0)
    val want = docs.agg(sum(col("n_chars"))).head().getLong(0)
    assert(sums === want, s"$fmt round-trip content")
  }

  test("csv round-trip")(roundTrip("csv"))
  test("json round-trip")(roundTrip("json"))
  test("orc round-trip")(roundTrip("orc"))

  test("overwrite replaces prior content (reference overwrite semantics)") {
    val dir = Files.createTempDirectory("graft_sink_ow").toString + "/out"
    docs.limit(10).write.mode("overwrite").parquet(dir)
    docs.limit(3).write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("schema evolution on overwrite (overwriteSchema analog)") {
    val dir = Files.createTempDirectory("graft_sink_sev").toString + "/out"
    docs.write.mode("overwrite").parquet(dir)
    docs.withColumn("extra", lit(1)).write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).columns.contains("extra"))
  }

  test("compaction: many small files become few, content identical, " +
    "no shuffle") {
    import graft.operators.Maintenance
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    docs.repartition(32).write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted
    val report = Maintenance.compactParquet(spark, dir,
      targetFileBytes = 1L << 30)
    assert(report.filesBefore === 32 && report.filesAfter === 1)
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(after === before, "compaction must not change content")
  }

  test("compaction preserves a partitionBy layout and its pruning") {
    import graft.operators.Maintenance
    import graft.search.Ann
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = Ann.buildIvfDeterministic(emb.filter(col("vec_id") >= 5),
      "embedding", "vec_id", 8)
    val dir = Files.createTempDirectory("graft_compact_part").toString + "/ivf"
    Ann.persistIvf(idx, dir)
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted
    val report = Maintenance.compactParquet(spark, dir,
      targetFileBytes = 1L << 30)
    assert(report.filesAfter <= report.filesBefore)
    // layout intact: still one __cell=N dir per cell, content identical
    val back = spark.read.parquet(dir)
    assert(back.collect().map(_.toString).sorted === before,
      "partitioned compaction must not change content")
    assert(back.columns.contains("__cell"),
      "partition column must survive compaction")
    // pruning still works: a cell filter must reach PartitionFilters,
    // and unselected cell directories are never opened
    spark.sharedState.cacheManager.clearCache()
    val plan = back.filter(col("__cell") === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").contains("__cell"),
      s"expected partition pruning on __cell, plan:\n$plan")
  }
}
