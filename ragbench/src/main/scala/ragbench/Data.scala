package ragbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Moving generated inputs into Spark, and reading state back out for
  * the checks. */
object Data {
  val ChangeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("__op", StringType, nullable = false),
    StructField("__seq", LongType, nullable = false)))

  /** Writes `docs` as the parquet source table at `path` and returns a
    * reader over it, so graft scans files like it would in production. */
  def sourceTable(spark: SparkSession, docs: Seq[(Long, String)],
      path: String): DataFrame = {
    import spark.implicits._
    docs.toDF("id", "text").repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def changes(spark: SparkSession,
      rows: Seq[(Long, String, String, Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (id, t, op, seq) =>
          org.apache.spark.sql.Row(id, t, op, seq)
        }, 1),
      ChangeSchema)

  /** `(id, embedding)` of an index table, for the oracle. */
  def vectors(df: DataFrame): Check.Vectors = {
    val rows = df.select("id", "embedding").collect()
    new Check.Vectors(rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray))
  }

  def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (bytes, data files) under `path`, recursively; 0 when absent.
    * Hidden and checksum files (`.`, `_` prefixes) are not data. */
  def footprint(spark: SparkSession, path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fs(spark, path)
    if (!f.exists(p)) (0L, 0L)
    else {
      val it = f.listFiles(p, true)
      var bytes = 0L
      var files = 0L
      while (it.hasNext) {
        val s = it.next()
        val n = s.getPath.getName
        if (!n.startsWith(".") && !n.startsWith("_")) {
          bytes += s.getLen
          files += 1
        }
      }
      (bytes, files)
    }
  }

  /** Bytes of live rows as the workloads count them: text + 64 floats. */
  def liveBytes(texts: Iterable[String], dim: Int = 64): Long =
    texts.iterator.map(_.getBytes("UTF-8").length.toLong + 4L * dim).sum
}
