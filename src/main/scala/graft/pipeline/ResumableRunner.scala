package graft.pipeline

import graft.corpus.ImageRow
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Resumable, bucketed execution of the quality-filter stage (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * The work unit is a BUCKET = `pmod(xxhash64(image_id), numBuckets)` — row-
  * identity-keyed, so bucket membership is independent of input partitioning
  * (the reference's determinism trick, `provider/DataGenerator.scala:44-52`).
  * A run takes the buckets the manifest lacks, runs the pipeline over them
  * once, writes data and metrics `partitionBy(bucket)` in one observed write
  * ([[Metrics.writeWithMetrics]]: one job over the rows, no cache, the
  * near-unique columns without a parquet dictionary), and only
  * then appends those buckets to the manifest (write-audit-publish, SURVEY
  * §7.4.5). The write overwrites partitions dynamically, so it replaces the
  * directories of the buckets it writes and leaves committed buckets as they
  * are: a crash before the manifest append re-runs the same buckets into the
  * same directories — idempotent, no duplicates. On an Iceberg deployment the
  * write is one `overwritePartitions()` snapshot commit and the manifest is
  * the snapshot summary property; here (no Iceberg jars in the sandbox) the
  * same protocol runs over parquet dirs + a manifest file, behind this one
  * class so the swap is local.
  *
  * The bucket count is part of the output's layout: it is recorded in
  * `_buckets` before the first data write, and a run with another count is
  * rejected before it writes anything (a partition overwrite never removes
  * the other layout's directories, so mixing counts would duplicate rows).
  *
  * On a local filesystem the writes go through [[graft.util.NioLocalFileSystem]]
  * (registered by [[graft.GraftSession]]), which sets file and directory
  * modes without forking a `chmod` per file.
  *
  * At 100 TB the bucket predicate would be pushed into the table scan
  * (Iceberg partition pruning on a bucket-partitioned table); the protocol —
  * idempotent partition overwrite + manifest skip — is identical.
  */
final class ResumableRunner(
    spark: SparkSession,
    outDir: String,
    numBuckets: Int,
    cfg: FilterConfig = FilterConfig()) {

  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")

  private val manifestPath = Paths.get(outDir, "_manifest")
  private val layoutPath = Paths.get(outDir, "_buckets")

  def completedBuckets: Set[Int] =
    if (!Files.exists(manifestPath)) Set.empty
    else Files.readAllLines(manifestPath).asScala.filter(_.nonEmpty).map(_.toInt).toSet

  /** One append for all of `buckets`, made after their data is in place. */
  private def markDone(buckets: Seq[Int]): Unit =
    Files.write(manifestPath, buckets.map(b => s"$b\n").mkString.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Records the bucket count on the first run; throws if an earlier run
    * recorded another one. */
  private def checkLayout(): Unit =
    if (Files.exists(layoutPath)) {
      val recorded = new String(Files.readAllBytes(layoutPath)).trim.toInt
      if (recorded != numBuckets) throw new IllegalArgumentException(
        s"$outDir holds $recorded buckets, this run asks for $numBuckets")
    } else {
      Files.createDirectories(layoutPath.getParent)
      Files.write(layoutPath, s"$numBuckets\n".getBytes)
    }

  /** Runs the pipeline over every bucket the manifest lacks and commits them
    * together; returns the number of buckets committed by this invocation
    * (0 when the manifest is complete).
    *
    * A fresh run and a resume are the same run: ONE scan of `input`, filtered
    * to the missing buckets, pipeline once, one data write. (A read per
    * bucket would be a full scan per bucket: `pmod(xxhash64(image_id), n)`
    * cannot be pushed into a parquet scan.) To recompute committed buckets,
    * delete their lines from the manifest.
    */
  def run(input: Dataset[ImageRow], runId: String): Int = {
    checkLayout()
    val todo = (0 until numBuckets).filterNot(completedBuckets)
    if (todo.isEmpty) return 0
    val missing = input.toDF()
      .withColumn("bucket", pmod(xxhash64(col("image_id")), lit(numBuckets)).cast("int"))
      .where(col("bucket").isin(todo: _*))
    Metrics.writeWithMetrics(QualityFilter.runDF(spark, missing, cfg), runId,
      s"$outDir/data", s"$outDir/metrics")
    markDone(todo)
    todo.size
  }

  // explicit schemas: a run over an empty input commits directories that
  // hold no data file, and schema inference would throw
  // UNABLE_TO_INFER_SCHEMA on them
  def readOutput(): DataFrame = {
    val empty = spark.emptyDataset(Encoders.product[ImageRow])
    spark.read
      .schema(QualityFilter.run(spark, empty, cfg).schema.add("bucket", IntegerType))
      .parquet(s"$outDir/data")
  }
  def readMetrics(): DataFrame = spark.read.schema(Metrics.tableSchema).parquet(s"$outDir/metrics")
}
