package graftbench

import graft.corpus.{ImageRow, SyntheticImages}
import graft.pipeline.{FilterConfig, Metrics, Oracle, QualityFilter, ResumableRunner}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.stream.IntStream
import scala.jdk.CollectionConverters._

/** `filter`: a seeded synthetic corpus through the product path, a fresh
  * `ResumableRunner.run` (score, rules, scrub, persist, parquet written
  * `partitionBy(bucket)`, per-partition metrics, manifest). Every pass's
  * output is checked against `Oracle`, the row-by-row reference labels.
  */
final class FilterWorkload(o: Opts) extends Workload {
  private val rows = if (o.tiny) 5000 else 200000
  private val buckets = 16
  private val cfg = FilterConfig()
  private val corpusDir = o.work.resolve("filter-corpus").toString
  private val outDir = o.work.resolve("filter-out")
  val items: Long = rows

  def build(spark: SparkSession): Unit =
    SyntheticImages.generate(spark, rows, seed = o.seed, partitions = o.k * 4)
      .write.mode("overwrite").parquet(corpusDir)

  /** Expected drop counts by reason ("kept" for kept rows) over all rows. */
  private lazy val expectedCounts: Map[String, Long] =
    IntStream.range(0, rows).parallel()
      .mapToObj[String](i => Oracle.dropReason(
        SyntheticImages.row(i.toLong, o.seed, withBytes = false), cfg).getOrElse("kept"))
      .toArray(n => new Array[String](n))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }

  /** Expected scrubbed captions of a fixed seeded sample of kept rows. */
  private lazy val expectedCaptions: Map[String, String] = {
    val rnd = new scala.util.Random(o.seed)
    Iterator.continually(rnd.nextInt(rows))
      .map(i => Oracle.label(SyntheticImages.row(i.toLong, o.seed), cfg)).filter(_.keep)
      .take(64).map(e => e.image_id -> e.scrubbed_caption).toMap
  }

  def pass(p: Pass): Unit = {
    val spark = p.spark
    graft.util.Fs.deleteRecursively(outDir)
    val input = spark.read.parquet(corpusDir).as(Encoders.product[ImageRow])
    p.operation(s"pass ${p.index} ResumableRunner.run") {
      p.timed("graft.pipeline.ResumableRunner.run") {
        new ResumableRunner(spark, outDir.toString, buckets, cfg).run(input, s"bench-${p.index}")
      }
      p.check(verify(spark))
    }
    if (p.traced) layers(p)
  }

  private def verify(spark: SparkSession): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val done = new ResumableRunner(spark, outDir.toString, buckets, cfg).completedBuckets
    if (done != (0 until buckets).toSet)
      errs += s"manifest lists buckets ${done.toSeq.sorted.mkString(",")}"

    val m = spark.read.parquet(outDir.resolve("metrics").toString)
    val totals = m.agg(sum("rows_in"), sum("rows_out")).head()
    val reasons = m.select(explode(col("drop_reasons"))).groupBy("key").agg(sum("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var got = reasons + ("kept" -> totals.getLong(1))
    if (o.perturb == "count") got = got.updated("kept", got("kept") + 1)
    if (totals.getLong(0) != rows) errs += s"rows_in ${totals.getLong(0)} != $rows"
    if (got != expectedCounts) errs += s"drop counts $got != oracle $expectedCounts"

    var captions = spark.read.parquet(outDir.resolve("data").toString)
      .where(col("image_id").isin(expectedCaptions.keys.toSeq: _*))
      .select("image_id", "scrubbed_caption").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    if (o.perturb == "caption") captions = captions.map { case (k, v) => k -> (v + "!") }
    val wrong = expectedCaptions.filter { case (k, v) => !captions.get(k).contains(v) }
    if (wrong.nonEmpty) errs += s"${wrong.size} of ${expectedCaptions.size} sampled captions differ"
    errs.result()
  }

  /** Module layers of the product path, timed from outside in traced passes. */
  private def layers(p: Pass): Unit = {
    val spark = p.spark
    val df = spark.read.parquet(corpusDir)
    p.layerTimed("graft.pipeline.QualityFilter.runDF", "pipeline.compute_s") {
      QualityFilter.runDF(spark, df, cfg).write.format("noop").mode("overwrite").save()
    }
    val annotated = QualityFilter.runDF(spark, df, cfg).persist()
    try {
      annotated.count()
      p.layerTimed("graft.pipeline.Metrics.partitionMetrics", "pipeline.metrics_s") {
        Metrics.partitionMetrics(annotated, "bench").write.format("noop").mode("overwrite").save()
      }
    } finally annotated.unpersist(blocking = true)
    val commit = p.secondsOf("graft.pipeline.ResumableRunner.run")
    p.layer("pipeline.commit_s") = commit
    p.layer("pipeline.sink_share") = 1.0 - p.layer("pipeline.compute_s") / commit
    val files = Files.walk(outDir)
    try p.layer("pipeline.bytes_written") = files.iterator().asScala
      .filter(f => Files.isRegularFile(f)).map(f => Files.size(f)).sum.toDouble
    finally files.close()
    p.layer("pipeline.keep_ratio") = expectedCounts.getOrElse("kept", 0L).toDouble / rows
  }

  def oracle(): Unit = { expectedCounts; expectedCaptions }

  override def finish(p: Pass): Unit = graft.util.Fs.deleteRecursively(outDir)
}
