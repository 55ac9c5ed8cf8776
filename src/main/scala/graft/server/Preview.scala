package graft.server

import graft.plan._
import org.apache.spark.sql.SparkSession

/** Fast sample preview — the reference's `FastSampleGenerator.scala`
  * (~494 LoC: generate a handful of records from a submitted schema/plan so
  * the UI can show what the data will look like before committing to a full
  * run). Same contract, no UI: accept any plan dialect, run a BOUNDED
  * version of it (counts clamped, sinks stripped, source reads limited),
  * return sample rows as JSON.
  *
  * Bounding is structural, not post-hoc: a preview of a billion-row plan
  * generates `sampleN` rows per task — it never generates-then-limits. For
  * filter plans the source read is `limit(sampleN * 10)` BEFORE the
  * pipeline (pushed to the scan), so preview cost is independent of source
  * size.
  */
object Preview {

  final case class Sample(dataset: String, rows: Seq[String])

  /** The dialect is [[PlanDocument]]'s; a unified config previews as the
    * multi-task plan it generates. */
  def preview(spark: SparkSession, body: String, sampleN: Int = 10): Seq[Sample] =
    PlanDocument.parse(body) match {
      case PlanDocument.UnifiedDoc(j) => previewMulti(spark, Unified.parse(j)._1, sampleN)
      case PlanDocument.MultiDoc(plan) => previewMulti(spark, plan, sampleN)
      case PlanDocument.FilterDoc(plan) => previewFilter(spark, plan, sampleN)
    }

  private def previewMulti(spark: SparkSession, plan: MultiPlanSpec, n: Int): Seq[Sample] = {
    val bounded = plan.copy(
      tasks = plan.tasks.map(t => t.copy(count = math.min(t.count, n.toLong), sink = None)),
      // cardinality ratios would re-inflate the clamped counts — a preview
      // shows field shapes and FK wiring, not cardinality
      relationships = plan.relationships.map(_.copy(ratio = None)))
    val outcome = MultiPlanRunner.run(spark, bounded)
    outcome.insertOrder.map { t =>
      Sample(t, outcome.frames(t).limit(n).toJSON.collect().toSeq)
    }
  }

  private def previewFilter(spark: SparkSession, plan: PlanSpec, n: Int): Seq[Sample] = {
    val bounded = plan.copy(sink = None, waitFor = None)
    // limit the SOURCE, not the output: annotation must not scan the world
    val df = PlanRunner.read(spark, plan.source).limit(n * 10)
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_preview")
    try {
      df.write.mode("overwrite").parquet(tmpPath.toString)
      val outcome = PlanRunner.run(spark,
        bounded.copy(source = SourceSpec("parquet", tmpPath.toString)))
      // collect BEFORE the temp copy is deleted — the frame's scan reads it
      Seq(Sample(plan.name, outcome.output.limit(n).toJSON.collect().toSeq))
    } finally {
      // a long-lived REST server must not accumulate one /tmp dir per call
      graft.util.Fs.deleteRecursively(tmpPath)
    }
  }
}
