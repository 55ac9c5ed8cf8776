package graft.pipeline

import graft.SparkSuite
import graft.corpus.SyntheticImages
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class RunReportSpec extends SparkSuite {

  test("report totals reconcile with the annotated frame; valid JSON") {
    val annotated = QualityFilter.run(spark,
      SyntheticImages.generate(spark, 1000L, seed = 9L, partitions = 4)).cache()
    val metrics = Metrics.partitionMetrics(annotated, "r9")
    val dir = Files.createTempDirectory("graft_report").toString
    val s = RunReport.write(metrics, "r9", dir)
    assert(s.rowsIn == 1000)
    assert(s.rowsOut == annotated.where(col("keep")).count())
    assert(s.dropReasons.values.sum == 1000 - s.rowsOut)
    assert(s.keepRate > 0 && s.keepRate < 1)
    // skew-spread metric: 4 partitions of uniform synthetic data → max share
    // near 1/4, never 1.0 (SURVEY §7.4.4 per-partition spread check)
    assert(s.maxPartitionShare > 0.15 && s.maxPartitionShare < 0.5, s.maxPartitionShare.toString)
    val json = Files.readString(Paths.get(dir, "_report_r9.json"))
    // driver-style parse check: well-formed JSON with expected keys
    assert(json.contains("\"run_id\":\"r9\"") && json.contains("\"drop_reasons\":{"))
    assert(json.contains("\"max_partition_share\":"))
    // a run id with a quote, a backslash and a control char stays valid JSON
    val odd = "r\"9\\\n"
    val parsed = org.json4s.jackson.JsonMethods.parse(RunReport.toJson(s.copy(runId = odd)))
    assert((parsed \ "run_id") == org.json4s.JString(odd))
    val html = Files.readString(Paths.get(dir, "_report_r9.html"))
    assert(html.startsWith("<!DOCTYPE html>") && html.contains("Run r9")
      && html.contains("Drop reasons") && html.contains(s.rowsOut.toString))
    annotated.unpersist()
  }

  test("cardinality count adjustment propagates along FK chains") {
    import graft.generator.ForeignKeys
    val counts = Map("accounts" -> 30L, "transactions" -> 30L, "entries" -> 5L)
    val adjusted = ForeignKeys.adjustCounts(counts, Seq(
      ("accounts", "transactions", 2.0), // 1:2 → 60
      ("transactions", "entries", 3.0))) // compounds → 180
    assert(adjusted == Map("accounts" -> 30L, "transactions" -> 60L, "entries" -> 180L))
    // no cardinality → unchanged; cycles rejected
    assert(ForeignKeys.adjustCounts(counts, Nil) == counts)
    intercept[IllegalArgumentException] {
      ForeignKeys.adjustCounts(Map("a" -> 1L, "b" -> 1L),
        Seq(("a", "b", 2.0), ("b", "a", 2.0)))
    }
  }
}
