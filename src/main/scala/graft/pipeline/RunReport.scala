package graft.pipeline

import graft.util.Jsons
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Per-run JSON report — the analog of the reference's
  * `DataGenerationResultWriter` (HTML/JSON report per run; SURVEY §3.9) and
  * `ValidationResult` summaries. Content comes from the distributed metrics
  * table (one aggregate, never a row-level collect); the report itself is a
  * small driver-side JSON file next to the output.
  */
object RunReport {

  final case class Summary(
      runId: String,
      rowsIn: Long,
      rowsOut: Long,
      keepRate: Double,
      dropReasons: Map[String, Long],
      scrubCounts: Map[String, Long],
      partitions: Long,
      /** Largest single partition's share of rows_in — the skew-spread check
        * of SURVEY §7.4.4 (a healthy run stays near 1/partitions; a hot
        * phash cluster colocated into one task shows up here immediately). */
      maxPartitionShare: Double = 0.0)

  def summarize(metrics: DataFrame, runId: String): Summary = {
    val totals = metrics.agg(
      sum("rows_in").as("in"),
      sum("rows_out").as("out"),
      count(lit(1)).as("parts"),
      max("rows_in").as("maxin")).head()
    val reasons = metrics
      .select(explode(col("drop_reasons")))
      .groupBy("key").agg(sum("value").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scrubs = metrics
      .select(explode(col("scrub_counts")))
      .groupBy("key").agg(sum("value").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val in = totals.getLong(0)
    val out = totals.getLong(1)
    Summary(runId, in, out, if (in == 0) 0.0 else out.toDouble / in, reasons, scrubs,
      totals.getLong(2),
      if (in == 0) 0.0 else totals.getLong(3).toDouble / in)
  }

  def toJson(s: Summary): String = {
    def m(mp: Map[String, Long]) =
      mp.toSeq.sortBy(_._1)
        .map { case (k, v) => s"""${Jsons.quote(k)}:$v""" }.mkString("{", ",", "}")
    s"""{"run_id":${Jsons.quote(s.runId)},"rows_in":${s.rowsIn},"rows_out":${s.rowsOut},""" +
      f""""keep_rate":${s.keepRate}%.6f,"partitions":${s.partitions},""" +
      f""""max_partition_share":${s.maxPartitionShare}%.6f,""" +
      s""""drop_reasons":${m(s.dropReasons)},"scrub_counts":${m(s.scrubCounts)}}"""
  }

  /** Human-readable HTML report — the analog of the reference's per-run HTML
    * (`core/generator/result/DataGenerationResultWriter.scala`): one
    * self-contained page, no assets, built from the same Summary.
    */
  def toHtml(s: Summary): String = {
    def esc(x: String) = x.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def table(title: String, mp: Map[String, Long]) =
      if (mp.isEmpty) ""
      else s"<h2>${esc(title)}</h2><table><tr><th>key</th><th>count</th></tr>" +
        mp.toSeq.sortBy(-_._2).map { case (k, v) =>
          s"<tr><td>${esc(k)}</td><td>$v</td></tr>"
        }.mkString + "</table>"
    s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>graft run ${esc(s.runId)}</title>
       |<style>body{font-family:sans-serif;margin:2em}table{border-collapse:collapse}
       |td,th{border:1px solid #999;padding:4px 10px;text-align:left}</style></head><body>
       |<h1>Run ${esc(s.runId)}</h1>
       |<table>
       |<tr><th>rows in</th><td>${s.rowsIn}</td></tr>
       |<tr><th>rows out</th><td>${s.rowsOut}</td></tr>
       |<tr><th>keep rate</th><td>${f"${s.keepRate}%.4f"}</td></tr>
       |<tr><th>partitions</th><td>${s.partitions}</td></tr>
       |</table>
       |${table("Drop reasons", s.dropReasons)}
       |${table("Scrub counts", s.scrubCounts)}
       |</body></html>""".stripMargin
  }

  /** Write `<outDir>/_report_<runId>.{json,html}`; returns the summary. */
  def write(metrics: DataFrame, runId: String, outDir: String): Summary = {
    val s = summarize(metrics, runId)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, s"_report_$runId.json"), toJson(s) + "\n")
    Files.writeString(Paths.get(outDir, s"_report_$runId.html"), toHtml(s))
    s
  }
}
