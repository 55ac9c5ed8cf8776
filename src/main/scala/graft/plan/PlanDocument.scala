package graft.plan

import graft.rules.RuleResult
import graft.util.Jsons.quote
import org.apache.spark.sql.SparkSession
import org.json4s._

/** The one front door for a plan document (the reference's
  * `UnifiedConfigDetector`): `graft.Main --plan`, REST `/plan`,
  * `/plans/{name}/run` and `/preview` all read a plan text here, so a
  * document means the same thing whichever door it comes in by.
  *
  * [[parse]] reads the text once, under the format rule of
  * [[graft.util.Jsons.parse]] (`{` → JSON, else YAML), and picks the
  * dialect once:
  *  - `version` + `dataSources` → a unified config, run by [[Unified]];
  *  - `tasks` → a multi-task plan, run by [[MultiPlanRunner]], unless the
  *    tasks name task files (the reference's legacy plan: it runs from
  *    `graft.Main --legacy`, which is given the task folder);
  *  - anything else → a single-step filter plan, run by [[PlanRunner]].
  *
  * [[run]] executes a parsed document and sums it up as one JSON object.
  */
object PlanDocument {

  sealed trait Doc
  final case class UnifiedDoc(json: JValue) extends Doc
  final case class MultiDoc(plan: MultiPlanSpec) extends Doc
  final case class FilterDoc(plan: PlanSpec) extends Doc

  private[plan] def isUnified(j: JValue): Boolean =
    (j \ "version") != JNothing && (j \ "dataSources") != JNothing

  /** The reference's legacy plan: its `tasks` name task files
    * (`dataSourceName`, no `fields`), which live in a separate folder. */
  private def isLegacy(j: JValue): Boolean =
    graft.util.Jsons.arr(j \ "tasks").exists(t =>
      (t \ "dataSourceName") != JNothing && (t \ "fields") == JNothing)

  /** Throws on text that is not a plan in any dialect, and with an
    * IllegalArgumentException on a legacy plan, whose task folder a
    * document cannot carry. */
  def parse(text: String): Doc = {
    implicit val formats: Formats = DefaultFormats
    val j = graft.util.Jsons.parse(text)
    if (isUnified(j)) UnifiedDoc(j)
    else if (isLegacy(j)) throw new IllegalArgumentException(
      "a legacy plan (tasks with a dataSourceName and no fields) refers to task files; " +
        "run it with graft.Main --legacy <plan> <taskFolder>")
    else if ((j \ "tasks") != JNothing) MultiDoc(j.extract[MultiPlanSpec])
    else FilterDoc(j.extract[PlanSpec])
  }

  /** A run's outcome: `fields` are the members of its summary object —
    * `plan` and `success` first, then `rows_in`/`rows_out` (filter) or
    * per-step `counts` (multi-task, unified), then `validations`. */
  final case class Summary(success: Boolean, fields: String) {
    def json: String = s"{$fields}"
  }

  def run(spark: SparkSession, doc: Doc): Summary = doc match {
    case UnifiedDoc(j) =>
      val o = Unified.run(spark, j)
      summary(o.name, o.success, counts(o.generation), validations(o))
    case MultiDoc(plan) =>
      val o = MultiPlanRunner.run(spark, plan)
      summary(o.plan, o.success, counts(o), validations(
        o.insertOrder.flatMap(t => o.validations.getOrElse(t, Nil).map(Some(t) -> _))))
    case FilterDoc(plan) =>
      val o = PlanRunner.run(spark, plan)
      summary(o.plan, o.success, s""""rows_in":${o.rowsIn},"rows_out":${o.rowsOut}""",
        validations(o.validations.map(None -> _)))
  }

  private def summary(plan: String, success: Boolean, detail: String, validations: String) =
    Summary(success, s""""plan":${quote(plan)},"success":$success,$detail,"validations":$validations""")

  /** The `counts` member: rows per generated step, in insert order. */
  private[plan] def counts(o: MultiPlanRunner.MultiPlanOutcome): String =
    o.insertOrder.map(t => s"${quote(t)}:${o.counts.getOrElse(t, 0L)}").mkString(""""counts":{""", ",", "}")

  private[plan] def validations(o: Unified.UnifiedOutcome): String =
    validations(o.validations.flatMap(v => v.results.map(Some(v.step) -> _)))

  /** One object per rule result, led by its step where there is one. */
  private def validations(rs: Seq[(Option[String], RuleResult)]): String =
    rs.map { case (step, v) =>
      "{" + step.fold("")(s => s""""step":${quote(s)},""") +
        s""""rule":${quote(v.rule)},"total":${v.total},"errors":${v.errors},"success":${v.success}}"""
    }.mkString("[", ",", "]")
}
