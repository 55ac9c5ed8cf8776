package graft.rules

import graft.generator._
import org.apache.spark.sql.DataFrame
import org.json4s._

/** Catalog-metadata importers — the reference's last two metadata sources:
  *
  *  - OpenLineage / Marquez (`core/generator/metadata/datasource/
  *    openlineage/OpenLineageMetadata.scala`, models in
  *    `core/model/openlineage/`): a dataset document carries
  *    `fields: [{name, type, tags, description}]`; the reference maps the
  *    types to generation metadata. The HTTP fetch is one GET (env-blocked
  *    here); the conversion — type → field spec — is [[OpenLineage]].
  *
  *  - OpenMetadata (`.../openmetadata/OpenMetadataDataValidations.scala` +
  *    `model/OpenMetadataModels.scala`): table test cases whose
  *    `parameterValues` keys select the quality check. [[OpenMetadata]]
  *    mirrors the reference's param-key dispatch exactly (sqlExpression,
  *    minValue/maxValue with and without a field, value,
  *    {min,max}ValueFor{Max,Mean,Min,StdDev,Median}InCol /
  *    minValueForColSum, regex, forbiddenValues, allowedValues,
  *    fieldValuesToBeNotNull, fieldValuesToBeUnique, missingCountValue) —
  *    row checks become [[Rule]]s (one projection), aggregate checks become
  *    named one-job dataset checks.
  */
object OpenLineage {

  final case class LineageDataset(
      namespace: String,
      name: String,
      specs: Seq[FieldSpec])

  import graft.util.Jsons.str

  /** Accepts a single Marquez dataset document or a ListDatasetResponse
    * (`{datasets: [...]}`).
    */
  def parse(text: String): Seq[LineageDataset] = {
    val j = org.json4s.jackson.JsonMethods.parse(text)
    val docs = (j \ "datasets") match {
      case JArray(ds) => ds
      case _ => List(j)
    }
    docs.map { d =>
      val ns = str(d \ "id" \ "namespace").orElse(str(d \ "namespace")).getOrElse("")
      val name = str(d \ "id" \ "name").orElse(str(d \ "name")).getOrElse("")
      val fields = (d \ "fields") match { case JArray(fs) => fs; case _ => Nil }
      LineageDataset(ns, name, fields.map { f =>
        fieldFromType(
          str(f \ "name").getOrElse("field"),
          str(f \ "type").getOrElse("VARCHAR"))
      })
    }
  }

  /** SQL-ish type name → generator spec (the reference's type map,
    * `OpenLineageMetadata.scala` getFieldMetadata). */
  def fieldFromType(name: String, typ: String): FieldSpec =
    typ.toUpperCase.takeWhile(c => c.isLetter) match {
      case "INT" | "INTEGER" | "BIGINT" | "SMALLINT" | "TINYINT" | "LONG" =>
        IntField(name, 0, 1000000)
      case "DOUBLE" | "FLOAT" | "DECIMAL" | "NUMERIC" | "REAL" =>
        DoubleField(name, 0.0, 1000.0)
      case "BOOLEAN" | "BOOL" => OneOfField(name, Seq(("true", 0.5), ("false", 0.5)))
      case "DATE" => DateField(name, "2022-01-01", 365)
      case "TIMESTAMP" | "DATETIME" => TimestampField(name, "2022-01-01 00:00:00", 365L * 86400)
      case _ => AlphaNumField(name, 5, 20) // VARCHAR/CHAR/TEXT/UUID/...
    }
}

object OpenMetadata {

  import graft.util.Jsons.str

  /** Unwrap an OpenMetadata API payload: `{data: [...]}` listing, a bare
    * array, or a single document — ONE implementation for both the
    * test-case and table entry points. */
  private def responseDocs(j: JValue): List[JValue] = (j \ "data") match {
    case JArray(cs) => cs
    case _ => j match { case JArray(cs) => cs; case single => List(single) }
  }

  /** Parse an OpenMetadata test-case listing (`{data: [...]}` as the API
    * returns, or a bare array / single case). The target field comes from
    * the case's `entityLink` (`...::columns::<name>...`), as the reference
    * resolves it.
    */
  def parse(text: String): RuleSet = {
    val j = org.json4s.jackson.JsonMethods.parse(text)
    val cases = responseDocs(j)
    val converted = cases.map { c =>
      val params: Map[String, String] = (c \ "parameterValues") match {
        case JArray(ps) => ps.flatMap(p =>
          str(p \ "name").zip(str(p \ "value"))).toMap
        case _ => Map.empty
      }
      val field = str(c \ "entityLink").flatMap { link =>
        "::columns::([A-Za-z0-9_]+)".r.findFirstMatchIn(link).map(_.group(1))
      }
      fromParams(params, field)
    }
    RuleSet(converted.flatMap(_.rules), converted.flatMap(_.datasetChecks))
  }

  /** OpenMetadata TABLE responses (`GET /api/v1/tables` — `{data: [...]}`
    * with per-table `columns: [{name, dataType, dataLength, constraint}]`)
    * → generation specs per table, the reference's schema-discovery half
    * of the OpenMetadata source. Type names map through the shared
    * SQL-ish table ([[OpenLineage.fieldFromType]]); NOT_NULL/PRIMARY_KEY
    * constraints become rules.
    */
  def tableSpecs(text: String): Seq[(String, Seq[FieldSpec], Seq[Rule])] = {
    val j = org.json4s.jackson.JsonMethods.parse(text)
    val tables = responseDocs(j)
    import graft.util.Jsons.arr
    tables.flatMap { t =>
      str(t \ "name").map { name =>
        // the API spells the column list `fields` (older payloads: `columns`)
        val cols = arr(t \ "fields") match {
          case Nil => arr(t \ "columns")
          case fs => fs
        }
        val specs = cols.flatMap { c =>
          str(c \ "name").map(n =>
            OpenLineage.fieldFromType(n, str(c \ "dataType").getOrElse("VARCHAR")))
        }
        val colRules = cols.flatMap { c =>
          (str(c \ "name"), str(c \ "constraint")) match {
            case (Some(n), Some("NOT_NULL" | "PRIMARY_KEY")) => Some(Rules.isNotNull(n))
            case _ => None
          }
        }
        // table-level constraints: PRIMARY_KEY/UNIQUE field lists → notNull
        val tableRules = arr(t \ "tableConstraints").flatMap { tc =>
          str(tc \ "constraintType") match {
            case Some("PRIMARY_KEY" | "UNIQUE" | "NOT_NULL") =>
              arr(tc \ "fields").flatMap(str).map(Rules.isNotNull)
            case _ => Nil
          }
        }
        (name, specs, colRules ++ tableRules)
      }
    }
  }

  /** The reference's param-key dispatch (`OpenMetadataModels.scala`
    * matchesParams): which keys are present selects the check.
    */
  def fromParams(params: Map[String, String], field: Option[String]): RuleSet = {
    def num(k: String): Option[Double] = params.get(k).flatMap(_.toDoubleOption)
    // descriptive failure for table-scoped entityLinks on field checks —
    // a bare None.get on a malformed registry payload names nothing
    def reqField(kind: String): String = field.getOrElse(
      throw new IllegalArgumentException(
        s"$kind check needs a column-scoped entityLink (…::columns::<name>), got a table-level link"))
    def split(k: String): Seq[String] =
      params.get(k).toSeq.flatMap(_.split(',')).map(_.replace("\\\"", "").trim)
    def agg(kind: String, minKey: String, maxKey: String): Option[(String, DataFrame => Boolean)] =
      if (params.contains(minKey) || params.contains(maxKey)) {
        val f = field.getOrElse(throw new IllegalArgumentException(s"$kind check needs a field"))
        val lo = num(minKey).getOrElse(Double.NegativeInfinity)
        val hi = num(maxKey).getOrElse(Double.PositiveInfinity)
        Some((s"${f}_${kind}Between", (df: DataFrame) =>
          if (kind == "median") GroupRules.medianBetween(df, f, lo, hi)
          else GroupRules.aggBetween(df, f, kind, lo, hi)))
      } else None

    val rules = Seq.newBuilder[Rule]
    val checks = Seq.newBuilder[(String, DataFrame => Boolean)]

    params.get("sqlExpression").foreach(e =>
      rules += Rules.sqlExpr(s"om_sql_${e.hashCode.toHexString}", e))
    // minValue/maxValue: a FIELD bound when a column is linked, else a
    // table row-count bound — the reference's exact disambiguation
    if (params.contains("minValue") || params.contains("maxValue")) field match {
      case Some(f) =>
        num("minValue").foreach(v => rules += Rules.greaterThan(f, v, strictly = false))
        num("maxValue").foreach(v => rules += Rules.lessThan(f, v, strictly = false))
      case None =>
        val lo = num("minValue").getOrElse(Double.NegativeInfinity)
        val hi = num("maxValue").getOrElse(Double.PositiveInfinity)
        checks += (("table_rowCountBetween", (df: DataFrame) => {
          val n = df.count().toDouble; n >= lo && n <= hi
        }))
    }
    if (params.contains("value") && field.isEmpty)
      checks += (("table_rowCountEqual", (df: DataFrame) =>
        num("value").contains(df.count().toDouble)))
    params.get("regex").foreach(r =>
      rules += Rules.matches(reqField("regex"), r))
    if (params.contains("allowedValues"))
      rules += Rules.in(reqField("allowedValues"), split("allowedValues"))
    if (params.contains("forbiddenValues"))
      rules += Rules.notIn(reqField("forbiddenValues"), split("forbiddenValues"))
    if (params.contains("fieldValuesToBeNotNull"))
      rules += Rules.isNotNull(reqField("fieldValuesToBeNotNull"))
    if (params.contains("fieldValuesToBeUnique"))
      checks += GroupRules.uniqueCheck(reqField("fieldValuesToBeUnique"))
    if (params.contains("missingCountValue")) {
      val f = reqField("missingCountValue")
      rules += Rules.isNotNull(f)
      rules += Rules.isNotEqual(f, "")
      split("missingValueMatch").foreach(m => rules += Rules.isNotEqual(f, m))
    }
    checks ++= agg("max", "minValueForMaxInCol", "maxValueForMaxInCol")
    checks ++= agg("mean", "minValueForMeanInCol", "maxValueForMeanInCol")
    checks ++= agg("min", "minValueForMinInCol", "maxValueForMinInCol")
    checks ++= agg("stddev", "minValueForStdDevInCol", "maxValueForStdDevInCol")
    checks ++= agg("median", "minValueForMedianInCol", "maxValueForMedianInCol")
    checks ++= agg("sum", "minValueForColSum", "maxValueForColSum")

    RuleSet(rules.result(), checks.result())
  }

  /** Run everything against one frame: row rules in one projection,
    * dataset checks one bounded job each. */
  def validate(df: DataFrame, imported: RuleSet, numSamples: Int = 5): Seq[RuleResult] =
    RuleEngine.validate(df, imported, numSamples = numSamples)
}
