package graft.rules

import graft.generator._
import org.apache.spark.sql.DataFrame

/** Open-Data-Contract-Standard importer — the reference's ODCS adapter
  * (`core/generator/metadata/datasource/opendatacontractstandard/
  * OpenDataContractStandardV3Models.scala:90-155` + DataValidations) maps a
  * YAML data contract's schema properties to generation metadata and
  * validations. Same here, on this engine's two surfaces:
  *
  *  - [[toRules]]: required → notNull, unique → dataset uniqueness,
  *    logicalTypeOptions {minimum, maximum, pattern, minLength, maxLength} →
  *    between / matches / lengthBetween — all row-level rules evaluate in
  *    ONE projection;
  *  - [[toFieldSpecs]]: the same properties become generator specs (the
  *    contract doubles as a generation plan, the reference's core trick) —
  *    pattern → [[RegexField]], integer/number bounds → ranged fields,
  *    string bounds → [[AlphaNumField]].
  *
  * Supported logicalType: string | integer | number | date | boolean.
  */
object DataContract {

  final case class LogicalTypeOptions(
      minimum: Option[Double] = None,
      maximum: Option[Double] = None,
      pattern: Option[String] = None,
      minLength: Option[Int] = None,
      maxLength: Option[Int] = None)

  final case class Property(
      name: String,
      logicalType: String = "string",
      required: Option[Boolean] = None,
      unique: Option[Boolean] = None,
      logicalTypeOptions: Option[LogicalTypeOptions] = None)

  final case class SchemaObject(name: String = "", properties: Seq[Property] = Nil)
  final case class Contract(name: String = "", schema: Seq[SchemaObject] = Nil) {
    def properties: Seq[Property] = schema.flatMap(_.properties)
  }

  /** ODCS YAML (or JSON) → Contract via the same Jackson/json4s path as
    * [[graft.plan.PlanRunner]]. Handles BOTH standard generations: v3's
    * `schema: [{properties: [...]}]` and v2's `dataset: [{table, columns:
    * [{column, logicalType, isNullable, isPrimaryKey, isUnique}]}]`
    * (the reference's odcs fixtures ship both).
    */
  def parse(text: String): Contract = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val j = graft.util.Jsons.parse(text)
    (j \ "dataset") match {
      case JArray(tables) =>
        import graft.util.Jsons.{str, arr, bool}
        val objs = tables.map { t =>
          val props = arr(t \ "columns").flatMap { c =>
            str(c \ "column").map { name =>
              Property(
                name = name,
                logicalType = str(c \ "logicalType").getOrElse("string"),
                required = (c \ "isNullable") match {
                  case JNothing => None
                  case v => Some(!bool(v, default = true))
                },
                unique = (c \ "isUnique", c \ "isPrimaryKey") match {
                  case (JNothing, JNothing) => None
                  case (u, pk) => Some(bool(u) || bool(pk))
                })
            }
          }
          SchemaObject(str(t \ "table").getOrElse(""), props)
        }
        Contract(str(j \ "quantumName").orElse(str(j \ "datasetName")).getOrElse(""), objs)
      case _ => j.extract[Contract]
    }
  }

  /** Row-level rules from the contract (one projection via RuleEngine). */
  def toRules(c: Contract): Seq[Rule] =
    c.properties.flatMap { p =>
      val o = p.logicalTypeOptions.getOrElse(LogicalTypeOptions())
      val req = if (p.required.contains(true)) Seq(Rules.isNotNull(p.name)) else Nil
      val range = (o.minimum, o.maximum) match {
        case (Some(lo), Some(hi)) => Seq(Rules.between(p.name, lo, hi))
        case (Some(lo), None) => Seq(Rules.greaterThan(p.name, lo, strictly = false))
        case (None, Some(hi)) => Seq(Rules.lessThan(p.name, hi, strictly = false))
        case _ => Nil
      }
      val pat = o.pattern.map(Rules.matches(p.name, _)).toSeq
      val len = (o.minLength, o.maxLength) match {
        case (Some(lo), Some(hi)) => Seq(Rules.lengthBetween(p.name, lo, hi))
        case (Some(lo), None) => Seq(Rules.lengthBetween(p.name, lo, Int.MaxValue))
        case (None, Some(hi)) => Seq(Rules.lengthBetween(p.name, 0, hi))
        case _ => Nil
      }
      req ++ range ++ pat ++ len
    }

  /** Dataset-level uniqueness checks (unique: true properties). */
  def uniquenessChecks(c: Contract): Seq[(String, DataFrame => Boolean)] =
    c.properties.filter(_.unique.contains(true)).map(p => GroupRules.uniqueCheck(p.name))

  /** Generator field specs from the contract — contract-driven synthetic
    * data, the reference's primary use of imported metadata. */
  def toFieldSpecs(c: Contract, seqPrefix: String = "R"): Seq[FieldSpec] =
    c.properties.map { p =>
      val o = p.logicalTypeOptions.getOrElse(LogicalTypeOptions())
      (p.logicalType.toLowerCase, o.pattern) match {
        case (_, Some(pat)) => RegexField(p.name, pat)
        case ("integer", _) =>
          // one-sided bounds anchor the missing side RELATIVE to the given
          // one — a minimum above a fixed default maximum would generate an
          // inverted range whose data violates the contract's own rules
          val lo = o.minimum.getOrElse(0.0).toLong
          val hi = o.maximum.map(_.toLong).getOrElse(lo + 1000000L)
          IntField(p.name, lo, math.max(hi, lo))
        case ("number", _) =>
          val lo = o.minimum.getOrElse(0.0)
          val hi = o.maximum.getOrElse(lo + 1.0)
          DoubleField(p.name, lo, math.max(hi, lo))
        case ("date", _) => DateField(p.name, "2022-01-01", 365)
        case ("boolean", _) => OneOfField(p.name, Seq(("true", 0.5), ("false", 0.5)))
        case _ if p.unique.contains(true) =>
          SequentialField(p.name, seqPrefix, 10) // unique strings by construction
        case _ =>
          val lo = o.minLength.getOrElse(1).max(1)
          val hi = o.maxLength.getOrElse(math.max(lo, 20)).max(lo)
          AlphaNumField(p.name, lo, hi)
      }
    }

  /** Full validation of a frame against the contract. */
  def validate(df: DataFrame, contractText: String, threshold: Double = 0.0): Seq[RuleResult] = {
    val c = parse(contractText)
    RuleEngine.validate(df, RuleSet(toRules(c), uniquenessChecks(c)), threshold)
  }
}
