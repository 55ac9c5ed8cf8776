package graft.rules

import graft.generator._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

/** Data Contract CLI (datacontract.com) importer — the reference's
  * `core/generator/metadata/datasource/datacontractcli/
  * DataContractCliDataSourceMetadata.scala` + its models: a
  * `dataContractSpecification` YAML declares `models` (each a field map
  * with type + constraints) and `servers` (where the data lives). Sibling
  * of the ODCS importer ([[DataContract]]) — same engine integration:
  * each model yields [[FieldSpec]]s for generation, row [[Rule]]s +
  * uniqueness checks for validation, and the local/s3 server block yields
  * a path+format to read or write.
  *
  * Field vocabulary (reference `getDataType`/`getFieldOptions`): `type`
  * (number/numeric/double/decimal/bigint/int/integer/long/float/string/
  * text/varchar/boolean/timestamp/timestamp_tz/timestamp_ntz/date/array/
  * object/record/struct/bytes), `enum`, `unique`, `minLength`/`maxLength`,
  * `pattern`, `minimum`/`maximum`, `required`, `primary`, nested `fields`
  * (object) and `items` (array).
  */
object DataContractCli {

  import graft.util.Jsons.{str, dbl, arr, bool}

  final case class CliModel(
      name: String,
      specs: Seq[FieldSpec],
      rules: Seq[Rule],
      uniquenessChecks: Seq[(String, DataFrame => Boolean)])

  final case class CliServer(name: String, `type`: String, path: Option[String],
      format: Option[String])

  final case class CliContract(
      id: String,
      models: Seq[CliModel],
      servers: Seq[CliServer])

  /** Is this text a Data Contract CLI document? (`dataContractSpecification`
    * is the format's discriminator — the reference keys its importer
    * dispatch on the same field.) */
  def detect(text: String): Boolean =
    (graft.util.Jsons.parse(text) \ "dataContractSpecification") != JNothing

  def parse(text: String): CliContract = {
    val j = graft.util.Jsons.parse(text)
    require((j \ "dataContractSpecification") != JNothing,
      "not a Data Contract CLI document (missing dataContractSpecification)")
    val id = str(j \ "id").getOrElse("contract")
    val models = (j \ "models") match {
      case JObject(ms) => ms.map { case (name, m) => parseModel(name, m) }
      case _ => Nil
    }
    val servers = (j \ "servers") match {
      case JObject(ss) => ss.map { case (name, sv) =>
        CliServer(name, str(sv \ "type").getOrElse(""),
          str(sv \ "path").orElse(str(sv \ "location")), str(sv \ "format"))
      }
      case _ => Nil
    }
    CliContract(id, models, servers)
  }

  private def parseModel(name: String, m: JValue): CliModel = {
    val fields = (m \ "fields") match {
      case JObject(fs) => fs
      case _ => Nil
    }
    val specs = fields.map { case (fname, f) => fieldSpec(fname, f) }
    val rules = fields.flatMap { case (fname, f) => fieldRules(fname, f) }
    val uniq = fields.collect {
      case (fname, f) if bool(f \ "unique") || bool(f \ "primary") => GroupRules.uniqueCheck(fname)
    }
    CliModel(name, specs, rules, uniq)
  }

  private def fieldSpec(name: String, f: JValue): FieldSpec = {
    val typ = str(f \ "type").getOrElse("string").toLowerCase
    val enumVals = arr(f \ "enum").flatMap(str)
    val pattern = str(f \ "pattern")
    val unique = bool(f \ "unique") || bool(f \ "primary")
    if (enumVals.nonEmpty)
      OneOfField(name, enumVals.map(v => (v, 1.0 / enumVals.size)))
    else typ match {
      case "int" | "integer" | "long" | "bigint" =>
        val lo = dbl(f \ "minimum").getOrElse(0.0).toLong
        val hi = dbl(f \ "maximum").map(_.toLong).getOrElse(lo + 1000000L)
        // unique ints ride the row index OFFSET BY the declared minimum, so
        // the generated data satisfies the contract's own range rule (a
        // declared maximum caps uniqueness at hi-lo+1 rows — beyond that the
        // two constraints are unsatisfiable together and validation reports it)
        if (unique) SqlField(name, s"cast(__index_inc + ($lo) as bigint)")
        else IntField(name, lo, math.max(hi, lo))
      case "number" | "numeric" | "double" | "decimal" | "float" =>
        val lo = dbl(f \ "minimum").getOrElse(0.0)
        val hi = dbl(f \ "maximum").getOrElse(lo + 1000.0)
        DoubleField(name, lo, math.max(hi, lo))
      case "boolean" => OneOfField(name, Seq(("true", 0.5), ("false", 0.5)))
      case "date" => DateField(name, "2022-01-01", 365)
      case "timestamp" | "timestamp_tz" | "timestamp_ntz" =>
        TimestampField(name, "2022-01-01 00:00:00", 365L * 86400)
      case "bytes" => BytesField(name)
      case "object" | "record" | "struct" =>
        val children = (f \ "fields") match {
          case JObject(fs) if fs.nonEmpty => fs.map { case (n, c) => fieldSpec(n, c) }
          case _ => throw new IllegalArgumentException(s"$name: object field needs fields")
        }
        StructSpec(name, children)
      case "array" =>
        val elem = (f \ "items") match {
          case JNothing => AlphaNumField("element", 1, 10)
          case it => fieldSpec("element", it)
        }
        ArraySpec(name, elem, 0, 5)
      case _ => // string | text | varchar | null
        (pattern, unique) match {
          // pattern wins over unique for GENERATION (sequential values
          // can't conform to an arbitrary regex); the uniqueness CHECK
          // stays registered, so a low-entropy pattern that collides is
          // reported by validate() instead of silently ignored
          case (Some(p), _) => RegexField(name, p)
          case (None, true) =>
            // sequential length must satisfy the contract's OWN length
            // bounds, BOTH ways: a declared maxLength caps it and a
            // declared minLength floors it (zero-padding means generated
            // length is exactly prefix+pad)
            val minLen = dbl(f \ "minLength").map(_.toInt).getOrElse(1)
            val maxLen = dbl(f \ "maxLength").map(_.toInt).getOrElse(math.max(11, minLen))
            val prefix = if (maxLen >= 2) name.take(1) else ""
            SequentialField(name, prefix,
              math.max(math.max(1, minLen - prefix.length), maxLen - prefix.length))
          case _ =>
            val lo = dbl(f \ "minLength").map(_.toInt).getOrElse(1).max(1)
            val hi = dbl(f \ "maxLength").map(_.toInt).getOrElse(math.max(lo, 20)).max(lo)
            AlphaNumField(name, lo, hi)
        }
    }
  }

  private def fieldRules(name: String, f: JValue): Seq[Rule] = {
    val req = if (bool(f \ "required") || bool(f \ "primary"))
      Seq(Rules.isNotNull(name)) else Nil
    val range = (dbl(f \ "minimum"), dbl(f \ "maximum")) match {
      case (Some(lo), Some(hi)) => Seq(Rules.between(name, lo, hi))
      case (Some(lo), None) => Seq(Rules.greaterThan(name, lo, strictly = false))
      case (None, Some(hi)) => Seq(Rules.lessThan(name, hi, strictly = false))
      case _ => Nil
    }
    val len = (dbl(f \ "minLength").map(_.toInt), dbl(f \ "maxLength").map(_.toInt)) match {
      case (Some(lo), Some(hi)) => Seq(Rules.lengthBetween(name, lo, hi))
      case (Some(lo), None) => Seq(Rules.lengthBetween(name, lo, Int.MaxValue))
      case (None, Some(hi)) => Seq(Rules.lengthBetween(name, 0, hi))
      case _ => Nil
    }
    val pat = str(f \ "pattern").map(Rules.matches(name, _)).toSeq
    val en = arr(f \ "enum").flatMap(str) match {
      case Nil => Nil
      case vs => Seq(Rules.in(name, vs))
    }
    req ++ range ++ len ++ pat ++ en
  }

  /** Generate rows for every model (`rows` each), keyed deterministically. */
  def generate(spark: SparkSession, c: CliContract, rows: Long,
      seed: Long = 42L): Map[String, DataFrame] =
    c.models.map(m => m.name ->
      Generator.generate(spark, rows, m.specs, seed ^ m.name.hashCode.toLong)).toMap

  /** Validate a frame against one model: row rules in ONE projection +
    * uniqueness checks one bounded job each. */
  def validate(df: DataFrame, m: CliModel, threshold: Double = 0.0): Seq[RuleResult] =
    RuleEngine.validate(df, RuleSet(m.rules, m.uniquenessChecks), threshold)

  /** The first file-typed server (local/s3/sftp) as a read/write target. */
  def fileServer(c: CliContract): Option[(String, String)] =
    c.servers.collectFirst {
      case sv if sv.path.isDefined && Set("local", "s3", "sftp").contains(sv.`type`) =>
        (sv.path.get, sv.format.getOrElse("parquet"))
    }
}
