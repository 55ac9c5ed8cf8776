package graft.util

import org.json4s._

/** Shared JSON/YAML plumbing for every dialect adapter and REST surface —
  * one place for the JValue extractors (with the FULL numeric case
  * coverage: JInt/JLong/JDouble/JDecimal) and one JSON string escaper, so
  * the next dialect fix can't land in only one of five private copies.
  */
object Jsons {

  /** The one format rule for every JSON-or-YAML document (plans, data
    * contracts, schemas, REST bodies): text starting with `{` is JSON,
    * anything else is YAML, read through [[yamlToJson]]. */
  def parse(text: String): JValue =
    org.json4s.jackson.JsonMethods.parse(
      if (text.trim.startsWith("{")) text else yamlToJson(text))

  /** YAML → JSON via Jackson's YAML module. */
  def yamlToJson(s: String): String = {
    val yaml = new com.fasterxml.jackson.dataformat.yaml.YAMLMapper()
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(yaml.readTree(s))
  }

  def str(j: JValue): Option[String] = j match {
    case JString(s) => Some(s)
    case JInt(i) => Some(i.toString)
    case JLong(l) => Some(l.toString)
    case JDouble(d) => Some(d.toString)
    case JDecimal(d) => Some(d.toString)
    case JBool(b) => Some(b.toString)
    case _ => None
  }

  def dbl(j: JValue): Option[Double] = j match {
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case JString(s) => s.toDoubleOption
    case _ => None
  }

  def arr(j: JValue): Seq[JValue] = j match { case JArray(a) => a; case _ => Nil }

  def bool(j: JValue, default: Boolean = false): Boolean = j match {
    case JBool(b) => b
    case JString("true") => true
    case JString("false") => false
    case _ => default
  }

  def anyVal(j: JValue): Any = j match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JBool(b) => b
    case JString(s) => s
    case _ => null
  }

  /** Strict JSON string escaping (quotes, backslashes, every control char
    * as `\\uXXXX`). */
  def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def quote(s: String): String = "\"" + escape(s) + "\""
}
