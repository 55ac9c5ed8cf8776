package graft.rules

import graft.generator._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON-schema importer — the reference's jsonschema metadata source
  * (`core/generator/metadata/datasource/jsonschema/`: JsonSchemaConverter /
  * JsonSchemaTypeMapper / JsonSchemaConstraintsConverter /
  * JsonSchemaReferenceResolver / JsonSchemaCompositionConverter, ~10 files)
  * maps a draft-07-style schema to generation fields + validations. Same
  * two surfaces here, over json4s (no external schema library):
  *
  *  - [[toFieldSpecs]]: properties → generator specs, with NESTED support —
  *    `object` → [[StructSpec]], `array` → [[ArraySpec]], `enum` →
  *    [[OneOfField]], `pattern` → [[RegexField]], string `format` →
  *    date/date-time/uuid/email-shaped fields, numeric bounds → ranged
  *    fields;
  *  - [[toRules]]: top-level constraints → row-level [[Rule]]s (required →
  *    notNull, enum → in, pattern → matches, bounds → between, length →
  *    lengthBetween, array bounds → size rules) — all evaluated in ONE
  *    projection by [[RuleEngine]].
  *
  * `$ref` pointers (`#/definitions/...`, `#/$defs/...`,
  * `#/components/schemas/...`) resolve against the root document;
  * `allOf` merges its branches; `oneOf`/`anyOf` take the FIRST branch for
  * generation (documented narrowing — validation of alternatives belongs to
  * [[Rules.matchJsonSchema]]). Recursion depth is capped so cyclic schemas
  * terminate.
  */
object JsonSchema {

  private val MaxDepth = 12

  final case class Parsed(root: JValue) {
    def schema: JValue = root
  }

  def parse(text: String): Parsed = Parsed(graft.util.Jsons.parse(text))

  // ---------- pointer resolution / composition ----------

  /** Follow one `$ref` JSON pointer against the root document. */
  private def deref(root: JValue, ref: String): JValue = {
    require(ref.startsWith("#/"), s"only intra-document refs supported: $ref")
    ref.stripPrefix("#/").split('/').foldLeft(root) { (j, seg) =>
      j \ seg.replace("~1", "/").replace("~0", "~")
    }
  }

  /** Resolve refs and merge allOf at this node (shallow — children resolve
    * lazily as they are visited).
    */
  private def resolve(root: JValue, node: JValue, depth: Int): JValue = {
    require(depth < MaxDepth, s"schema nesting/reference depth exceeds $MaxDepth (cycle?)")
    node \ "$ref" match {
      case JString(ref) => resolve(root, deref(root, ref), depth + 1)
      case _ =>
        node \ "allOf" match {
          case JArray(branches) =>
            val resolved = branches.map(b => resolve(root, b, depth + 1))
            // merge: properties and required union; scalar keywords
            // last-wins; the node's own (non-allOf) keywords apply on top
            val merged = resolved.foldLeft(JObject(Nil): JValue)(_ merge _)
            merged merge node.removeField(_._1 == "allOf")
          case _ =>
            (node \ "oneOf", node \ "anyOf") match {
              case (JArray(b :: _), _) => resolve(root, b, depth + 1)
              case (_, JArray(b :: _)) => resolve(root, b, depth + 1)
              case _ => node
            }
        }
    }
  }

  private def str(j: JValue): Option[String] = j match { case JString(s) => Some(s); case _ => None }
  private def num(j: JValue): Option[Double] = j match {
    case JInt(i) => Some(i.toDouble); case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble); case JLong(l) => Some(l.toDouble); case _ => None
  }
  private def props(node: JValue): Seq[(String, JValue)] = node \ "properties" match {
    case JObject(fields) => fields.map { case (k, v) => (k, v) }
    case _ => Nil
  }
  private def required(node: JValue): Set[String] = node \ "required" match {
    case JArray(vs) => vs.flatMap(str).toSet
    case _ => Set.empty
  }
  private def enumValues(node: JValue): Seq[String] = node \ "enum" match {
    case JArray(vs) => vs.collect {
      case JString(s) => s
      case JInt(i) => i.toString
      case JDouble(d) => d.toString
      case JBool(b) => b.toString
    }
    case _ => Nil
  }

  // ---------- generation ----------

  /** FieldSpecs for the root object schema (one per property, nested). */
  def toFieldSpecs(p: Parsed): Seq[FieldSpec] = {
    val root = resolve(p.root, p.root, 0)
    props(root).map { case (name, sub) => fieldSpec(p.root, name, sub, 0) }
  }

  private def fieldSpec(root: JValue, name: String, node0: JValue, depth: Int): FieldSpec = {
    val node = resolve(root, node0, depth)
    val ev = enumValues(node)
    if (ev.nonEmpty) return OneOfField(name, ev.map(v => (v, 1.0 / ev.size)))
    str(node \ "pattern") match {
      case Some(pat) => return RegexField(name, pat)
      case None =>
    }
    str(node \ "type").getOrElse("string") match {
      case "object" =>
        StructSpec(name, props(node).map { case (n, s) => fieldSpec(root, n, s, depth + 1) })
      case "array" =>
        val lo = num(node \ "minItems").map(_.toInt).getOrElse(0)
        val hi = num(node \ "maxItems").map(_.toInt).getOrElse(math.max(lo, 3))
        ArraySpec(name, fieldSpec(root, name + "_item", node \ "items", depth + 1), lo, hi)
      case "integer" =>
        val lo = num(node \ "minimum").getOrElse(0.0).toLong
        val hi = num(node \ "maximum").map(_.toLong).getOrElse(lo + 1000000L)
        IntField(name, lo, math.max(hi, lo))
      case "number" =>
        val lo = num(node \ "minimum").getOrElse(0.0)
        val hi = num(node \ "maximum").getOrElse(lo + 1.0)
        DoubleField(name, lo, math.max(hi, lo))
      case "boolean" => OneOfField(name, Seq(("true", 0.5), ("false", 0.5)))
      case _ => // string, with format shaping
        str(node \ "format") match {
          case Some("date") => DateField(name, "2022-01-01", 365)
          case Some("date-time") => TimestampField(name, "2022-01-01 00:00:00", 365L * 86400)
          case Some("uuid") =>
            RegexField(name, "[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}")
          case Some("email") => TemplateField(name, "#{internet.emailAddress}")
          case _ =>
            val lo = num(node \ "minLength").map(_.toInt).getOrElse(1).max(1)
            val hi = num(node \ "maxLength").map(_.toInt).getOrElse(math.max(lo, 20)).max(lo)
            AlphaNumField(name, lo, hi)
        }
    }
  }

  // ---------- validation ----------

  /** Row-level rules from the root object's properties. Nested object
    * properties get dotted-path rules one level deep (`addr.city`);
    * deeper nesting is validated structurally by
    * [[Rules.matchJsonSchema]].
    */
  def toRules(p: Parsed): Seq[Rule] = {
    val root = resolve(p.root, p.root, 0)
    val req = required(root)
    props(root).flatMap { case (name, sub0) =>
      val sub = resolve(p.root, sub0, 1)
      val base =
        (if (req.contains(name)) Seq(Rules.isNotNull(name)) else Nil) ++
          propertyRules(name, sub)
      val nested = str(sub \ "type").contains("object") match {
        case true =>
          val subReq = required(sub)
          props(sub).flatMap { case (n, s0) =>
            val s = resolve(p.root, s0, 2)
            val path = s"$name.$n"
            (if (subReq.contains(n)) Seq(Rules.isNotNull(path)) else Nil) ++
              propertyRules(path, s)
          }
        case false => Nil
      }
      base ++ nested
    }
  }

  private def propertyRules(path: String, node: JValue): Seq[Rule] = {
    val ev = enumValues(node)
    val enumRule = if (ev.nonEmpty) Seq(Rules.in(path, ev)) else Nil
    val pat = str(node \ "pattern").map(Rules.matches(path, _)).toSeq
    val range = (num(node \ "minimum"), num(node \ "maximum")) match {
      case (Some(lo), Some(hi)) => Seq(Rules.between(path, lo, hi))
      case (Some(lo), None) => Seq(Rules.greaterThan(path, lo, strictly = false))
      case (None, Some(hi)) => Seq(Rules.lessThan(path, hi, strictly = false))
      case _ => Nil
    }
    val len = (num(node \ "minLength").map(_.toInt), num(node \ "maxLength").map(_.toInt)) match {
      case (Some(lo), Some(hi)) => Seq(Rules.lengthBetween(path, lo, hi))
      case (Some(lo), None) => Seq(Rules.lengthBetween(path, lo, Int.MaxValue))
      case (None, Some(hi)) => Seq(Rules.lengthBetween(path, 0, hi))
      case _ => Nil
    }
    val items = (num(node \ "minItems").map(_.toInt), num(node \ "maxItems").map(_.toInt)) match {
      case (Some(lo), Some(hi)) =>
        Seq(Rules.sizeGreaterThan(path, lo - 1), Rules.sizeLessThan(path, hi + 1))
      case (Some(lo), None) => Seq(Rules.sizeGreaterThan(path, lo - 1))
      case (None, Some(hi)) => Seq(Rules.sizeLessThan(path, hi + 1))
      case _ => Nil
    }
    enumRule ++ pat ++ range ++ len ++ items
  }
}
