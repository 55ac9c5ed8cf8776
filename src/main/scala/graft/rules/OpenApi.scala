package graft.rules

import graft.generator.FieldSpec
import org.json4s._

/** OpenAPI importer — the reference's http metadata source
  * (`core/generator/metadata/datasource/http/OpenAPIConverter.scala`
  * ~300 LoC over swagger-parser) turns an OpenAPI document into one
  * generation task per (path, method): URL with path/query params spliced
  * in, the method, and the request-body schema as typed fields. Re-expressed
  * over the same json4s walk as [[JsonSchema]] (no swagger-parser in the
  * sandbox — the subset real reference plans use is the 3.x document shape
  * itself):
  *
  *  - request-body `application/json` schema → [[JsonSchema.toFieldSpecs]]
  *    (nested structs/arrays/enums/formats all apply) + validation rules;
  *  - path/query parameters → fields named `pathParam{name}` /
  *    `queryParam{name}` (the reference's naming, `OpenAPIConverter.scala`
  *    getPathParams/getQueryParams), generated from their schemas;
  *  - the server URL with `{var}` defaults substituted + the method, as
  *    constants per operation.
  *
  * `components/schemas` refs resolve through the shared resolver.
  */
object OpenApi {

  final case class Operation(
      path: String,
      method: String,
      url: String,
      /** Request-body fields (empty for body-less operations). */
      bodyFields: Seq[FieldSpec],
      /** Validation rules for the request body. */
      bodyRules: Seq[Rule],
      /** Path/query parameter fields, reference-style names. */
      paramFields: Seq[FieldSpec],
      /** SQL for the per-row request URL over `paramFields` — the
        * reference's `OpenAPIConverter.getUrl` computed field
        * (`OpenAPIConverter.scala:143-153` delegates to the same
        * `FieldBuilder.httpUrl` assembly the task dialect uses): path
        * params URL_ENCODE into their `{name}` slots, query params render
        * `name=value` with the parameter's declared style/explode. Rendered
        * from [[graft.sinks.HttpSink.urlColumn]], so importer, task
        * dialect, and per-row delivery share ONE implementation. Empty
        * when the operation has no parameters (the template IS the URL). */
      urlSql: String = "")

  def parse(text: String): Seq[Operation] = {
    val root = graft.util.Jsons.parse(text)
    val serverUrl = (root \ "servers") match {
      case JArray(s :: _) =>
        val base = (s \ "url") match { case JString(u) => u; case _ => "" }
        (s \ "variables") match {
          case JObject(vars) =>
            vars.foldLeft(base) { case (u, (name, v)) =>
              (v \ "default") match {
                case JString(d) => u.replace(s"{$name}", d)
                case _ => u
              }
            }
          case _ => base
        }
      case _ => ""
    }
    val paths = (root \ "paths") match { case JObject(fs) => fs; case _ => Nil }
    paths.flatMap { case (path, item) =>
      val methods = item match { case JObject(fs) => fs; case _ => Nil }
      methods.collect {
        case (m, op) if Set("get", "post", "put", "delete", "patch", "head").contains(m.toLowerCase) =>
          operation(root, serverUrl, path, m.toUpperCase, op)
      }
    }
  }

  private def operation(root: JValue, serverUrl: String, path: String,
      method: String, op: JValue): Operation = {
    // request body: first content type's schema, resolved against the doc
    val bodySchema = (op \ "requestBody" \ "content") match {
      case JObject((_, media) :: _) => Some(media \ "schema")
      case _ => None
    }
    // JsonSchema resolves $ref against the ROOT it is given — hand it the
    // whole OpenAPI doc so #/components/schemas/... pointers work, with the
    // operation's schema grafted as the entry point
    val (bodyFields, bodyRules) = bodySchema match {
      case Some(schema) =>
        val p = graftedRoot(root, schema)
        (JsonSchema.toFieldSpecs(p), JsonSchema.toRules(p))
      case None => (Nil, Nil)
    }
    val params = (op \ "parameters") match { case JArray(ps) => ps; case _ => Nil }
    def pstr(j: JValue): Option[String] = j match { case JString(s) => Some(s); case _ => None }
    val parsed = params.flatMap { prm =>
      val name = pstr(prm \ "name").getOrElse("")
      val in = pstr(prm \ "in").getOrElse("")
      val prefix = in match {
        case "path" => Some("pathParam")
        case "query" => Some("queryParam")
        case _ => None // headers/cookies out of scope, as in the reference's core path
      }
      prefix.map { pre =>
        (in, name, prm, jsonSchemaField(root, pre + name, prm \ "schema"))
      }
    }
    val paramFields = parsed.map(_._4)
    val template = serverUrl + path
    val urlSql =
      if (parsed.isEmpty) ""
      else {
        import org.apache.spark.sql.functions.col
        // backtick the generated field names: parameter names may contain
        // '.' (e.g. `filter.name`), which bare col() would read as a
        // nested-field path
        def rawCol(n: String) = col(s"`$n`")
        org.apache.spark.sql.GraftSqlBridge.toSqlText(graft.sinks.HttpSink.urlColumn(
          template,
          pathParams = parsed.collect { case ("path", n, _, f) => n -> rawCol(f.name) },
          queryParams = parsed.collect { case ("query", n, prm, f) =>
            val style = pstr(prm \ "style").getOrElse("form")
            graft.sinks.HttpSink.QueryParam(
              n, rawCol(f.name),
              // array-ness from the GENERATED spec (the schema walker has
              // already resolved $ref / items-only shapes), not the raw
              // `schema.type` string
              isArray = graft.generator.Generator.isArrayShaped(f),
              style = style,
              // REFERENCE parity: data-caterer defaults explode=true for
              // every style (`OpenAPIConverter.scala:86`, `TaskBuilder
              // .scala:1881`) — NOT the OpenAPI spec's style-dependent
              // default (false for non-form). Both dialects here match the
              // reference, so the matrix can't drift between them.
              explode = (prm \ "explode") match {
                case JBool(b) => b
                case _ => true
              })
          }))
      }
    Operation(path, method, template, bodyFields, bodyRules, paramFields, urlSql)
  }

  /** A Parsed whose walk starts at `entry` but whose `$ref`s resolve
    * against the full document: entry's fields are merged over a shell that
    * keeps `components` visible.
    */
  private def graftedRoot(root: JValue, entry: JValue): JsonSchema.Parsed = {
    val components = root \ "components" match {
      case JNothing => JObject(Nil)
      case c => JObject(List("components" -> c))
    }
    JsonSchema.Parsed(components merge entry)
  }

  private def jsonSchemaField(root: JValue, name: String, schema: JValue): FieldSpec = {
    // wrap the param schema as a one-property object and reuse the walker
    val wrapped = JObject(List(
      "type" -> JString("object"),
      "properties" -> JObject(List(name -> schema))))
    JsonSchema.toFieldSpecs(graftedRoot(root, wrapped)).head
  }
}
