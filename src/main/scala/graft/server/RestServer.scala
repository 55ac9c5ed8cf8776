package graft.server

import graft.plan.PlanRunner
import graft.util.Jsons
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal REST entry point — the reference's third entry surface (SURVEY
  * §3.3: a web server accepting plan submissions, `core/ui/` ~2,400 LoC)
  * reduced to the part that matters for a headless engine, on the JDK's own
  * `com.sun.net.httpserver` (no web framework):
  *
  *   GET  /        the plan-builder page ([[Ui]] — edit/save/load/preview/
  *                 run/history over these endpoints, one static document)
  *   POST /plan    body = PlanSpec JSON or YAML → executes via PlanRunner,
  *                 responds with rows_in/rows_out + per-rule validation
  *                 results (400 on parse errors, 500 on execution errors)
  *   GET  /health  liveness
  *
  * Plus the repository surface (reference `core/ui/plan/PlanRepository
  * .scala`: save/get/list/remove + run history) backed by [[PlanStore]],
  * and fast sample preview (`FastSampleGenerator.scala`) via [[Preview]]:
  *
  *   PUT    /plans/{name}      save plan text (either dialect)
  *   GET    /plans             list saved plan names
  *   GET    /plans/{name}      fetch plan text
  *   DELETE /plans/{name}      remove
  *   POST   /plans/{name}/run  execute the SAVED plan; appends run history
  *   GET    /runs              run history (JSON lines array)
  *   POST   /preview           bounded sample rows for a submitted plan,
  *                             never writing sinks (counts clamped, source
  *                             reads limited — see [[Preview]])
  *
  * With this, all three reference entry shapes exist: the Scala case-class
  * API ([[graft.plan.PlanSpec]]), YAML/JSON plan files
  * ([[PlanRunner.parseYaml]], `graft.Main --plan`), and REST submission.
  */
final class RestServer(spark: SparkSession, port: Int = 0,
    repoDir: Option[String] = None) {

  private val store = new PlanStore(repoDir.getOrElse(
    java.nio.file.Files.createTempDirectory("graft_plans").toString))

  private val server = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", port), 0)

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  def start(): RestServer = {
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      // the plan-builder page (reference core/ui/); unknown paths 404 so
      // typos don't silently serve HTML to API clients
      if (ex.getRequestURI.getPath == "/" && ex.getRequestMethod == "GET") {
        val bytes = Ui.Html.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      } else respond(ex, 404, """{"error":"not found"}""")
    })
    server.createContext("/health", (ex: com.sun.net.httpserver.HttpExchange) =>
      respond(ex, 200, """{"status":"ok"}"""))
    server.createContext("/plan", (ex: com.sun.net.httpserver.HttpExchange) => {
      if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST only"}""")
      else {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val parsed =
          try Right(if (body.trim.startsWith("{")) PlanRunner.parseJson(body)
                    else PlanRunner.parseYaml(body))
          catch { case e: Exception => Left(e) }
        parsed match {
          case Left(e) =>
            respond(ex, 400, s"""{"error":"invalid plan: ${Jsons.escape(String.valueOf(e.getMessage))}"}""")
          case Right(plan) =>
            try {
              val o = PlanRunner.run(spark, plan)
              val vs = o.validations.map(v =>
                s"""{"rule":${Jsons.quote(v.rule)},"total":${v.total},"errors":${v.errors},"success":${v.success}}""")
                .mkString("[", ",", "]")
              respond(ex, 200,
                s"""{"plan":${Jsons.quote(o.plan)},"rows_in":${o.rowsIn},"rows_out":${o.rowsOut},""" +
                  s""""success":${o.success},"validations":$vs}""")
            } catch {
              case e: Exception =>
                respond(ex, 500, s"""{"error":${Jsons.quote(String.valueOf(e.getMessage))}}""")
            }
        }
      }
    })
    server.createContext("/plans", (ex: com.sun.net.httpserver.HttpExchange) => {
      val segs = ex.getRequestURI.getPath.stripPrefix("/plans").stripPrefix("/")
        .split('/').filter(_.nonEmpty)
      try {
        (ex.getRequestMethod, segs) match {
          case ("GET", Array()) =>
            respond(ex, 200, store.list().map(Jsons.quote).mkString("[", ",", "]"))
          case ("PUT", Array(name)) =>
            store.save(name, new String(ex.getRequestBody.readAllBytes(), UTF_8))
            respond(ex, 200, s"""{"saved":${Jsons.quote(name)}}""")
          case ("GET", Array(name)) => store.get(name) match {
            case Some(text) => respond(ex, 200, s"""{"name":${Jsons.quote(name)},"plan":${Jsons.quote(text)}}""")
            case None => respond(ex, 404, """{"error":"not found"}""")
          }
          case ("DELETE", Array(name)) =>
            respond(ex, 200, s"""{"removed":${store.remove(name)}}""")
          case ("POST", Array(name, "run")) => store.get(name) match {
            case None => respond(ex, 404, """{"error":"not found"}""")
            case Some(text) =>
              val runId = java.util.UUID.randomUUID().toString
              try {
                // dialect dispatch, same rule as Preview: `tasks` = multi
                val json = if (text.trim.startsWith("{")) text
                           else PlanRunner.yamlToJson(text)
                val isMulti =
                  (org.json4s.jackson.JsonMethods.parse(json) \ "tasks") !=
                    org.json4s.JNothing
                val (planName, success, detail) =
                  if (isMulti) {
                    val o = graft.plan.MultiPlanRunner.run(
                      spark, graft.plan.MultiPlanRunner.parseJson(json))
                    val counts = o.insertOrder.map(t =>
                      s"""${Jsons.quote(t)}:${o.counts(t)}""").mkString("{", ",", "}")
                    (o.plan, o.success, s""""counts":$counts""")
                  } else {
                    val o = PlanRunner.run(spark, PlanRunner.parseJson(json))
                    (o.plan, o.success,
                      s""""rows_in":${o.rowsIn},"rows_out":${o.rowsOut}""")
                  }
                store.recordRun(name, runId, if (success) "success" else "failed",
                  System.currentTimeMillis())
                respond(ex, 200,
                  s"""{"plan":${Jsons.quote(planName)},"run_id":"$runId","success":$success,$detail}""")
              } catch {
                case e: Exception =>
                  store.recordRun(name, runId, "error",
                    System.currentTimeMillis(), String.valueOf(e.getMessage))
                  respond(ex, 500, s"""{"error":${Jsons.quote(String.valueOf(e.getMessage))}}""")
              }
          }
          case _ => respond(ex, 405, """{"error":"unsupported"}""")
        }
      } catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error":${Jsons.quote(String.valueOf(e.getMessage))}}""")
      }
    })
    server.createContext("/runs", (ex: com.sun.net.httpserver.HttpExchange) =>
      respond(ex, 200, store.runs().mkString("[", ",", "]")))
    server.createContext("/preview", (ex: com.sun.net.httpserver.HttpExchange) => {
      if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST only"}""")
      else try {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val samples = Preview.preview(spark, body)
        val json = samples.map { s =>
          s"""{"dataset":${Jsons.quote(s.dataset)},"rows":${s.rows.mkString("[", ",", "]")}}"""
        }.mkString("[", ",", "]")
        respond(ex, 200, s"""{"samples":$json}""")
      } catch {
        case e: Exception =>
          respond(ex, 400, s"""{"error":${Jsons.quote(String.valueOf(e.getMessage))}}""")
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)
}
