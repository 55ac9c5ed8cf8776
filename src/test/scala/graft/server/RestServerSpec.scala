package graft.server

import graft.SparkSuite
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

class RestServerSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /plan executes a JSON plan end-to-end and reports validations") {
    val in = Files.createTempDirectory("graft_rest_in").toString
    Seq((1L, "good long text value here"), (2L, "no"), (3L, "another fine value"))
      .toDF("id", "text").write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("graft_rest_out").toString + "/res"
    val srv = new RestServer(spark).start()
    try {
      val resp = post(srv.boundPort, "/plan",
        s"""{"name":"rest_plan","source":{"path":"$in"},
           |"rules":[{"name":"long_enough","expr":"length(text) >= 10"}],
           |"keepOnly":true,"sink":{"path":"$out"}}""".stripMargin)
      assert(resp.statusCode() == 200, resp.body())
      assert(resp.body().contains(""""rows_in":3""") && resp.body().contains(""""rows_out":2"""))
      assert(resp.body().contains(""""rule":"long_enough","total":3,"errors":1"""))
      assert(spark.read.parquet(out).count() == 2)
      // YAML body on the same endpoint
      val y = post(srv.boundPort, "/plan",
        s"name: yplan\nsource:\n  path: $in\n")
      assert(y.statusCode() == 200 && y.body().contains(""""plan":"yplan""""))
      // bad plan → 400; health → ok
      assert(post(srv.boundPort, "/plan", """{"nope": true}""").statusCode() == 400)
      val health = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200 && health.body().contains("ok"))
    } finally srv.stop()
  }

  private def send(port: Int, method: String, path: String, body: String = ""): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
                        else HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("plan repository: save, list, get, run (with history), remove") {
    val in = Files.createTempDirectory("graft_repo_in").toString
    Seq((1L, "text one is long enough"), (2L, "x")).toDF("id", "text")
      .write.mode("overwrite").parquet(in)
    val repo = Files.createTempDirectory("graft_repo").toString
    val srv = new RestServer(spark, repoDir = Some(repo)).start()
    try {
      val p = srv.boundPort
      val plan = s"""{"name":"saved1","source":{"path":"$in"},
                    |"rules":[{"name":"len","expr":"length(text) > 3"}]}""".stripMargin
      assert(send(p, "PUT", "/plans/myplan", plan).statusCode() == 200)
      assert(send(p, "GET", "/plans").body() == """["myplan"]""")
      assert(send(p, "GET", "/plans/myplan").body().contains("saved1"))
      // run the SAVED plan; history records it
      val run = send(p, "POST", "/plans/myplan/run")
      assert(run.statusCode() == 200, run.body())
      assert(run.body().contains(""""success":false""")) // rule fails on row 2
      val runs = send(p, "GET", "/runs").body()
      assert(runs.contains(""""plan":"myplan"""") && runs.contains(""""status":"failed""""))
      // persistence survives a server restart (same repo dir)
      srv.stop()
      val srv2 = new RestServer(spark, repoDir = Some(repo)).start()
      try {
        assert(send(srv2.boundPort, "GET", "/plans").body() == """["myplan"]""")
        assert(send(srv2.boundPort, "DELETE", "/plans/myplan").body().contains("true"))
        assert(send(srv2.boundPort, "GET", "/plans").body() == "[]")
        // path traversal is rejected (400 invalid name / 405 extra segment),
        // never resolved to a write outside the repo
        assert(send(srv2.boundPort, "PUT", "/plans/..%2Fevil", "x").statusCode() >= 400)
        assert(!Files.exists(java.nio.file.Paths.get(repo).resolveSibling("evil.plan")))
        assert(send(srv2.boundPort, "GET", "/plans/missing").statusCode() == 404)
      } finally srv2.stop()
    } finally scala.util.Try(srv.stop())
  }

  test("saved multi-task plan runs via /plans/{name}/run with per-task counts") {
    val srv = new RestServer(spark).start()
    try {
      val p = srv.boundPort
      val yaml =
        """name: rel
          |tasks:
          |  - {name: parents, count: 30, fields: [{name: pk, type: sequential, prefix: P, pad: 4}]}
          |  - name: children
          |    count: 1
          |    fields:
          |      - {name: ck, type: sequential, prefix: K, pad: 4}
          |      - {name: pk, type: alphanum}
          |relationships:
          |  - {from: children.pk, to: parents.pk, ratio: 3}
          |""".stripMargin
      assert(send(p, "PUT", "/plans/rel", yaml).statusCode() == 200)
      val run = send(p, "POST", "/plans/rel/run")
      assert(run.statusCode() == 200, run.body())
      assert(run.body().contains(""""parents":30""") && run.body().contains(""""children":90"""))
      assert(send(p, "GET", "/runs").body().contains(""""status":"success""""))
    } finally srv.stop()
  }

  test("repeated saves overwrite whole documents; concurrent PUT/run never tear") {
    val in = Files.createTempDirectory("graft_conc_in").toString
    spark.range(10).selectExpr("id", "'some long enough text' as text")
      .write.mode("overwrite").parquet(in)
    val repo = Files.createTempDirectory("graft_conc_repo").toString
    val srv = new RestServer(spark, repoDir = Some(repo)).start()
    val p = srv.boundPort
    try {
      def planBody(tag: String): String =
        s"""{"name":"plan_$tag","source":{"path":"$in"},
           |"rules":[{"name":"r_$tag","expr":"length(text) >= 3"}]}""".stripMargin
      // the reference's PlanRepository handles repeated saves of one name:
      // PUT twice → second body wins, wholly
      assert(send(p, "PUT", "/plans/mine", planBody("v1")).statusCode() == 200)
      assert(send(p, "PUT", "/plans/mine", planBody("v2")).statusCode() == 200)
      assert(send(p, "GET", "/plans/mine").body().contains("plan_v2"))

      // 16 concurrent PUTs of DIFFERENT full documents to the same name:
      // afterwards the stored text must equal exactly ONE of them (atomic
      // replace — no torn mixes), and the store still lists one plan
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      val futures = (0 until 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = send(p, "PUT", "/plans/mine", planBody(f"c$i%02d")).statusCode()
        })
      }
      assert(futures.map(_.get()).forall(_ == 200))
      val stored = send(p, "GET", "/plans/mine").body()
      assert((0 until 16).count(i => stored.contains(f"plan_c$i%02d")) == 1, stored)

      // concurrent runs append distinct, well-formed history lines
      val runFutures = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = send(p, "POST", "/plans/mine/run").statusCode()
        })
      }
      assert(runFutures.map(_.get()).forall(_ == 200))
      pool.shutdown()
      val runs = send(p, "GET", "/runs").body()
      val parsed = graft.util.Jsons.parse(runs)
      assert(parsed.children.size == 4) // every line parses, none torn
      // delete removes; a second delete reports false; GET turns 404
      assert(send(p, "DELETE", "/plans/mine").body().contains("true"))
      assert(send(p, "DELETE", "/plans/mine").body().contains("false"))
      assert(send(p, "GET", "/plans/mine").statusCode() == 404)
      // path traversal names rejected, not resolved
      assert(send(p, "PUT", "/plans/..%2Fevil", "x").statusCode() >= 400)
      // the plan-builder page serves at /, wired to these endpoints;
      // unknown paths stay API-shaped 404s, not HTML
      val page = send(p, "GET", "/")
      assert(page.statusCode() == 200 && page.headers().firstValue("Content-Type")
        .orElse("").startsWith("text/html"))
      Seq("id=\"plan\"", "id=\"save\"", "id=\"run\"", "id=\"preview\"", "/plans/")
        .foreach(m => assert(page.body().contains(m), m))
      assert(send(p, "GET", "/nope").statusCode() == 404)
    } finally srv.stop()
  }

  test("POST /preview returns bounded samples for both plan dialects") {
    val srv = new RestServer(spark).start()
    try {
      val p = srv.boundPort
      // multi-task dialect: counts clamped to the sample size, no sinks
      val multi =
        """name: big
          |tasks:
          |  - name: users
          |    count: 1000000000
          |    fields:
          |      - {name: user_id, type: sequential, prefix: U, pad: 6}
          |      - {name: name, type: template, template: "#{name.firstName}"}
          |""".stripMargin
      val r = post(p, "/preview", multi)
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains(""""dataset":"users""""))
      assert(r.body().split("user_id").length - 1 <= 11) // ~10 sample rows, not 1e9
      // filter dialect: source limited, output sampled
      val in = Files.createTempDirectory("graft_prev_in").toString
      spark.range(100000).selectExpr("id", "repeat('word ', 10) as text")
        .write.mode("overwrite").parquet(in)
      val filt = post(p, "/preview",
        s"""{"name":"f","source":{"path":"$in"},"rules":[{"name":"r","expr":"id >= 0"}]}""")
      assert(filt.statusCode() == 200, filt.body())
      assert(filt.body().contains(""""keep":true"""))
      assert(post(p, "/preview", "][not-json").statusCode() == 400)
    } finally srv.stop()
  }

  test("a unified config runs on /plans/{name}/run and /plan and previews on /preview") {
    import graft.plan.UnifiedSpec.unifiedYaml
    val srv = new RestServer(spark).start()
    try {
      val p = srv.boundPort
      val saved = Files.createTempDirectory("graft_rest_unified").toString
      assert(send(p, "PUT", "/plans/uni", unifiedYaml(saved)).statusCode() == 200)
      val run = send(p, "POST", "/plans/uni/run")
      assert(run.statusCode() == 200, run.body())
      // per-step counts: 300 customers, 2 orders each (the FK ratio)
      assert(run.body().contains(""""counts":{"customers":300,"orders":600}"""), run.body())
      assert(run.body().contains(""""success":true"""), run.body())
      assert(send(p, "GET", "/runs").body().contains(""""status":"success""""))
      assert(spark.read.parquet(s"$saved/orders").count() == 600L)

      // preview: the generated multi-task plan, bounded per step, no sink
      val previewOut = Files.createTempDirectory("graft_rest_unified_preview").toString
      val prev = post(p, "/preview", unifiedYaml(previewOut))
      assert(prev.statusCode() == 200, prev.body())
      val samples = graft.util.Jsons.arr(graft.util.Jsons.parse(prev.body()) \ "samples")
      assert(samples.flatMap(s => graft.util.Jsons.str(s \ "dataset")) == Seq("customers", "orders"))
      samples.foreach(s => assert(graft.util.Jsons.arr(s \ "rows").size == 10, prev.body()))
      assert(!Files.exists(java.nio.file.Paths.get(previewOut, "customers")))

      // POST /plan runs the same document
      val direct = post(p, "/plan", unifiedYaml(Files.createTempDirectory("graft_rest_unified_plan").toString))
      assert(direct.statusCode() == 200, direct.body())
      assert(direct.body().contains(""""counts":{"customers":300,"orders":600}"""), direct.body())
    } finally srv.stop()
  }

  test("UI form builder: the page's own JS composes YAML that runs (node-executed)") {
    val node = Seq("/usr/bin/node", "/usr/local/bin/node")
      .find(p => new java.io.File(p).canExecute)
    assume(node.isDefined, "node not installed")
    // the served page carries the form elements
    val srv = new RestServer(spark).start()
    val page = try {
      HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}/")).build(),
        HttpResponse.BodyHandlers.ofString()).body()
    } finally srv.stop()
    Seq("faddrow", "fbuild", "frows", "ftask", "fcount", "fsink").foreach(id =>
      assert(page.contains(s"""id="$id""""), s"form element $id missing from GET /"))

    // run the REAL script the page serves: the DOM-free prefix (KINDS +
    // buildYaml) executes under node; a mismatch between what the page
    // ships and what this test believes it ships is impossible by
    // construction
    val script = page.substring(page.indexOf("const KINDS"), page.indexOf("// --- DOM wiring"))
    val driver = script +
      """
        |const y1 = buildYaml("minimal_example", "users", "10", "", "", [
        |  {name: "id", kind: "regex", opts: "USR[0-9]{6}"},
        |  {name: "name", kind: "faker", opts: "#{Name.fullName}"}]);
        |const y2 = buildYaml("kinds", "t", "25", "json", process.argv[2], [
        |  {name: "n", kind: "int", opts: "5,9"},
        |  {name: "status", kind: "oneOf", opts: "open,closed"},
        |  {name: "seq", kind: "sequential", opts: "ACC,6"},
        |  {name: "d", kind: "date", opts: "2024-01-01,30"},
        |  {name: "flag", kind: "boolean", opts: ""},
        |  {name: "up", kind: "sql", opts: "UPPER(status)"},
        |  {name: "", kind: "int", opts: ""}]);
        |console.log(y1 + "===SPLIT===\n" + y2);
        |""".stripMargin
    val dir = Files.createTempDirectory("graft_ui_js")
    val js = dir.resolve("build.js")
    Files.writeString(js, driver)
    val sinkDir = dir.resolve("out").toString
    val proc = new ProcessBuilder(node.get, js.toString, sinkDir)
      .redirectErrorStream(true).start()
    val outText = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"node failed: $outText")
    val Array(y1, y2) = outText.split("===SPLIT===\n")

    // minimal.yaml shape: previews 10 rows with the declared generators
    val samples = Preview.preview(spark, y1)
    assert(samples.map(_.dataset) == Seq("users"))
    assert(samples.head.rows.size == 10)
    assert(samples.head.rows.forall(_.matches(""".*"id":"USR\d{6}".*""")))
    assert(samples.head.rows.forall(_.contains(""""name":""")))

    // all-kinds + sink: parses, generates 25 rows, writes the json sink;
    // the blank-name row is skipped, sql sees its oneOf sibling
    val o = graft.plan.MultiPlanRunner.run(spark,
      graft.plan.MultiPlanRunner.parseJson(graft.util.Jsons.yamlToJson(y2)))
    assert(o.counts("t") == 25L)
    val written = spark.read.json(sinkDir)
    assert(written.count() == 25)
    assert(written.columns.sorted.toSeq == Seq("d", "flag", "n", "seq", "status", "up"))
    import org.apache.spark.sql.functions._
    assert(written.where(col("up") =!= upper(col("status"))).count() == 0)
    assert(written.where(col("n") < 5 || col("n") > 9).count() == 0)
    assert(written.where(col("seq").rlike("^ACC\\d{6}$")).count() == 25)
  }
}
