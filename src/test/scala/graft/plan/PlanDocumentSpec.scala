package graft.plan

import graft.SparkSuite
import graft.server.RestServer
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** The one dialect rule and the one format rule behind every plan door. */
class PlanDocumentSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  private def unifiedJson(out: String): String =
    s"""{"version":"1.0","name":"uj","dataSources":[{"name":"ds",
       |"connection":{"type":"parquet","options":{"path":"$out"}},
       |"steps":[{"name":"s1","count":{"records":5},
       |"fields":[{"name":"id","options":{"regex":"A[0-9]{3}"}}],
       |"validations":[{"expr":"id IS NOT NULL"}]}]}]}""".stripMargin

  private def unifiedYaml(out: String): String =
    s"""version: "1.0"
       |name: uj
       |dataSources:
       |  - name: ds
       |    connection: {type: parquet, options: {path: "$out"}}
       |    steps:
       |      - name: s1
       |        count: {records: 5}
       |        fields:
       |          - {name: id, options: {regex: "A[0-9]{3}"}}
       |        validations:
       |          - expr: "id IS NOT NULL"
       |""".stripMargin

  private val multiJson =
    """{"name":"m","tasks":[{"name":"t","count":5,
      |"fields":[{"name":"id","type":"sequential","prefix":"P","pad":3}]}]}""".stripMargin

  private val multiYaml =
    """name: m
      |tasks:
      |  - name: t
      |    count: 5
      |    fields:
      |      - {name: id, type: sequential, prefix: P, pad: 3}
      |""".stripMargin

  private def filterJson(in: String, out: String): String =
    s"""{"name":"f","source":{"path":"$in"},"rules":[{"name":"r","expr":"id >= 2"}],
       |"sink":{"path":"$out"}}""".stripMargin

  private def filterYaml(in: String, out: String): String =
    s"""name: f
       |source: {path: "$in"}
       |rules:
       |  - {name: r, expr: "id >= 2"}
       |sink: {path: "$out"}
       |""".stripMargin

  /** LegacyPlanSpec's plan sample: the reference's legacy plan, whose tasks
    * name task files (`dataSourceName`, no `fields`). */
  private val legacyPlanYaml =
    """name: "balance_transaction_plan"
      |description: "Create balances then transactions"
      |tasks:
      |  - name: "parquet_transactions"
      |    dataSourceName: "parquet"
      |    enabled: true
      |  - name: "disabled_task"
      |    dataSourceName: "csv"
      |    enabled: false
      |sinkOptions:
      |  seed: "7"
      |  foreignKeys:
      |    - source:
      |        dataSource: "parquet"
      |        step: "balances"
      |        fields: [ "account_number" ]
      |      generate:
      |        - dataSource: "parquet"
      |          step: "transactions"
      |          fields: [ "account_number" ]
      |""".stripMargin

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("parse: each dialect, in JSON and in YAML, picks the same runner") {
    Seq(unifiedJson("/x"), unifiedYaml("/x")).foreach { t =>
      assert(PlanDocument.parse(t).isInstanceOf[PlanDocument.UnifiedDoc], t)
    }
    Seq(multiJson, multiYaml).foreach { t =>
      PlanDocument.parse(t) match {
        case PlanDocument.MultiDoc(p) => assert(p.name == "m" && p.tasks.map(_.name) == Seq("t"))
        case d => fail(s"$d from $t")
      }
    }
    Seq(filterJson("/in", "/out"), filterYaml("/in", "/out")).foreach { t =>
      PlanDocument.parse(t) match {
        case PlanDocument.FilterDoc(p) => assert(p.name == "f" && p.source.path == "/in")
        case d => fail(s"$d from $t")
      }
    }
    // a unified config needs both keys: `version` alone leaves `tasks` in charge
    assert(PlanDocument.parse("""{"version":"1","name":"m","tasks":[]}""")
      .isInstanceOf[PlanDocument.MultiDoc])
  }

  test("parse: malformed text and plans of no dialect throw") {
    Seq("][not-json", """{"nope": true}""", "{\"name\": ", "name: x\n").foreach { t =>
      intercept[Exception](PlanDocument.parse(t))
    }
  }

  test("run: one summary per dialect, the same from JSON and from YAML") {
    val uy = PlanDocument.run(spark, PlanDocument.parse(unifiedYaml(tmp("graft_doc_uy"))))
    val uj = PlanDocument.run(spark, PlanDocument.parse(unifiedJson(tmp("graft_doc_uj"))))
    assert(uy == uj)
    assert(uy.success)
    // an expr validation's rule name carries a hash of its expression
    assert(uy.json.replaceAll("\"expr_[0-9a-f]+\"", "\"expr_h\"") ==
      """{"plan":"uj","success":true,"counts":{"s1":5},"validations":""" +
      """[{"step":"s1","rule":"expr_h","total":5,"errors":0,"success":true}]}""", uy.json)

    val my = PlanDocument.run(spark, PlanDocument.parse(multiYaml))
    assert(my == PlanDocument.run(spark, PlanDocument.parse(multiJson)))
    assert(my.json == """{"plan":"m","success":true,"counts":{"t":5},"validations":[]}""", my.json)

    val in = tmp("graft_doc_in")
    Seq(1L, 2L, 3L).toDF("id").write.mode("overwrite").parquet(in)
    val fy = PlanDocument.run(spark, PlanDocument.parse(filterYaml(in, tmp("graft_doc_fy"))))
    assert(fy == PlanDocument.run(spark, PlanDocument.parse(filterJson(in, tmp("graft_doc_fj")))))
    assert(!fy.success)
    assert(fy.json == """{"plan":"f","success":false,"rows_in":3,"rows_out":2,"validations":""" +
      """[{"rule":"r","total":3,"errors":1,"success":false}]}""", fy.json)
  }

  private def send(port: Int, method: String, path: String, body: String = ""): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
                        else HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("REST: a malformed body is a 400 on /plan and /preview, a 500 and an error line on a saved run") {
    val srv = new RestServer(spark).start()
    try {
      val p = srv.boundPort
      Seq("][not-json", """{"nope": true}""").foreach { bad =>
        assert(send(p, "POST", "/plan", bad).statusCode() == 400, bad)
        assert(send(p, "POST", "/preview", bad).statusCode() == 400, bad)
      }
      assert(send(p, "PUT", "/plans/bad", "][not-json").statusCode() == 200)
      val run = send(p, "POST", "/plans/bad/run")
      assert(run.statusCode() == 500 && run.body().contains(""""error":"""), run.body())
      val runs = graft.util.Jsons.parse(send(p, "GET", "/runs").body()).children
      assert(runs.size == 1)
      assert(graft.util.Jsons.str(runs.head \ "status").contains("error"), runs)
    } finally srv.stop()
  }

  test("a legacy plan is an IllegalArgumentException that names graft.Main --legacy, at every door") {
    val e = intercept[IllegalArgumentException](PlanDocument.parse(legacyPlanYaml))
    assert(e.getMessage.contains("graft.Main --legacy <plan> <taskFolder>"), e.getMessage)
    val srv = new RestServer(spark).start()
    try {
      val p = srv.boundPort
      val plan = send(p, "POST", "/plan", legacyPlanYaml)
      assert(plan.statusCode() == 400 && plan.body().contains("--legacy"), plan.body())
      assert(send(p, "PUT", "/plans/legacy", legacyPlanYaml).statusCode() == 200)
      val run = send(p, "POST", "/plans/legacy/run")
      assert(run.statusCode() == 500 && run.body().contains("--legacy"), run.body())
      val runs = graft.util.Jsons.parse(send(p, "GET", "/runs").body()).children
      assert(runs.size == 1)
      assert(graft.util.Jsons.str(runs.head \ "status").contains("error"), runs)
    } finally srv.stop()
  }
}
