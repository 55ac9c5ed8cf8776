package graft.plan

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** application.conf surface (reference `core/config/ConfigParser.scala`):
  * HOCON-subset parsing with env substitution, flags/folders/runtime
  * accessors, named connections by format, and the connection→step option
  * merge through the legacy plan path.
  */
class AppConfigSpec extends SparkSuite {
  private val s = graft.SharedSpark.spark

  /** Parses a conf from the reference checkout; cancels the test (like the
    * sibling specs' `assume`) when the checkout is not present. */
  private def referenceConf(parse: => AppConfig.Conf): AppConfig.Conf =
    try parse catch {
      case _: java.nio.file.NoSuchFileException => cancel("reference checkout not present")
    }

  test("the reference's SHIPPED application.confs parse: flags, folders, runtime, connections") {
    val shipped = referenceConf(AppConfig.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get("/root/reference/app/src/main/resources/application.conf")),
      env = _ => None))
    assert(shipped.flags("enableCount") && !shipped.flags("enableRecordTracking"))
    assert(shipped.folders("planFilePath").endsWith("customer-create-plan.yaml"))
    assert(shipped.master.contains("local[*]"))
    // quoted runtime.config keys keep their dots; trailing commas tolerated
    assert(shipped.runtimeConfig("spark.driver.memory") == "6g")
    assert(shipped.runtimeConfig("spark.sql.shuffle.partitions") == "10")

    val mysql = referenceConf(AppConfig.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get("/root/reference/app/src/test/resources/sample/conf/mysql.conf")),
      env = _ => None))
    val conn = mysql.connections("mysql")
    assert(conn("format") == "jdbc", conn.toString)
    assert(conn("url") == "jdbc:mysql://localhost:3306/customer")
    assert(conn("driver") == "com.mysql.cj.jdbc.Driver")
  }

  // inline twins of the reference's shipped confs (app/src/main/resources/
  // application.conf, sample/conf/mysql.conf): the same directive shapes
  private val appConf =
    """flags {
      |    enableCount = true
      |    enableCount = ${?ENABLE_COUNT}
      |    enableRecordTracking = false
      |}
      |
      |folders {
      |    # plan + task locations
      |    planFilePath = "app/src/test/resources/sample/plan/customer-create-plan.yaml"
      |    planFilePath = ${?PLAN_FILE_PATH}
      |    taskFolderPath = "app/src/test/resources/sample/task"
      |}
      |
      |runtime {
      |    master = "local[*]"
      |    master = ${?DATA_CATERER_MASTER}
      |    config {
      |        "spark.driver.memory" = "6g",
      |        "spark.sql.shuffle.partitions" = "10",
      |    }
      |}
      |""".stripMargin

  private val mysqlConf =
    """jdbc {
      |    mysql {
      |        url = "jdbc:mysql://localhost:3306/customer"
      |        url = ${?MYSQL_URL}
      |        user = "root"   // inline comment
      |        driver = "com.mysql.cj.jdbc.Driver"
      |    }
      |}
      |""".stripMargin

  test("application.conf shapes parse: flags, folders, runtime, named connections") {
    val conf = AppConfig.parse(appConf, env = _ => None)
    assert(conf.flags("enableCount") && !conf.flags("enableRecordTracking"))
    assert(conf.folders("planFilePath").endsWith("customer-create-plan.yaml"))
    assert(conf.folders("taskFolderPath") == "app/src/test/resources/sample/task")
    assert(conf.master.contains("local[*]"))
    // quoted runtime.config keys keep their dots; trailing commas tolerated
    assert(conf.runtimeConfig == Map(
      "spark.driver.memory" -> "6g", "spark.sql.shuffle.partitions" -> "10"))
    // a set env var overrides the default line above it
    assert(AppConfig.parse(appConf, env = k => Option.when(k == "DATA_CATERER_MASTER")("yarn"))
      .master.contains("yarn"))

    // `//` inside a quoted value is data, after it a comment
    val conn = AppConfig.parse(mysqlConf, env = _ => None).connections("mysql")
    assert(conn == Map("format" -> "jdbc", "url" -> "jdbc:mysql://localhost:3306/customer",
      "user" -> "root", "driver" -> "com.mysql.cj.jdbc.Driver"), conn.toString)
  }

  test("env substitution: ${?X} applies only when set, ${X} is mandatory") {
    val text =
      """folders {
        |  planFilePath = "/default/plan.yaml"
        |  planFilePath = ${?PLAN_FILE_PATH}
        |}
        |""".stripMargin
    assert(AppConfig.parse(text, env = _ => None)
      .folders("planFilePath") == "/default/plan.yaml")
    assert(AppConfig.parse(text, env = k => Option.when(k == "PLAN_FILE_PATH")("/env/p.yaml"))
      .folders("planFilePath") == "/env/p.yaml")
    intercept[IllegalArgumentException] {
      AppConfig.parse("a = ${MISSING_MANDATORY}\n", env = _ => None)
    }
  }

  test("named connection supplies a step's format + path; step options win") {
    val dir = java.nio.file.Files.createTempDirectory("appconf").toString
    val conf = AppConfig.parse(
      s"""csv {
         |  customer_files {
         |    path = "$dir/out"
         |    header = "true"
         |  }
         |}
         |""".stripMargin, env = _ => None)
    val planYaml =
      """name: "p"
        |tasks:
        |  - name: "t1"
        |    dataSourceName: "customer_files"
        |""".stripMargin
    // the step declares NO type and NO path — both come from the connection
    val taskYaml =
      """name: "t1"
        |steps:
        |  - name: "accounts"
        |    count: {records: 8}
        |    fields:
        |      - name: "account_id"
        |        options: {regex: "ACC[0-9]{4}"}
        |""".stripMargin
    val spec = LegacyPlan.parsePlan(planYaml, Map("t1" -> taskYaml), conf.connections)
    val sink = spec.tasks.head.sink.get
    assert(sink.format == "csv" && sink.path == s"$dir/out")
    assert(sink.options("header") == "true")
    MultiPlanRunner.run(s, spec)
    val back = s.read.option("header", "true").csv(s"$dir/out")
    assert(back.count() == 8)
    assert(back.columns.sameElements(Array("account_id")))
  }

  test("the reference's docker application.conf registers its connections") {
    val docker = referenceConf(AppConfig.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get("/root/reference/example/docker/data/custom/application.conf")),
      env = _ => None))
    assert(docker.connections.contains("csv") || docker.connections.contains("json")
      || docker.connections.nonEmpty, docker.connections.keySet.toString)
  }

  test("parser edges: empty connections, dotted block keys, dotted option keys") {
    // the reference's docker conf declares EMPTY connections (`csv { csv { } }`)
    // — they still register with their format (ConfigParser.scala:70-78)
    val conf = AppConfig.parse(
      """csv {
        |  files {
        |  }
        |}
        |json {
        |  json {
        |  }
        |}
        |a.b {
        |  x = "1"
        |}
        |flags {
        |  enableCount = true
        |}
        |kafka {
        |  mk {
        |    kafka.bootstrap.servers = "host:9092"
        |  }
        |}
        |""".stripMargin, env = _ => None)
    assert(conf.connections("files") == Map("format" -> "csv"))
    assert(conf.connections("json") == Map("format" -> "json"))
    // dotted block key pushes two segments and '}' pops both
    assert(conf.get("a", "b", "x").contains("1"))
    assert(conf.flags("enableCount"))
    // dotted leaf keys inside a connection flatten like the reference's
    // entrySet (one dotted option key)
    assert(conf.connections("mk")("kafka.bootstrap.servers") == "host:9092")
  }

  test("enableGenerateData=false skips generation, validations still run") {
    val dir = java.nio.file.Files.createTempDirectory("noGen").toString
    val planYaml =
      """name: "p"
        |tasks:
        |  - name: "t1"
        |    dataSourceName: "csvc"
        |""".stripMargin
    val taskYaml =
      s"""name: "t1"
         |steps:
         |  - name: "accounts"
         |    type: "csv"
         |    count: {records: 4}
         |    options: {path: "$dir/out"}
         |    fields:
         |      - name: "account_id"
         |        options: {regex: "ACC[0-9]{4}"}
         |""".stripMargin
    val o = LegacyPlan.runFolder(s, planYaml,
      { val d = java.nio.file.Files.createTempDirectory("tasks")
        java.nio.file.Files.writeString(d.resolve("t1.yaml"), taskYaml); d.toString },
      validationFolder = None, generate = false)
    assert(o.generation.insertOrder.isEmpty && o.generation.counts.isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/out")),
      "no sink written when generation disabled")
  }
}
