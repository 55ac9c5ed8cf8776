package graft.plan

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The reference's unified single-file config (modeled on
  * `misc/schema/examples/{minimal,validation-focused}.yaml`) running on
  * this engine.
  */
class UnifiedSpec extends SparkSuite {
  private val s = graft.SharedSpark.spark

  import UnifiedSpec.unifiedYaml

  test("unified config: detect, generate, FK cardinality, inline validations, sinks") {
    val out = Files.createTempDirectory("graft_unified").toString
    val yaml = unifiedYaml(out)
    assert(Unified.detect(yaml))
    assert(!Unified.detect("name: x\ntasks: []\n")) // legacy plan ≠ unified

    val o = Unified.run(s, yaml)
    assert(o.name == "validation_example")
    assert(o.generation.insertOrder == Seq("customers", "orders"))
    // FK cardinality from the unified foreignKeys block: 300 × 2
    assert(o.generation.counts("orders") == 600L)

    // inline validations all green (expr, field, groupBy, names, waited expr)
    assert(o.success, o.validations.flatMap(_.results).filterNot(_.success).map(_.rule).toString)
    val v = o.validations.find(_.step == "customers").get
    assert(v.waitMet)
    assert(v.results.exists(_.rule.startsWith("groupby_status_avg")))
    assert(v.results.exists(_.rule.startsWith("fieldNames_")))

    // sinks at connection path; referential integrity on disk
    val customers = s.read.parquet(s"$out/customers")
    val orders = s.read.parquet(s"$out/orders")
    assert(customers.count() == 300 && orders.count() == 600)
    assert(orders.join(customers.select("customer_id"), Seq("customer_id"), "left_anti").isEmpty)
    assert(customers.where(!col("email").contains("@")).isEmpty) // faker expression ran
  }

  test("unified config: failing inline validation surfaces with samples") {
    val out = Files.createTempDirectory("graft_unified2").toString
    val yaml = unifiedYaml(out)
      .replace("\"age >= 18 AND age <= 120\"", "\"age >= 119\"")
    val o = Unified.run(s, yaml)
    assert(!o.success)
    val failed = o.validations.flatMap(_.results).filterNot(_.success)
    assert(failed.nonEmpty && failed.head.samples.size <= 3) // numSampleErrorRecords honored
  }

  test("runtime flags: validate-existing mode, validation off, report saving") {
    val out = Files.createTempDirectory("graft_unified_flags").toString
    val reports = Files.createTempDirectory("graft_unified_reports").toString
    def withConfig(extra: String): String = unifiedYaml(out).replace(
      "config:\n  validation:",
      s"config:\n$extra\n  validation:")

    // pass 1: generate with reports enabled → data on disk + a report file
    val o1 = Unified.run(s, withConfig(
      s"""  flags:
         |    enableGenerateData: true
         |    enableSaveReports: true
         |  folders:
         |    generatedReportsFolderPath: "$reports"""".stripMargin))
    assert(o1.success)
    // reports are timestamped per run — successive runs never clobber
    val reportFiles = new java.io.File(reports).listFiles()
      .filter(_.getName.startsWith("report_validation_example_"))
    assert(reportFiles.length == 1, reportFiles.mkString(","))
    val rjson = graft.util.Jsons.parse(
      java.nio.file.Files.readString(reportFiles.head.toPath))
    assert(graft.util.Jsons.bool(rjson \ "success"))
    assert((rjson \ "validations").children.nonEmpty)
    // per-task write metrics rode the scheduler bus into the report
    // (reference SparkRecordListener): the parquet sink committed the
    // generated rows through at least one writer task
    assert(graft.util.Jsons.dbl(rjson \ "recordsWritten").exists(_ >= 300.0),
      (rjson \ "recordsWritten").toString)
    assert(graft.util.Jsons.dbl(rjson \ "writeTasks").exists(_ >= 1.0))

    // pass 2: enableGenerateData=false → validations run against the SINK
    // paths written by pass 1 (validate-existing mode), nothing regenerated
    val before = s.read.parquet(s"$out/customers").count()
    val o2 = Unified.run(s, withConfig(
      "  flags:\n    enableGenerateData: false"))
    assert(o2.generation.frames.isEmpty) // nothing generated
    assert(o2.validations.nonEmpty && o2.success,
      o2.validations.flatMap(_.results).filterNot(_.success).map(_.rule).toString)
    assert(s.read.parquet(s"$out/customers").count() == before)

    // enableValidation=false → generation only, zero validation results
    val o3 = Unified.run(s, withConfig(
      "  flags:\n    enableValidation: false"))
    assert(o3.validations.isEmpty && o3.generation.counts("customers") == 300L)

    // config.runtime.sparkConfig applies runtime confs; static confs get a
    // clear error, not a bare Spark AnalysisException
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try {
      Unified.run(s, withConfig(
        "  runtime:\n    sparkConfig:\n      spark.sql.shuffle.partitions: \"24\""))
      assert(s.conf.get("spark.sql.shuffle.partitions") == "24")
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    val e = intercept[IllegalArgumentException](Unified.run(s, withConfig(
      "  runtime:\n    sparkConfig:\n      spark.sql.warehouse.dir: \"/tmp/x\"")))
    assert(e.getMessage.contains("spark-submit"))
  }

  test("record tracking + delete-generated-records lifecycle") {
    val out = Files.createTempDirectory("graft_unified_track").toString
    val trackDir = Files.createTempDirectory("graft_tracking").toString
    // declare the primary key the reference way (options.isPrimaryKey) —
    // tracking persists ONLY those columns
    def yaml(flags: String): String = unifiedYaml(out)
      .replace("              regex: \"CUST[0-9]{8}\"",
        "              regex: \"CUST[0-9]{8}\"\n              isPrimaryKey: \"true\"")
      .replace("config:\n  validation:",
        s"""config:
           |  flags:
           |$flags
           |  folders:
           |    recordTrackingFolderPath: "$trackDir"
           |  validation:""".stripMargin)

    val o1 = Unified.run(s, yaml("    enableRecordTracking: true"))
    assert(o1.success)
    val tracked = s.read.parquet(s"$trackDir/validation_example/customers")
    assert(tracked.columns.toSeq == Seq("customer_id")) // PK columns only
    assert(tracked.count() == 300)

    // rows the user's system already had must SURVIVE the cleanup
    import s.implicits._
    Seq(("KEEP1", "keep@x.com", 50L, 1.0, "active"))
      .toDF("customer_id", "email", "age", "account_balance", "status")
      .write.mode("append").parquet(s"$out/customers")

    val o2 = Unified.run(s, yaml("    enableDeleteGeneratedRecords: true"))
    assert(o2.deleted.contains("customers"))
    val (before, after) = o2.deleted("customers")
    assert(before == 301 && after == 1, s"$before -> $after")
    val remaining = s.read.parquet(s"$out/customers")
    assert(remaining.count() == 1 &&
      remaining.head().getAs[String]("customer_id") == "KEEP1")
    // tracking state cleaned; a second delete run is a no-op
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$trackDir/validation_example/customers")))
    val o3 = Unified.run(s, yaml("    enableDeleteGeneratedRecords: true"))
    assert(o3.deleted.isEmpty)
  }

  test("enableGeneratePlanAndTasks: JDBC source with no steps auto-discovers and inserts") {
    // the reference's metadata auto-mode: point a data source at a live
    // database, declare nothing — schema + constraints drive the plan
    val url = graft.sources.Jdbc.derbyUrl(
      Files.createTempDirectory("graft_unified_auto").toString + "/db")
    locally {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        st.executeUpdate(
          """CREATE TABLE teams (
            |  team_id INT NOT NULL PRIMARY KEY,
            |  division VARCHAR(3) NOT NULL)""".stripMargin)
        st.executeUpdate(
          """CREATE TABLE players (
            |  player_id BIGINT NOT NULL PRIMARY KEY,
            |  team_id INT NOT NULL REFERENCES teams (team_id),
            |  score DOUBLE)""".stripMargin)
        st.close()
      } finally conn.close()
    }
    val trackDir = Files.createTempDirectory("graft_auto_track").toString
    def yaml(extraFlags: String): String =
      s"""version: "1.0"
         |name: "auto_db"
         |config:
         |  flags:
         |    enableGeneratePlanAndTasks: true
         |$extraFlags
         |  folders:
         |    recordTrackingFolderPath: "$trackDir"
         |  generation:
         |    numRecordsPerStep: 40
         |dataSources:
         |  - name: "warehouse"
         |    connection:
         |      type: "jdbc"
         |      options:
         |        url: "$url"
         |        schema: "APP"
         |""".stripMargin
    val o = Unified.run(s, yaml("    enableRecordTracking: true"))
    // discovered tasks generated in FK order and landed in the DATABASE
    assert(o.generation.insertOrder == Seq("TEAMS", "PLAYERS"))
    assert(o.generation.counts.values.forall(_ == 40L)) // numRecordsPerStep
    val teams = graft.sources.Jdbc.read(s, url, "APP.TEAMS")
    val players = graft.sources.Jdbc.read(s, url, "APP.PLAYERS")
    assert(teams.count() == 40 && players.count() == 40)
    // the DB's own FK constraint accepted every insert; verify anyway
    assert(players.join(teams.select("TEAM_ID"), Seq("TEAM_ID"), "left_anti").isEmpty)

    // rows the user's system already had must survive the database cleanup
    locally {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        st.executeUpdate("INSERT INTO teams VALUES (999999, 'KPT')")
        st.close()
      } finally conn.close()
    }
    // delete mode removes exactly the tracked rows, children before parents
    val od = Unified.run(s, yaml("    enableDeleteGeneratedRecords: true"))
    assert(od.deleted.keySet == Set("TEAMS", "PLAYERS"))
    val teamsAfter = graft.sources.Jdbc.read(s, url, "APP.TEAMS")
    assert(teamsAfter.count() == 1)
    assert(teamsAfter.head().getAs[Int]("TEAM_ID") == 999999)
    assert(graft.sources.Jdbc.read(s, url, "APP.PLAYERS").isEmpty)
    // tracking state cleared → second delete run is a no-op
    assert(Unified.run(s, yaml("    enableDeleteGeneratedRecords: true")).deleted.isEmpty)
  }
}

object UnifiedSpec {
  /** A unified config with two file data sources, a foreign key and inline
    * validations, its sinks under `out`. */
  def unifiedYaml(out: String): String =
    s"""version: "1.0"
       |name: "validation_example"
       |description: "Inline validations"
       |config:
       |  validation:
       |    numSampleErrorRecords: 3
       |dataSources:
       |  - name: "customer_files"
       |    connection:
       |      type: "parquet"
       |      options:
       |        path: "$out/customers"
       |    steps:
       |      - name: "customers"
       |        count:
       |          records: 300
       |        fields:
       |          - name: "customer_id"
       |            options:
       |              regex: "CUST[0-9]{8}"
       |          - name: "email"
       |            options:
       |              expression: "#{internet.emailAddress}"
       |          - name: "age"
       |            type: "integer"
       |            options: {min: 18, max: 120}
       |          - name: "account_balance"
       |            type: "double"
       |            options: {min: 0.0, max: 1000000.0}
       |          - name: "status"
       |            options:
       |              oneOf: ["active", "inactive", "pending"]
       |        validations:
       |          - expr: "age >= 18 AND age <= 120"
       |          - field: "status"
       |            validation:
       |              - type: "in"
       |                values: ["active", "inactive", "pending"]
       |          - field: "email"
       |            validation:
       |              - type: "null"
       |                negate: true
       |          - groupByFields: ["status"]
       |            aggField: "account_balance"
       |            aggType: "avg"
       |            aggExpr: "`avg(account_balance)` > 0"
       |          - names: ["customer_id", "email", "age", "account_balance", "status"]
       |          - expr: "customer_id IS NOT NULL"
       |            waitCondition:
       |              type: "pause"
       |              pauseInSeconds: 0
       |  - name: "orders_files"
       |    connection:
       |      type: "parquet"
       |      options:
       |        path: "$out/orders"
       |    steps:
       |      - name: "orders"
       |        count:
       |          records: 10
       |        fields:
       |          - name: "order_id"
       |            options:
       |              regex: "ORD[0-9]{6}"
       |          - name: "customer_id"
       |foreignKeys:
       |  - source:
       |      dataSource: "customer_files"
       |      step: "customers"
       |      fields: ["customer_id"]
       |      cardinality:
       |        ratio: 2
       |    generate:
       |      - dataSource: "orders_files"
       |        step: "orders"
       |        fields: ["customer_id"]
       |sinkOptions:
       |  seed: "11"
       |""".stripMargin
}
