package graft

import graft.pipeline.{FilterConfig, ResumableRunner, RunReport}

/** spark-submit entry point — the deployment surface of the north rule:
  *
  *   spark-submit --class graft.Main \
  *     --conf spark.sql.extensions=graft.plans.GraftExtensions \
  *     graft.jar <inputPath> <outputDir> [numBuckets] [runId]
  *
  *   spark-submit --class graft.Main graft.jar --plan plan.yaml
  *
  * Default mode reads the image+caption table (parquet here; an Iceberg
  * table reference like `iceberg.ns.images` works unchanged where the
  * catalog is configured — `spark.read.table` branch), runs the resumable
  * bucketed quality-filter, writes kept+annotated rows, per-partition
  * metrics, and JSON+HTML run reports. Re-running after a crash resumes from
  * the bucket manifest. `--plan` mode executes a declarative JSON/YAML plan
  * in any dialect through [[graft.plan.PlanDocument]] instead (the
  * reference's YAML-plan entry surface) and prints its summary JSON.
  *
  * `--legacy <plan.yaml> <taskFolder> [validationFolder]` runs the
  * reference's DEPLOYED layout unchanged (its docker/env-var shape:
  * PLAN_FILE_PATH + TASK_FOLDER_PATH + VALIDATION_FOLDER_PATH): task
  * summaries resolve to the task file in the folder whose `name:` matches,
  * the plan's `validations:` references resolve against the validation
  * folder, generation runs in FK insert order, then each validation source
  * runs against its declared `options.path`.
  */
object Main {

  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  /** The one session build: `SPARK_GRAFT_MASTER` wins, then a conf-given
    * master, then `local[SPARK_GRAFT_CPUS]` (8 by default). Static confs
    * like spark.driver.memory only take effect here, never post-create. */
  private def session(master: Option[String] = None,
      conf: Map[String, String] = Map.empty): org.apache.spark.sql.SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val b = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", master.getOrElse(s"local[$cpus]")), cpus.toInt)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def runLegacy(planPath: String, taskFolder: String,
      validationFolder: Option[String],
      connections: Map[String, Map[String, String]] = Map.empty,
      runtimeConf: Map[String, String] = Map.empty,
      master: Option[String] = None,
      generate: Boolean = true): Unit = {
    // application.conf runtime.master + runtime.config apply at SESSION
    // BUILD time (the reference hands them to its SparkProvider the same way)
    val spark = session(master, runtimeConf)
    val o = graft.plan.LegacyPlan.runFolder(spark, readFile(planPath), taskFolder,
      validationFolder, connections, generate)
    val gen = o.generation
    println(s"[graft] plan=${gen.plan} order=${gen.insertOrder.mkString(",")} " +
      s"counts=${gen.insertOrder.map(t => s"$t:${gen.counts(t)}").mkString(",")}")
    o.validations.foreach { case (ds, results) =>
      results.foreach { r =>
        val tag = if (r.success) "ok" else "FAILED"
        println(s"[graft] validation $ds/${r.rule}: $tag ${r.errors}/${r.total}")
      }
    }
    println(s"[graft] success=${o.success}")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--legacy")) {
      require(args.length >= 3, "usage: graft.Main --legacy <plan.yaml> <taskFolder> [validationFolder]")
      runLegacy(args(1), args(2), args.lift(3))
      return
    }
    // APPLICATION_CONFIG_PATH (the reference's `ConfigParser.getConfig`
    // contract): folders/flags/runtime/connections come from the conf,
    // whose own `${?ENV}` substitutions give env vars the last word
    if (args.isEmpty && sys.env.contains("APPLICATION_CONFIG_PATH")) {
      val conf = graft.plan.AppConfig.parse(readFile(sys.env("APPLICATION_CONFIG_PATH")))
      val planPath = conf.folders.getOrElse("planFilePath",
        throw new IllegalArgumentException("application.conf: folders.planFilePath missing"))
      val taskFolder = conf.folders.getOrElse("taskFolderPath",
        throw new IllegalArgumentException("application.conf: folders.taskFolderPath missing"))
      // flags gate the phases like the reference: enableGenerateData
      // (default true) and enableValidation (default false)
      val valFolder = conf.folders.get("validationFolderPath")
        .filter(_ => conf.flags.getOrElse("enableValidation", false))
      val generate = conf.flags.getOrElse("enableGenerateData", true)
      if (!generate) System.err.println(
        "[graft] flags.enableGenerateData=false — generation skipped, validations only")
      runLegacy(planPath, taskFolder, valFolder, conf.connections,
        conf.runtimeConfig, conf.master, generate)
      return
    }
    // the reference's docker contract (application.conf `${?PLAN_FILE_PATH}`
    // etc.): no args + env vars set → the same deployed folder layout
    if (args.isEmpty && sys.env.contains("PLAN_FILE_PATH")) {
      val planPath = sys.env("PLAN_FILE_PATH")
      // default task folder = ../task relative to the plan's folder (the
      // reference's /opt/app/{plan,task} layout); a bare filename has no
      // parent to anchor that default, so demand the env var explicitly
      val taskFolder = sys.env.getOrElse("TASK_FOLDER_PATH",
        Option(java.nio.file.Paths.get(planPath).getParent)
          .map(_.resolveSibling("task").toString)
          .getOrElse(throw new IllegalArgumentException(
            s"PLAN_FILE_PATH '$planPath' has no parent folder to derive the task " +
              "folder from — set TASK_FOLDER_PATH")))
      runLegacy(planPath, taskFolder, sys.env.get("VALIDATION_FOLDER_PATH"))
      return
    }
    if (args.headOption.contains("--plan")) {
      require(args.length == 2, "usage: graft.Main --plan <plan.yaml|plan.json>")
      val doc = graft.plan.PlanDocument.parse(readFile(args(1)))
      val spark = session()
      println(s"[graft] ${graft.plan.PlanDocument.run(spark, doc).json}")
      spark.stop()
      return
    }
    require(args.length >= 2, "usage: graft.Main <inputPath> <outputDir> [numBuckets] [runId]")
    val input = args(0)
    val outDir = args(1)
    val numBuckets = if (args.length > 2) args(2).toInt else 16
    val runId = if (args.length > 3) args(3) else s"run_${System.currentTimeMillis()}"

    // under spark-submit the session comes from the launcher's conf; the
    // builder only fills in what is not already set
    val spark = session()
    import spark.implicits._

    val table =
      if (input.contains(".") && !input.contains("/")) spark.read.table(input)
      else spark.read.parquet(input)
    val ds = table.as[graft.corpus.ImageRow]

    val runner = new ResumableRunner(spark, outDir, numBuckets, FilterConfig())
    val processed = runner.run(ds, runId)
    val summary = RunReport.write(runner.readMetrics(), runId, outDir)
    println(s"[graft] buckets processed this invocation: $processed")
    println(s"[graft] ${RunReport.toJson(summary)}")
    spark.stop()
  }
}
