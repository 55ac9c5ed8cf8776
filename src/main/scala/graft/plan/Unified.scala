package graft.plan

import graft.rules.{LegacyValidation, RuleResult}
import org.apache.spark.sql.SparkSession
import org.json4s._

/** Adapter for the reference's UNIFIED single-file config — its modern
  * entry format (`core/parser/unified/{UnifiedYamlParser,
  * UnifiedConfigConverter,UnifiedConfigDetector}.scala` ~700 LoC,
  * `api/.../unified/UnifiedConfigModels.scala`): one YAML holding data
  * sources (connection + steps), per-step fields AND inline validations
  * (with wait conditions), top-level foreign keys, and run config.
  *
  * Mapping onto this engine:
  *  - every step of every data source → one generation task (field options
  *    reuse the [[LegacyPlan]] vocabulary — same `options` map shape);
  *  - file-typed connections (parquet/csv/json/orc) become sinks at
  *    `options.path` (single-step source) or `options.path/<step>`;
  *    non-file connections (jdbc/kafka/http) generate without a file sink —
  *    delivery is a separate concern ([[graft.sources.Jdbc]],
  *    [[graft.sinks.HttpSink]]);
  *  - `foreignKeys` (source → generate, addressed by (dataSource, step,
  *    fields)) → [[RelationshipDef]]s with cardinality ratios;
  *  - inline step validations → [[LegacyValidation.parseValidation]]
  *    (expr / field / groupBy / fieldNames — shared entry grammar), with
  *    `waitCondition` gates awaited before validating;
  *  - `config.validation.numSampleErrorRecords` → error-sample count;
  *    `sinkOptions.seed` → the deterministic seed.
  */
object Unified {

  final case class StepValidation(
      step: String,
      results: Seq[RuleResult],
      waitMet: Boolean)

  final case class UnifiedOutcome(
      name: String,
      generation: graft.plan.MultiPlanRunner.MultiPlanOutcome,
      validations: Seq[StepValidation],
      /** step → (rows before, rows after) for delete-generated-records
        * runs (`enableDeleteGeneratedRecords`). */
      deleted: Map[String, (Long, Long)] = Map.empty) {
    def success: Boolean =
      validations.forall(v => v.waitMet && v.results.forall(_.success))
  }

  /** True for a unified config; the rule itself is [[PlanDocument.isUnified]]. */
  def detect(text: String): Boolean = PlanDocument.isUnified(graft.util.Jsons.parse(text))

  import graft.util.Jsons.{str, arr}

  // ONE definition for both dialects (LegacyPlan owns it): the next format
  // addition or jar-blocked check must not land in only one of the two
  private def FileFormats = LegacyPlan.FileFormats

  /** Parse to the generation plan plus per-step raw validation entries. */
  def parse(j: JValue): (MultiPlanSpec, Map[String, Seq[JValue]]) = {
    val name = str(j \ "name").getOrElse("unified")
    val seed = str(j \ "sinkOptions" \ "seed").flatMap(_.toLongOption).getOrElse(42L)

    val stepEntries = scala.collection.mutable.LinkedHashMap.empty[String, Seq[JValue]]
    val tasks = arr(j \ "dataSources").flatMap { ds =>
      val connType = str(ds \ "connection" \ "type").getOrElse("parquet")
      val connPath = str(ds \ "connection" \ "options" \ "path")
      val steps = arr(ds \ "steps")
      // a jar-blocked file format must fail here too, not silently sink-less
      LegacyPlan.requireWritableFormat("connection type", connType)
      steps.map { s =>
        // the step grammar is the legacy task-file step — reuse its parser
        // by wrapping the single step as a task file
        val asTask = JObject(List("steps" -> JArray(List(s))))
        val task = LegacyPlan.parseTaskFile(
          org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(asTask))).head
        val stepName = task.name
        stepEntries(stepName) = arr(s \ "validations")
        // connection options (header, delimiter, compression...) ride into
        // the sink so later read-backs (validate-existing, delete) see the
        // SAME layout that was written; csv defaults to header=true —
        // headerless csv can't round-trip named columns at all
        val connOpts = (ds \ "connection" \ "options") match {
          case JObject(fs) => fs.collect {
            case (k, v) if k != "path" && k != "url" && k != "schema" =>
              graft.util.Jsons.str(v).map(k -> _)
          }.flatten.toMap
          case _ => Map.empty[String, String]
        }
        val sink =
          if (FileFormats.contains(connType))
            connPath.map(p => SinkSpec(connType,
              if (steps.size == 1) p else s"$p/$stepName",
              options = (if (connType == "xml") Map("rowTag" -> stepName)
                         else Map.empty[String, String]) ++
                (if (connType == "csv") Map("header" -> "true") else Map.empty) ++
                connOpts ++
                // step-level sink options (partitions/unwrapTopLevelArray/
                // singleFile) apply to the connection-derived sink too
                LegacyPlan.sinkPassThrough(s)))
          else None // jdbc/kafka/http: generation only; delivery is separate
        task.copy(sink = sink.orElse(task.sink))
      }
    }

    // stepEntries and the downstream name-keyed maps are last-wins — a step
    // name shared by two data sources would silently merge; fail at parse
    locally {
      val dups = tasks.groupBy(_.name).collect { case (n, ts) if ts.size > 1 => n }
      require(dups.isEmpty,
        s"unified config '$name' declares duplicate step names ${dups.mkString(", ")} — " +
          "rename the steps so each is unique config-wide")
    }

    val fks = arr(j \ "foreignKeys").flatMap { fk =>
      val srcStep = str(fk \ "source" \ "step").getOrElse("")
      // field LISTS — composite keys sample the parent's distinct tuple
      val srcFields = arr(fk \ "source" \ "fields").flatMap(str)
      val ratio = (fk \ "source" \ "cardinality" \ "ratio") match {
        case JInt(i) => Some(i.toDouble); case JDouble(d) => Some(d); case _ => None
      }
      arr(fk \ "generate").map { g =>
        val childStep = str(g \ "step").getOrElse("")
        val childFields = arr(g \ "fields").flatMap(str) match {
          case Nil => srcFields
          case fs => fs
        }
        RelationshipDef(s"$childStep.${childFields.mkString(",")}",
          s"$srcStep.${srcFields.mkString(",")}", ratio)
      }
    }

    (MultiPlanSpec(name, seed, tasks, fks), stepEntries.toMap)
  }

  /** Generate, then validate each step's frame against its inline
    * validations (gates awaited first). Runtime `config:` block honored
    * (reference `UnifiedRuntimeConfig`):
    *  - `config.flags.enableGenerateData: false` skips generation —
    *    validations then read each step's SINK path (validate-existing
    *    mode; a step without a file sink fails loudly);
    *  - `config.flags.enableValidation: false` skips validations;
    *  - `config.flags.enableSaveReports` + `config.folders.
    *    generatedReportsFolderPath` write a per-run JSON report
    *    (counts + validation results);
    *  - `config.validation.numSampleErrorRecords` sizes error samples.
    * `enableFastGeneration` is accepted and ignored — generation here is
    * always the UDF-free projection path the reference's fast mode
    * approximates.
    */
  def run(spark: SparkSession, text: String): UnifiedOutcome = run(spark, graft.util.Jsons.parse(text))

  def run(spark: SparkSession, j: JValue): UnifiedOutcome = {
    val numSamples = (j \ "config" \ "validation" \ "numSampleErrorRecords") match {
      case JInt(i) => i.toInt; case _ => 5
    }
    import graft.util.Jsons.bool
    def flag(name: String, default: Boolean): Boolean =
      (j \ "config" \ "flags" \ name) match {
        case JNothing => default
        case v => bool(v, default)
      }
    // config.runtime.sparkConfig entries apply to the session (reference
    // UnifiedSparkConfig); static/startup-only confs can't change on a
    // live session — surface that clearly instead of a bare Spark error
    (j \ "config" \ "runtime" \ "sparkConfig") match {
      case JObject(confs) => confs.foreach { case (k, v) =>
        graft.util.Jsons.str(v).foreach { value =>
          try spark.conf.set(k, value)
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"config.runtime.sparkConfig '$k' cannot be set on a running " +
                  "session (static conf) — pass it at spark-submit time", e)
          }
        }
      }
      case _ => ()
    }
    val doGenerate = flag("enableGenerateData", default = true)
    val doValidate = flag("enableValidation", default = true)
    val doTrack = flag("enableRecordTracking", default = false)
    val doDelete = flag("enableDeleteGeneratedRecords", default = false)
    val trackFolder = graft.util.Jsons.str(
      j \ "config" \ "folders" \ "recordTrackingFolderPath")

    val (plan0, entriesByStep) = parse(j)
    // config.generation.numRecordsPerStep overrides every step's count
    // (reference UnifiedGenerationConfig; numRecordsPerBatch is accepted
    // and ignored — Spark partitions bound memory, batching is the
    // reference's driver-loop artifact)
    val perStep = graft.util.Jsons.dbl(
      j \ "config" \ "generation" \ "numRecordsPerStep").map(_.toLong)
    val planDeclared = perStep match {
      case Some(n) => plan0.copy(tasks = plan0.tasks.map(_.copy(count = n)))
      case None => plan0
    }
    // enableGeneratePlanAndTasks (reference metadata auto-mode): a JDBC
    // data source declaring NO steps is discovered from its live catalog
    // (tables, types, constraints, composite FKs → JdbcMetadata), its
    // tasks+relationships merge into the plan, and generated rows INSERT
    // back into the database after generation, parents first.
    val autoJdbc: Seq[(String, Seq[graft.sources.JdbcMetadata.DbTable])] =
      if (!flag("enableGeneratePlanAndTasks", default = false)) Nil
      else arr(j \ "dataSources").flatMap { ds =>
        val connType = str(ds \ "connection" \ "type").getOrElse("")
        val url = str(ds \ "connection" \ "options" \ "url")
        if (Set("jdbc", "postgres", "mysql", "derby").contains(connType) &&
            arr(ds \ "steps").isEmpty) {
          // a step-less source under auto-mode with no url would silently
          // produce an empty "successful" run — fail loudly instead
          val u = url.getOrElse(throw new IllegalArgumentException(
            s"data source '${str(ds \ "name").getOrElse("?")}': " +
              "enableGeneratePlanAndTasks with no steps needs connection.options.url"))
          val pat = str(ds \ "connection" \ "options" \ "schema").getOrElse("%")
          Some(u -> graft.sources.JdbcMetadata.discover(u, pat))
        } else None
      }
    val plan = autoJdbc.foldLeft(planDeclared) { case (p, (_, tables)) =>
      val auto = graft.sources.JdbcMetadata.toPlan(
        tables, p.name, rowsPerTable = perStep.getOrElse(1000L), seed = p.seed)
      p.copy(tasks = p.tasks ++ auto.tasks,
        relationships = p.relationships ++ auto.relationships)
    }
    val sinkByStep = plan.tasks.map(t => t.name -> t.sink).toMap
    // per-step primary-key field names (options.isPrimaryKey) — the columns
    // record tracking persists; a step without keys tracks all columns
    val pkByStep: Map[String, Seq[String]] = arr(j \ "dataSources").flatMap { ds =>
      arr(ds \ "steps").map { st =>
        val pks = arr(st \ "fields").flatMap { f =>
          if (graft.util.Jsons.bool(f \ "options" \ "isPrimaryKey"))
            str(f \ "name") else None
        }
        str(st \ "name").getOrElse("step") -> pks
      }
    }.toMap
    def requireTrackFolder(): String = trackFolder.getOrElse(
      throw new IllegalArgumentException(
        "record tracking needs config.folders.recordTrackingFolderPath"))

    def readBack(s: SinkSpec) = Sinks.readBack(spark, s)

    // delete mode runs INSTEAD of generation (reference semantics): remove
    // the previously tracked rows from each file sink (rewritten through
    // the SAME Sinks.write conventions that produced the layout — single
    // files stay single files) and from auto-discovered database tables
    // (batched keyed DELETEs, children before parents), then drop tracking
    if (doDelete) {
      val folder = requireTrackFolder()
      val fileDeleted = plan.tasks.flatMap { t =>
        t.sink.flatMap { s =>
          require(!s.options.get("unwrapTopLevelArray").contains("true"),
            s"step '${t.name}': delete-generated-records cannot round-trip an " +
              "unwrapTopLevelArray sink (written as a bare JSON array document)")
          graft.generator.RecordTracking.deleteTrackedFromFiles(
            spark, readBack(s), df => Sinks.write(df, s.copy(mode = "overwrite")),
            folder, plan.name, t.name).map(t.name -> _)
        }
      }.toMap
      val jdbcDeleted = autoJdbc.flatMap { case (url, tables) =>
        val byName = tables.map(t => t.name -> t).toMap
        // children first: reverse topological order over the discovered FKs
        val order = graft.generator.ForeignKeys.deleteOrder(tables.map(_.name),
          tables.flatMap(t => t.fks.filter(fk => byName.contains(fk.parentTable))
            .map(fk => fk.parentTable -> t.name)))
        order.flatMap { name =>
          graft.generator.RecordTracking.deleteTrackedFromJdbc(
            spark, url, byName(name).qualified, folder, plan.name, name)
            .map(name -> _)
        }
      }.toMap
      return UnifiedOutcome(plan.name,
        MultiPlanRunner.MultiPlanOutcome(plan.name, plan.tasks.map(_.name),
          Map.empty, Map.empty, Map.empty),
        Nil, fileDeleted ++ jdbcDeleted)
    }
    // per-task write metrics for the run report (the reference's
    // SparkRecordListener): counts what the writer tasks actually
    // committed, off the scheduler bus — no extra job at any scale
    val recListener = new graft.pipeline.RecordListener
    spark.sparkContext.addSparkListener(recListener)
    try {
    val gen =
      if (doGenerate) MultiPlanRunner.run(spark, plan)
      else {
        // same endpoint validation the generation path gets from
        // MultiPlanRunner — a typo'd FK step must not surface as a bare
        // key-not-found from inside the topological sort
        val names = plan.tasks.map(_.name).toSet
        plan.relationships.foreach(r =>
          require(names.contains(r.childTable) && names.contains(r.parentTable),
            s"relationship ${r.from} -> ${r.to} references an undeclared task"))
        MultiPlanRunner.MultiPlanOutcome(plan.name,
          graft.generator.ForeignKeys.insertOrder(plan.tasks.map(_.name),
            plan.relationships.map(r => r.parentTable -> r.childTable)),
          Map.empty, Map.empty, Map.empty)
      }
    val autoTableNames = autoJdbc.flatMap(_._2.map(_.name)).toSet
    // auto tables track their DISCOVERED primary keys — all-columns
    // tracking would compare lossy-converted values (double vs DECIMAL
    // rounded on insert) in the keyed DELETE and silently delete nothing
    val autoPkByStep: Map[String, Seq[String]] = autoJdbc.flatMap(_._2.map(t =>
      t.name -> t.columns.filter(_.isPk).map(_.name))).toMap
    if (doGenerate && doTrack) {
      val folder = requireTrackFolder()
      // only steps the delete run can actually clean are tracked: file
      // sinks and auto-discovered database tables. Tracking a sink-less
      // jdbc/kafka step would accumulate state with no cleanup path.
      gen.insertOrder
        .filter(step => sinkByStep.getOrElse(step, None).isDefined ||
          autoTableNames.contains(step))
        .foreach { step =>
          val keys = pkByStep.getOrElse(step, Nil) match {
            case Nil => autoPkByStep.getOrElse(step, Nil)
            case ks => ks
          }
          gen.frames.get(step).foreach(df => graft.generator.RecordTracking.track(
            df, keys, folder, plan.name, step))
        }
    }
    // auto-discovered JDBC tables: insert the generated rows back into the
    // database, in FK insert order (gen.insertOrder is already topological)
    if (doGenerate) autoJdbc.foreach { case (url, tables) =>
      val byName = tables.map(t => t.name -> t).toMap
      gen.insertOrder.filter(byName.contains).foreach { name =>
        graft.sources.Jdbc.write(gen.frames(name), url,
          byName(name).qualified, org.apache.spark.sql.SaveMode.Append)
      }
    }
    val validations = if (!doValidate) Nil else gen.insertOrder.flatMap { step =>
      val entries = entriesByStep.getOrElse(step, Nil)
      if (entries.isEmpty) None
      else {
        // generation off = validate-existing mode: the step's sink path IS
        // the dataset location (the reference reads the data source back)
        val frame = gen.frames.get(step).orElse(
          sinkByStep.getOrElse(step, None).map { sk =>
            // a bare-array document reads back as exploded element rows —
            // not the column shape the validations were written against
            require(!sk.options.get("unwrapTopLevelArray").contains("true"),
              s"step '$step': validate-existing cannot read an " +
                "unwrapTopLevelArray sink back (bare JSON array document)")
            readBack(sk)
          })
          .getOrElse(throw new IllegalArgumentException(
            s"step '$step': enableGenerateData=false and no file sink to read " +
              "existing data from — validations have no dataset"))
        val waitMet = LegacyValidation.parseWaits(entries).forall(_.await(spark))
        // ONE shared implementation of the preFilter denominator semantics
        val results = LegacyValidation.validateEntries(
          frame, entries.map(LegacyValidation.parseValidation),
          numSamples = numSamples)
        Some(StepValidation(step, results, waitMet))
      }
    }
    val outcome = UnifiedOutcome(plan.name, gen, validations)
    // per-run report (reference enableSaveReports + generatedReportsFolderPath)
    graft.util.Jsons.str(j \ "config" \ "folders" \ "generatedReportsFolderPath")
      .filter(_ => flag("enableSaveReports", default = true))
      .foreach(dir => writeReport(outcome, dir, recListener.settled()))
    outcome
    } finally spark.sparkContext.removeSparkListener(recListener)
  }

  private def writeReport(o: UnifiedOutcome, dir: String,
      rec: graft.pipeline.RecordListener): Unit = {
    val json = s"""{"name":${graft.util.Jsons.quote(o.name)},"success":${o.success},""" +
      s""""recordsWritten":${rec.recordsWritten},""" +
      s""""recordsPerSec":${math.round(rec.recordsPerSec)},""" +
      s""""writeTasks":${rec.tasks.size},""" +
      s"""${PlanDocument.counts(o.generation)},"validations":${PlanDocument.validations(o)}}"""
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    // timestamped per run: successive runs (e.g. a validate-existing pass
    // after a generation pass) must not clobber each other's record
    java.nio.file.Files.writeString(
      d.resolve(s"report_${o.name}_${System.currentTimeMillis()}.json"), json + "\n")
  }
}
