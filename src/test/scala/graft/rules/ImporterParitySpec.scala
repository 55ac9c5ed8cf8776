package graft.rules

import graft.SparkSuite
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** Every validation importer evaluates through [[RuleEngine.validate]]: on
  * one frame, the five front ends agree on a failing uniqueness check and on
  * the samples of a failing row rule, and each runs the same jobs.
  */
class ImporterParitySpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  /** `id` 2 repeats; `amount` 500 is out of [0, 100]. One parquet file, so
    * a sample's `limit` scans one partition and job counts are fixed. */
  private lazy val frame: DataFrame = {
    val dir = Files.createTempDirectory("graft_parity").toString
    Seq((1L, 5.0), (2L, 50.0), (2L, 500.0), (3L, 7.0)).toDF("id", "amount")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private val legacyYaml =
    """name: parity
      |dataSources:
      |  parquet:
      |    - options: {path: "/unused"}
      |      validations:
      |        - field: amount
      |          validation:
      |            - {type: between, min: 0, max: 100}
      |        - field: id
      |          validation:
      |            - {type: unique}
      |""".stripMargin

  private val odcsYaml =
    """name: parity
      |schema:
      |  - name: t
      |    properties:
      |      - name: id
      |        logicalType: integer
      |        unique: true
      |      - name: amount
      |        logicalType: number
      |        logicalTypeOptions: {minimum: 0, maximum: 100}
      |""".stripMargin

  private val gxJson =
    """{"expectation_suite_name": "parity", "expectations": [
      |  {"expectation_type": "expect_column_values_to_be_between",
      |   "kwargs": {"column": "amount", "min_value": 0, "max_value": 100}},
      |  {"expectation_type": "expect_column_values_to_be_unique", "kwargs": {"column": "id"}}
      |]}""".stripMargin

  private val cliYaml =
    """dataContractSpecification: 0.9.3
      |id: parity
      |models:
      |  t:
      |    fields:
      |      id: {type: long, unique: true}
      |      amount: {type: double, minimum: 0, maximum: 100}
      |""".stripMargin

  private val openMetadataJson =
    """{"data": [
      |  {"entityLink": "<#E::table::db.t::columns::amount>",
      |   "parameterValues": [{"name": "minValue", "value": "0"}, {"name": "maxValue", "value": "100"}]},
      |  {"entityLink": "<#E::table::db.t::columns::id>",
      |   "parameterValues": [{"name": "fieldValuesToBeUnique", "value": "true"}]}
      |]}""".stripMargin

  private val frontEnds: Seq[(String, DataFrame => Seq[RuleResult])] = Seq(
    "legacy" -> (df => LegacyValidation.validate(df, LegacyValidation.parse(legacyYaml).head)),
    "odcs" -> (df => DataContract.validate(df, odcsYaml)),
    "great_expectations" -> (df => GreatExpectations.validateSuite(df, gxJson)),
    "datacontract_cli" -> (df => DataContractCli.validate(df, DataContractCli.parse(cliYaml).models.head)),
    "openmetadata" -> (df => OpenMetadata.validate(df, OpenMetadata.parse(openMetadataJson))))

  test("five front ends: one uniqueness result, one sample set for the failing row rule") {
    val results = frontEnds.map { case (name, run) => name -> run(frame) }
    results.foreach { case (name, rs) =>
      val uniq = rs.filter(_.rule.endsWith("_unique"))
      assert(uniq.map(r => (r.rule, r.total, r.errors, r.success)) == Seq(("id_unique", 1L, 1L, false)),
        s"$name: $rs")
      val failedRows = rs.filterNot(r => r.success || r.rule.endsWith("_unique"))
      assert(failedRows.size == 1, s"$name: $rs")
      assert(failedRows.head.total == 4L && failedRows.head.errors == 1L, s"$name: $rs")
      assert(failedRows.head.samples == Seq(Map("id" -> 2L, "amount" -> 500.0)), s"$name: $rs")
    }
  }

  test("job count: the rule pass, one failed rule's sample and one dataset check, per front end") {
    val rules = DataContract.toRules(DataContract.parse(odcsYaml))
    val failed = rules.filter(r => frame.where(!r.strict).count() > 0)
    assert(failed.size == 1)
    val (_, pass) = withJobCount("parity_pass")(RuleEngine.validateAll(frame, rules))
    val (_, sample) = withJobCount("parity_sample")(
      RuleEngine.errorSamples(frame, failed.head, 5).collect())
    val (_, check) = withJobCount("parity_check")(GroupRules.uniqueCheck("id")._2(frame))
    info(s"rule pass $pass, sample $sample, uniqueness check $check jobs")
    // the rule pass and the uniqueness check each aggregate behind one
    // exchange (AQE: a map-stage job, then the result job); 5 is the count
    // from before the importers shared the evaluator
    assert((pass, sample, check) == ((2, 1, 2)))
    frontEnds.foreach { case (name, run) =>
      val (_, jobs) = withJobCount(s"parity_$name")(run(frame))
      assert(jobs == pass + sample + check, s"$name ran $jobs jobs")
    }
  }
}
