package graft.rules

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Great Expectations suite importer — the reference ships adapters mapping
  * external validation suites onto its vocabulary
  * (`core/generator/metadata/datasource/greatexpectations/
  * GreatExpectationsDataValidations.scala:36-66` + model, ~30 expectation
  * types). Same idea here: a GX suite JSON compiles to this engine's
  * [[Rule]]s (row-level → ONE projection via [[RuleEngine]]) and dataset
  * checks (aggregate-level → the [[GroupRules]]/[[SchemaRules]] helpers).
  * Unknown or under-specified expectations are skipped with their names
  * reported, like the reference.
  */
object GreatExpectations {

  final case class Expectation(expectation_type: String, kwargs: Map[String, Any] = Map.empty)
  final case class Suite(
      expectation_suite_name: String = "",
      expectations: Seq[Expectation] = Nil)

  /** Row rules + dataset-level checks + skipped expectation names. */
  final case class Imported(
      rules: Seq[Rule],
      checks: Seq[(String, DataFrame => Boolean)],
      skipped: Seq[String])

  def parseSuite(json: String): Suite = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    JsonMethods.parse(json).extract[Suite]
  }

  private def d(v: Any): Double = v match {
    case n: Number => n.doubleValue()
    case b: BigInt => b.toDouble
    case s: String => s.toDouble
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }
  /** Optional numeric kwarg: absent OR explicit null (GX's common one-sided
    * bound encoding) → None. */
  private def optD(kw: Map[String, Any], key: String): Option[Double] =
    kw.get(key).filter(_ != null).map(d)
  private def list(v: Any): Seq[Any] = v.asInstanceOf[Seq[Any]]

  /** GX type names → Spark typeof() names. GX suites come from pandas/SQL/
    * Spark backends with their own spellings; typeof() returns SQL names. */
  private def sparkTypeNames(gx: String): Seq[String] =
    gx.toLowerCase.stripSuffix("type") match {
      case "str" | "string" | "object" | "text" | "varchar" => Seq("string")
      case "int" | "int32" | "int64" | "integer" | "long" | "bigint" =>
        Seq("int", "bigint", "smallint", "tinyint")
      case "float" | "float32" | "float64" | "double" | "number" => Seq("double", "float")
      case "bool" | "boolean" => Seq("boolean")
      case "date" => Seq("date")
      case "datetime" | "timestamp" => Seq("timestamp")
      case other => Seq(other)
    }

  def importSuite(suite: Suite): Imported = {
    val rules = Seq.newBuilder[Rule]
    val checks = Seq.newBuilder[(String, DataFrame => Boolean)]
    val skipped = Seq.newBuilder[String]
    suite.expectations.foreach { e =>
      val kw = e.kwargs
      def col0 = kw("column").toString
      try e.expectation_type match {
        // ---- row-level → Rules (evaluated in one projection) ----
        case "expect_column_values_to_not_be_null" => rules += Rules.isNotNull(col0)
        case "expect_column_values_to_be_null" => rules += Rules.isNull(col0)
        case "expect_column_values_to_be_between" =>
          rules += rangeRule(col0, optD(kw, "min_value"), optD(kw, "max_value"))
        case "expect_column_values_to_be_in_set" => rules += Rules.in(col0, list(kw("value_set")))
        case "expect_column_values_to_not_be_in_set" =>
          rules += Rules.notIn(col0, list(kw("value_set")))
        case "expect_column_values_to_match_regex" =>
          rules += Rules.matches(col0, kw("regex").toString)
        case "expect_column_values_to_not_match_regex" =>
          rules += Rules.notMatches(col0, kw("regex").toString)
        case "expect_column_value_lengths_to_be_between" =>
          rules += Rules.lengthBetween(col0, d(kw("min_value")).toInt, d(kw("max_value")).toInt)
        case "expect_column_value_lengths_to_equal" =>
          rules += Rules.lengthEqual(col0, d(kw("value")).toInt)
        case "expect_column_values_to_be_json_parseable" => rules += Rules.isJsonParsable(col0)
        case "expect_column_values_to_be_of_type" =>
          rules += Rules.hasTypes(col0, sparkTypeNames(kw("type_").toString))
        case "expect_column_values_to_be_in_type_list" =>
          rules += Rules.hasTypes(col0,
            list(kw("type_list")).flatMap(t => sparkTypeNames(t.toString)))
        case "expect_column_pair_values_to_be_equal" =>
          rules += Rules.isEqualField(kw("column_A").toString, kw("column_B").toString)
        case "expect_column_pair_values_a_to_be_greater_than_b" =>
          val (a, b) = (kw("column_A").toString, kw("column_B").toString)
          rules += Rule(s"${a}_gt_$b", col(a) > col(b))
        case "expect_column_values_to_match_strftime_format" =>
          rules += Rules.matchDateTimeFormat(col0, kw("strftime_format").toString)
        // ---- schema-level ----
        case "expect_column_to_exist" =>
          checks += (s"${col0}_exists" -> (df => SchemaRules.fieldNameMatchSet(df, Seq(col0)).success))
        case "expect_table_columns_to_match_ordered_list" =>
          val names = list(kw("column_list")).map(_.toString)
          checks += ("columns_ordered" -> (df => SchemaRules.fieldNameMatchOrder(df, names).success))
        case "expect_table_column_count_to_equal" =>
          val n = d(kw("value")).toInt
          checks += ("column_count" -> (df => SchemaRules.fieldCountEqual(df, n).success))
        case "expect_table_row_count_to_be_between" =>
          val lo = optD(kw, "min_value").getOrElse(Double.NegativeInfinity)
          val hi = optD(kw, "max_value").getOrElse(Double.PositiveInfinity)
          checks += ("row_count" -> (df => { val n = df.count(); n >= lo && n <= hi }))
        // ---- aggregate / distinct-set level → GroupRules ----
        case "expect_column_min_to_be_between" => aggCheck(checks, col0, "min", kw)
        case "expect_column_max_to_be_between" => aggCheck(checks, col0, "max", kw)
        case "expect_column_mean_to_be_between" => aggCheck(checks, col0, "mean", kw)
        case "expect_column_stdev_to_be_between" => aggCheck(checks, col0, "stddev", kw)
        case "expect_column_sum_to_be_between" => aggCheck(checks, col0, "sum", kw)
        case "expect_column_median_to_be_between" =>
          val (lo, hi) = (d(kw("min_value")), d(kw("max_value")))
          checks += (s"${col0}_median" -> (df => GroupRules.medianBetween(df, col0, lo, hi)))
        case "expect_column_distinct_values_to_be_in_set" =>
          checks += (s"${col0}_distinct_in" -> (df => GroupRules.distinctInSet(df, col0, list(kw("value_set")))))
        case "expect_column_distinct_values_to_contain_set" =>
          checks += (s"${col0}_distinct_contains" -> (df => GroupRules.distinctContainsSet(df, col0, list(kw("value_set")))))
        case "expect_column_distinct_values_to_equal_set" =>
          checks += (s"${col0}_distinct_equal" -> (df => GroupRules.distinctEqual(df, col0, list(kw("value_set")))))
        case "expect_column_most_common_value_to_be_in_set" =>
          checks += (s"${col0}_mode_in" -> (df => GroupRules.mostCommonValueInSet(df, col0, list(kw("value_set")))))
        case "expect_column_proportion_of_unique_values_to_be_between" =>
          val (lo, hi) = (d(kw("min_value")), d(kw("max_value")))
          checks += (s"${col0}_unique_prop" -> (df => {
            val p = GroupRules.uniqueValuesProportion(df, col0); p >= lo && p <= hi
          }))
        case "expect_column_values_to_be_unique" =>
          checks += GroupRules.uniqueCheck(col0)
        case other =>
          skipped += other // reference behavior: warn-and-skip unknown types
      } catch {
        // missing kwargs, null/non-numeric bounds, wrong shapes: the
        // reference's behavior (and ours) is warn-and-skip the ONE
        // expectation, never fail the whole suite import
        case _: NoSuchElementException => skipped += e.expectation_type
        case _: IllegalArgumentException => skipped += e.expectation_type
        case _: NumberFormatException => skipped += e.expectation_type
        case _: ClassCastException => skipped += e.expectation_type
      }
    }
    Imported(rules.result(), checks.result(), skipped.result())
  }

  /** Full evaluation: row rules in ONE pass + each dataset check; skipped
    * expectations are reported as inconclusive failures=0 results.
    */
  def validateSuite(df: DataFrame, suiteJson: String, threshold: Double = 0.0): Seq[RuleResult] = {
    val imported = importSuite(parseSuite(suiteJson))
    RuleEngine.validate(df, RuleSet(imported.rules, imported.checks), threshold) ++
      imported.skipped.map(n =>
        RuleResult(s"skipped_$n", 0, 0, success = true, Seq(Map("skipped" -> n))))
  }

  /** between with one-sided bound support (GX encodes the open side as an
    * explicit null). Both-absent → an always-true rule, reported as such. */
  private def rangeRule(column: String, lo: Option[Double], hi: Option[Double]): Rule =
    (lo, hi) match {
      case (Some(l), Some(h)) => Rules.between(column, l, h)
      case (Some(l), None) => Rules.greaterThan(column, l, strictly = false)
      case (None, Some(h)) => Rules.lessThan(column, h, strictly = false)
      case (None, None) => Rules.isNotNull(column) // degenerate suite entry
    }

  private def aggCheck(
      checks: scala.collection.mutable.Builder[(String, DataFrame => Boolean), Seq[(String, DataFrame => Boolean)]],
      column: String,
      aggType: String,
      kw: Map[String, Any]): Unit = {
    val lo = optD(kw, "min_value").getOrElse(Double.NegativeInfinity)
    val hi = optD(kw, "max_value").getOrElse(Double.PositiveInfinity)
    checks += (s"${column}_$aggType" -> (df => GroupRules.aggBetween(df, column, aggType, lo, hi)))
  }
}
