package graft.rules

import org.apache.spark.sql.DataFrame
import org.json4s._

/** Adapter for the reference's NATIVE validation YAML
  * (`core/parser/PlanParser.scala` reads a validation folder;
  * `api/.../ValidationModels.scala` + `ValidationOperations.scala` define
  * the vocabulary — the full matrix lives in the reference's own
  * `sample/validation/json/json-validation.yaml`). Shape:
  *
  * {{{
  * name: "json_checks"
  * dataSources:
  *   json:
  *     - options: {path: ...}
  *       validations:
  *         - expr: "STARTSWITH(transaction_id, 'txn')"
  *         - field: amount
  *           validation:
  *             - {type: between, min: 1, max: 100, negate: true}
  *             - {type: meanBetween, min: 1, max: 100}
  * }}}
  *
  * Row-level types compile to [[Rule]]s (ONE projection for all of them,
  * [[RuleEngine]]); aggregate/dataset-level types compile to named
  * `DataFrame => Boolean` checks over [[GroupRules]] (each one bounded
  * aggregate job — never a collect). `negate: true` flips either kind.
  * A data-caterer user's validation folder runs unchanged via
  * [[validate]].
  */
object LegacyValidation {

  import graft.util.Jsons.{arr, str, dbl, anyVal, bool}

  final case class SourceValidations(
      dataSource: String,
      options: Map[String, String],
      entries: Seq[ParsedEntry]) {
    /** Rules with no preFilter — evaluated against the whole frame. */
    def rules: Seq[Rule] = plainRules(entries)
    /** (name, check) dataset-level validations. */
    def datasetChecks: Seq[(String, DataFrame => Boolean)] = entries.flatMap(_.datasetChecks)
    /** Rules gated by a preFilterExpr, grouped by the filter — evaluated
      * against the FILTERED frame so fractional error thresholds use the
      * filtered denominator (reference semantics). */
    def filteredRules: Seq[(String, Seq[Rule])] = LegacyValidation.filteredRules(entries)
  }

  private def plainRules(entries: Seq[ParsedEntry]): Seq[Rule] =
    entries.filter(_.preFilter.isEmpty).flatMap(_.rules)

  private def filteredRules(entries: Seq[ParsedEntry]): Seq[(String, Seq[Rule])] =
    entries.filter(_.preFilter.isDefined)
      .groupBy(_.preFilter.get).toSeq.sortBy(_._1)
      .map { case (pre, es) => pre -> es.flatMap(_.rules) }
      .filter(_._2.nonEmpty)

  def parse(text: String): Seq[SourceValidations] = {
    // a validation document may also be a top-level LIST of configs
    // (the reference's generated validations_N.yaml layout)
    graft.util.Jsons.parse(text) match {
      case JArray(docs) => docs.flatMap(parseDoc)
      case doc => parseDoc(doc)
    }
  }

  private def parseDoc(json: JValue): Seq[SourceValidations] =
    (json \ "dataSources") match {
      case JObject(sources) => sources.flatMap { case (ds, entries) =>
        arr(entries).map { entry =>
          val opts = (entry \ "options") match {
            case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
            case _ => Map.empty[String, String]
          }
          SourceValidations(ds, opts, arr(entry \ "validations").map(parseValidation))
        }
      }
      case _ => Nil
    }

  /** Run every entry against its frame (read from `options.path` +
    * `format` when `df` isn't supplied): row rules in one projection,
    * dataset checks one bounded job each.
    */
  def validate(df: DataFrame, sv: SourceValidations,
      threshold: Double = 0.0): Seq[RuleResult] =
    validateEntries(df, sv.entries, threshold)

  /** Validate parsed entries against one frame — THE single implementation
    * of the preFilter denominator semantics, shared by the validation-file
    * path ([[validate]]) and the unified-config path
    * ([[graft.plan.Unified]]): plain rules in one projection over the whole
    * frame; pre-filtered groups each in one projection over the FILTERED
    * frame (fractional thresholds divide by the filtered count); dataset
    * checks one bounded job each.
    */
  def validateEntries(df: DataFrame, entries: Seq[ParsedEntry],
      threshold: Double = 0.0, numSamples: Int = 5): Seq[RuleResult] = {
    // per-validation errorThreshold (reference ValidationModels) rides on
    // each Rule — mixed-tolerance sets still evaluate in ONE projection
    val groups = (df -> plainRules(entries)) +:
      filteredRules(entries).map { case (pre, rules) => df.where(pre) -> rules }
    groups.flatMap { case (frame, rules) =>
      RuleEngine.validate(frame, RuleSet(rules), threshold, numSamples)
    } ++ RuleEngine.validate(df, RuleSet(Nil, entries.flatMap(_.datasetChecks)))
  }

  // ---------- per-entry parsing ----------

  /** One `validations:` list entry → (row rules, dataset checks). Entry
    * shapes (legacy validation files AND the unified config share them):
    * `{expr: ...}`; `{field: f, validation: [...]}` (the list can freely
    * MIX row and aggregate types — the reference's sample files do);
    * `{groupByFields: [...], aggField, aggType, aggExpr}` (reference
    * `GroupByValidationOps`: agg column named `aggType(aggField)`, aggExpr
    * evaluated over the grouped frame); `{names: [...]}` (+ optional
    * `fieldNameType`/`count`/`min`/`max` — `FieldNamesValidation`).
    * Exposed for the unified-config adapter ([[graft.plan.Unified]]).
    */
  /** One parsed entry. `preFilter` is the reference's preFilterExpr
    * (ValidationOperations.scala:26-28: the frame is FILTERED before
    * validating) — callers must evaluate the entry's rules against
    * `df.where(preFilter)`, NOT guard them inside an unfiltered pass: a
    * guard would count non-matching rows in `total`, silently diluting
    * fractional error thresholds by the filter's selectivity.
    */
  final case class ParsedEntry(
      rules: Seq[Rule],
      datasetChecks: Seq[(String, DataFrame => Boolean)],
      preFilter: Option[String])

  def parseValidation(v: JValue): ParsedEntry = {
    val (rules0, checks) = parseValidation0(v)
    // errorThreshold at the ENTRY level (expr entries) applies to rules
    // that didn't set their own at the ITEM level (field/validation lists)
    val entryTh = dbl(v \ "errorThreshold")
    val rules = rules0.map(r =>
      if (r.threshold.isDefined) r else r.withThreshold(entryTh))
    val pre = str(v \ "preFilterExpr")
    // dataset checks close over the filter themselves; row rules stay
    // unwrapped and the caller groups them by preFilter
    val wrappedChecks = pre match {
      case None => checks
      case Some(p) => checks.map { case (n, f) => (n, (df: DataFrame) => f(df.where(p))) }
    }
    ParsedEntry(rules, wrappedChecks, pre)
  }

  /** GroupBy/global aggregate check shared by the three spellings the
    * reference's files use: `aggExpr` over the grouped frame; with NO
    * groupByFields the aggregate is global (`{aggType: count, aggExpr:
    * "count == 1000"}`); with a `validation:` item list instead of
    * aggExpr, the row-rule items apply to the AGG column.
    */
  private def groupByCheck(v: JValue, keys: Seq[String])
      : (String, DataFrame => Boolean) = {
    val aggField = str(v \ "aggField").getOrElse("")
    val aggType = str(v \ "aggType").getOrElse("sum")
    val items = arr(v \ "validation")
    val aggExprOpt = str(v \ "aggExpr")
    // compile items at PARSE time (a bad item must fail here, not abort a
    // whole validation run from inside the closure): row-rule items apply
    // per group; aggregate-typed items (meanBetween over the agg column)
    // become dataset checks on the grouped frame
    val itemRules = items.flatMap(rowRule("__agg", _))
    val itemChecks = items.flatMap(datasetCheck("__agg", _))
    require(aggExprOpt.isDefined || itemRules.nonEmpty || itemChecks.nonEmpty,
      "groupBy validation needs aggExpr or a validation item list with " +
        "recognized types")
    (s"groupby_${keys.mkString("_")}_$aggType", (df: DataFrame) => {
      import org.apache.spark.sql.functions.{col, expr, coalesce, lit}
      // reference naming: agg column is `aggType(aggField)`; count with
      // no field is groupBy().count()'s `count` column. The unified
      // examples ALSO spell it `aggType_aggField` (avg_balance) — the
      // reference's own engine crashes on that; alias both so either
      // spelling of aggExpr resolves.
      val grouped =
        if (aggField.isEmpty && aggType == "count")
          df.groupBy(keys.map(col): _*).count()
        else {
          val base = df.groupBy(keys.map(col): _*).agg(Map(aggField -> aggType))
          val short = aggField.split('.').last // struct fields: avg_balance, not avg_a.b
          val withShort = base.withColumn(s"${aggType}_$short", col(s"`$aggType($aggField)`"))
          // the reference's unified docs ALSO abbreviate to the last
          // _-segment (`avg_balance` for aggField account_balance,
          // validation-focused.yaml:111) — alias that spelling too when it
          // doesn't collide with a real column
          val tail = short.split('_').last
          if (tail != short && !withShort.columns.contains(s"${aggType}_$tail"))
            withShort.withColumn(s"${aggType}_$tail", col(s"`$aggType($aggField)`"))
          else withShort
        }
      aggExprOpt match {
        case Some(aggExpr) =>
          grouped.where(!coalesce(expr(aggExpr), lit(false))).isEmpty
        case None =>
          // item list applied to the agg column, aliased to a paren-free
          // name so the row-rule vocabulary addresses it directly
          val aggCol =
            if (aggField.isEmpty && aggType == "count") col("count")
            else col(s"`$aggType($aggField)`")
          val renamed = grouped.withColumn("__agg", aggCol)
          val rowsOk = itemRules.isEmpty ||
            RuleEngine.validateAll(renamed, itemRules).forall(_.success)
          rowsOk && itemChecks.forall(_._2(renamed))
      }
    })
  }

  private def parseValidation0(v: JValue)
      : (Seq[Rule], Seq[(String, DataFrame => Boolean)]) =
    (str(v \ "expr"), v \ "groupByFields", v \ "names", str(v \ "field")) match {
      case (Some(e), JNothing, _, _) =>
        (Seq(Rules.sqlExpr(s"expr_${e.hashCode.toHexString}", e)), Nil)
      case (_, JArray(gks), _, _) =>
        (Nil, Seq(groupByCheck(v, gks.flatMap(str))))
      // global aggregate: aggExpr/aggType with NO groupByFields at all
      case (None, JNothing, JNothing, None) if str(v \ "aggExpr").isDefined ||
          str(v \ "aggType").isDefined =>
        (Nil, Seq(groupByCheck(v, Nil)))
      case (_, _, JArray(ns), _) =>
        (Nil, Seq(fieldNamesCheck(v, ns.flatMap(str))))
      // fieldNameType alone (no names list) — the count-based variants
      // need none (`{fieldNameType: "fieldCountEqual", count: "3"}`)
      case (None, JNothing, JNothing, None) if str(v \ "fieldNameType").isDefined =>
        (Nil, Seq(fieldNamesCheck(v, Nil)))
      // an EMPTY entry (`- {}`) carries nothing to check — the reference's
      // own generated validation files contain them; skip, don't throw
      case (None, JNothing, JNothing, None) if v == JObject(Nil) =>
        (Nil, Nil)
      case (_, _, _, Some(field)) =>
        val items = arr(v \ "validation")
        (items.flatMap(rowRule(field, _)), items.flatMap(datasetCheck(field, _)))
      case _ if str(v \ "upstreamDataSource").isDefined =>
        (Nil, Seq(upstreamCheck(v)))
      case _ =>
        throw new IllegalArgumentException(
          "validation entry needs expr, field, groupByFields, names, or upstreamDataSource")
    }

  /** fieldNames validation — both spellings the reference's files use
    * (`countEqual` and `fieldCountEqual`, etc.). */
  private def fieldNamesCheck(v: JValue, names: Seq[String])
      : (String, DataFrame => Boolean) = {
    val fnType = str(v \ "fieldNameType").getOrElse("matchSet")
    (s"fieldNames_$fnType", (df: DataFrame) => (fnType match {
      case "countEqual" | "fieldCountEqual" =>
        SchemaRules.fieldCountEqual(df, dbl(v \ "count").getOrElse(names.size.toDouble).toInt)
      case "countBetween" | "fieldCountBetween" => SchemaRules.fieldCountBetween(df,
        dbl(v \ "min").getOrElse(0.0).toInt, dbl(v \ "max").getOrElse(Int.MaxValue.toDouble).toInt)
      case "matchOrder" | "fieldNameMatchOrder" => SchemaRules.fieldNameMatchOrder(df, names)
      case _ => SchemaRules.fieldNameMatchSet(df, names)
    }).success)
  }

  /** Upstream validation (reference `UpstreamDataSourceValidation`,
    * `ValidationOperations.scala:181-224`): read ANOTHER source, prefix its
    * non-join columns with `<name>_`, join (equi on field names, or theta
    * via the `expr:cond` spelling), then run the NESTED validation entries
    * on the joined frame. The upstream's location comes from
    * `upstreamReadOptions` (path + format) — a named connection without
    * options must be resolved by the caller before validating.
    */
  private def upstreamCheck(v: JValue): (String, DataFrame => Boolean) = {
    val name = str(v \ "upstreamDataSource").get
    val readOpts = (v \ "upstreamReadOptions") match {
      case JObject(fs) => fs.flatMap { case (k, jv) => str(jv).map(k -> _) }.toMap
      case _ => Map.empty[String, String]
    }
    val joinFields = arr(v \ "joinFields").flatMap(str)
    val joinType = str(v \ "joinType").getOrElse("outer")
    val nested = (v \ "validation") match {
      case JNothing => Nil
      case JArray(es) => es.map(parseValidation)
      case single => Seq(parseValidation(single))
    }
    (s"upstream_$name", (df: DataFrame) => {
      import org.apache.spark.sql.functions.{col, expr}
      val path = readOpts.getOrElse("path", throw new IllegalArgumentException(
        s"upstream validation '$name': supply upstreamReadOptions.path " +
          "(named connections resolve only inside a plan run)"))
      val upstream0 = df.sparkSession.read
        .format(readOpts.getOrElse("format", "parquet"))
        .options(readOpts - "path" - "format").load(path)
      val exprJoin = joinFields.find(_.startsWith("expr:")).map(_.stripPrefix("expr:"))
      val equiKeys = joinFields.filterNot(_.startsWith("expr:"))
      // reference semantics: upstream non-join columns get `<name>_` prefix
      val upstream = upstream0.columns.foldLeft(upstream0) { (u, c) =>
        if (equiKeys.contains(c)) u else u.withColumnRenamed(c, s"${name}_$c")
      }
      val joined = exprJoin match {
        case Some(cond) => df.join(upstream, expr(cond), joinType)
        case None =>
          require(equiKeys.nonEmpty, s"upstream validation '$name': joinFields empty")
          df.join(upstream, equiKeys, joinType)
      }
      nested.isEmpty || validateEntries(joined, nested).forall(_.success)
    })
  }

  /** The wait gates declared on a list of validation entries
    * (unified-config `waitCondition` blocks) — run them before validating.
    */
  def parseWaits(entries: Seq[JValue]): Seq[WaitCondition] =
    entries.flatMap { v =>
      (v \ "waitCondition") match {
        case JNothing => None
        case w =>
          val retries = dbl(w \ "maxRetries").map(_.toInt).getOrElse(10)
          val intervalMs = dbl(w \ "waitBeforeRetrySeconds").map(s => (s * 1000).toLong).getOrElse(2000L)
          str(w \ "type").getOrElse("pause") match {
            case "pause" => Some(PauseWait(
              dbl(w \ "pauseInSeconds").map(s => (s * 1000).toLong).getOrElse(0L)))
            case "file" | "fileExists" => Some(FileExistsWait(
              str(w \ "path").getOrElse(""), retries, intervalMs))
            case "data" | "dataExists" => Some(DataExistsWait(
              str(w \ "options" \ "format").getOrElse("parquet"),
              str(w \ "path").orElse(str(w \ "options" \ "path")).getOrElse(""),
              str(w \ "expr").getOrElse("true"), retries, intervalMs))
            case "webhook" => Some(WebhookWait(str(w \ "url").getOrElse(""),
              str(w \ "method").getOrElse("GET"),
              arr(w \ "statusCodes").flatMap(dbl).map(_.toInt).toSet match {
                case s if s.isEmpty => Set(200); case s => s
              }, retries, intervalMs))
            case other => throw new IllegalArgumentException(s"unknown waitCondition type '$other'")
          }
      }
    }

  private def rowRule(field: String, item: JValue): Option[Rule] = {
    val negate = bool(item \ "negate")
    val th = dbl(item \ "errorThreshold")
    def fin(r0: Rule): Option[Rule] = {
      val r = r0.withThreshold(th)
      Some(if (negate) r.negate(r.name + "_not") else r)
    }
    val strictly = bool(item \ "strictly", default = true)
    val value = item \ "value"
    str(item \ "type").getOrElse("") match {
      case "equal" => fin(Rules.isEqual(field, anyVal(value)))
      case "null" => fin(Rules.isNull(field))
      case "notNull" => fin(Rules.isNotNull(field))
      case "contains" => fin(Rules.containsValue(field, str(value).getOrElse("")))
      case "in" => fin(Rules.in(field, arr(item \ "values").map(anyVal)))
      case "matches" => fin(Rules.matches(field, str(item \ "regex").getOrElse("")))
      case "matchesList" => fin(Rules.matchesList(field,
        arr(item \ "regexes").flatMap(str), bool(item \ "matchAll", default = true)))
      case "startsWith" => fin(Rules.startsWith(field, str(value).getOrElse("")))
      case "endsWith" => fin(Rules.endsWith(field, str(value).getOrElse("")))
      case "luhnCheck" => fin(Rules.luhnCheck(field))
      case "hasType" => arr(item \ "values") match {
        case Nil => fin(Rules.hasType(field, str(value).getOrElse("string")))
        case vs => fin(Rules.hasTypes(field, vs.flatMap(str)))
      }
      case "hasTypes" => fin(Rules.hasTypes(field, arr(item \ "values").flatMap(str)))
      case "lengthBetween" => fin(Rules.lengthBetween(field,
        dbl(item \ "min").getOrElse(0.0).toInt, dbl(item \ "max").getOrElse(Int.MaxValue.toDouble).toInt))
      case "lengthEqual" => fin(Rules.lengthEqual(field, dbl(value).getOrElse(0.0).toInt))
      case "isJsonParsable" => fin(Rules.isJsonParsable(field))
      case "matchJsonSchema" => fin(Rules.matchJsonSchema(field, str(item \ "schema").getOrElse("")))
      case "matchDateTimeFormat" => fin(Rules.matchDateTimeFormat(field,
        str(item \ "format").getOrElse("yyyy-MM-dd")))
      case "size" => fin(Rules.sizeEqual(field, dbl(value).getOrElse(0.0).toInt))
      case "lessThanSize" => fin(Rules.sizeLessThan(field, dbl(value).getOrElse(0.0).toInt, strictly))
      case "greaterThanSize" => fin(Rules.sizeGreaterThan(field, dbl(value).getOrElse(0.0).toInt, strictly))
      case "lessThan" => fin(Rules.lessThan(field, anyVal(value), strictly))
      case "greaterThan" => fin(Rules.greaterThan(field, anyVal(value), strictly))
      case "between" => fin(Rules.between(field,
        anyVal(item \ "min"), anyVal(item \ "max")))
      case _ => None // dataset-level or unknown → handled by datasetCheck
    }
  }

  private val AggBetween = Set("maxBetween", "minBetween", "meanBetween",
    "medianBetween", "stdDevBetween", "sumBetween")

  private def datasetCheck(field: String, item: JValue)
      : Option[(String, DataFrame => Boolean)] = {
    val negate = bool(item \ "negate")
    def fin(name: String, f: DataFrame => Boolean): Option[(String, DataFrame => Boolean)] =
      Some((if (negate) name + "_not" else name,
        (df: DataFrame) => if (negate) !f(df) else f(df)))
    val typ = str(item \ "type").getOrElse("")
    val lo = dbl(item \ "min").getOrElse(Double.NegativeInfinity)
    val hi = dbl(item \ "max").getOrElse(Double.PositiveInfinity)
    typ match {
      case t if AggBetween.contains(t) =>
        val agg = t.stripSuffix("Between")
        fin(s"${field}_$t", df =>
          if (agg == "median") GroupRules.medianBetween(df, field, lo, hi)
          else GroupRules.aggBetween(df, field, agg, lo, hi))
      case "unique" =>
        val (name, check) = GroupRules.uniqueCheck(field)
        fin(name, check)
      case "distinctInSet" => fin(s"${field}_distinctInSet",
        df => GroupRules.distinctInSet(df, field, arr(item \ "values").map(anyVal)))
      case "distinctContainsSet" => fin(s"${field}_distinctContainsSet",
        df => GroupRules.distinctContainsSet(df, field, arr(item \ "values").map(anyVal)))
      case "distinctEqual" => fin(s"${field}_distinctEqual",
        df => GroupRules.distinctEqual(df, field, arr(item \ "values").map(anyVal)))
      case "mostCommonValueInSet" => fin(s"${field}_mostCommonValueInSet",
        df => GroupRules.mostCommonValueInSet(df, field, arr(item \ "values").map(anyVal)))
      case "uniqueValuesProportionBetween" => fin(s"${field}_uniqueProportion",
        df => { val p = GroupRules.uniqueValuesProportion(df, field); p >= lo && p <= hi })
      case "quantileValuesBetween" =>
        val ranges = (item \ "quantileRanges") match {
          case JObject(fs) => fs.flatMap { case (q, bounds) =>
            q.toDoubleOption.zip(arr(bounds).flatMap(dbl) match {
              case Seq(l, h) => Some((l, h)); case _ => None
            })
          }
          case _ => Nil
        }
        fin(s"${field}_quantiles", df => {
          val qs = GroupRules.quantiles(df, field, ranges.map(_._1))
          qs.zip(ranges).forall { case (v, (_, (l, h))) => v >= l && v <= h }
        })
      case "isIncreasing" | "isDecreasing" =>
        val strictly = bool(item \ "strictly", default = true)
        fin(s"${field}_$typ", df =>
          GroupRules.monotonicityViolations(df, field, orderBy = field,
            partitionBy = Nil, increasing = typ == "isIncreasing",
            strictly = strictly).isEmpty)
      case _ => None
    }
  }
}
