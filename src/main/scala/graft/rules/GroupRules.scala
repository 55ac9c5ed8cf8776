package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregate- and dataset-level validations from the reference vocabulary:
  * groupBy aggregations with a boolean check over the aggregate
  * (`ValidationOperations.scala:164-179`, builder
  * `ValidationBuilder.scala:1020-1102`), uniqueness (`:198-201`),
  * distinct-set checks (`:615-678`), proportions (`:923-932`), quantiles
  * (`:944-975`), and monotonicity (`:818-844`).
  *
  * Each helper returns the VIOLATING rows/groups as a DataFrame (empty =
  * validation passes) so callers can count, sample, or anti-join them away —
  * same information as the reference's error count + sample rows, but
  * composable.
  */
object GroupRules {

  /** `df.groupBy(keys).agg(aggExpr)` then keep groups violating `check`.
    * aggType ∈ sum|count|min|max|avg|stddev (Constants.scala:523-528).
    */
  def groupByValidation(
      df: DataFrame,
      keys: Seq[String],
      field: String,
      aggType: String,
      check: Column => Column): DataFrame = {
    val aggCol = aggType.toLowerCase match {
      case "sum" => sum(col(field))
      case "count" => count(col(field))
      case "min" => min(col(field))
      case "max" => max(col(field))
      case "avg" | "mean" => avg(col(field))
      case "stddev" => stddev(col(field))
      case other => throw new IllegalArgumentException(s"unknown aggType $other")
    }
    val name = s"${aggType}_$field"
    df.groupBy(keys.map(col): _*)
      .agg(aggCol.as(name))
      .where(!coalesce(check(col(name)), lit(false)))
  }

  /** unique(fields…): groups with count > 1 (ValidationBuilder.scala:198-201).
    * Hash-aggregate with map-side partial counts — scales; never collects.
    */
  def duplicateGroups(df: DataFrame, fields: Seq[String]): DataFrame =
    df.groupBy(fields.map(col): _*)
      .agg(count(lit(1)).as("group_count"))
      .where(col("group_count") > 1)

  /** The named uniqueness check of a unique field, as every importer
    * registers it: `<field>_unique`, true when no value of `field` repeats
    * (one [[duplicateGroups]] job). */
  def uniqueCheck(field: String): (String, DataFrame => Boolean) =
    s"${field}_unique" -> (df => duplicateGroups(df, Seq(field)).isEmpty)

  /** Drop rows whose group exceeds maxPerGroup — the reference's per-field
    * count overflow anti-join (`core/util/UniqueFieldsUtil.scala:69-85`).
    */
  def dropOverflowGroups(df: DataFrame, keys: Seq[String], maxPerGroup: Long): DataFrame = {
    val over = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("group_count"))
      .where(col("group_count") > maxPerGroup)
      .select(keys.map(col): _*)
    df.join(over, keys, "left_anti")
  }

  /** distinctInSet: true iff every distinct value of `field` is in `allowed`
    * (ValidationBuilder.scala:615-624). One hash-agg, no collect_set on the
    * driver: count distinct values outside the set.
    */
  def distinctInSet(df: DataFrame, field: String, allowed: Seq[Any]): Boolean =
    df.where(!col(field).isin(allowed: _*))
      .agg(count_distinct(col(field)).as("bad"))
      .head().getLong(0) == 0

  /** Named whole-dataset aggregate-between builders
    * (ValidationBuilder max/min/mean/stdDev/sumBetween :700-780,
    * medianBetween via quantile): one aggregate job, map-side partial.
    */
  def aggBetween(df: DataFrame, field: String, aggType: String, lo: Double, hi: Double): Boolean = {
    val a = aggType.toLowerCase match {
      case "sum" => sum(col(field))
      case "min" => min(col(field))
      case "max" => max(col(field))
      case "avg" | "mean" => avg(col(field))
      case "stddev" => stddev(col(field))
      case other => throw new IllegalArgumentException(s"unknown aggType $other")
    }
    val v = df.agg(a.cast("double").as("v")).head()
    !v.isNullAt(0) && v.getDouble(0) >= lo && v.getDouble(0) <= hi
  }
  def sumBetween(df: DataFrame, field: String, lo: Double, hi: Double): Boolean =
    aggBetween(df, field, "sum", lo, hi)
  def minBetween(df: DataFrame, field: String, lo: Double, hi: Double): Boolean =
    aggBetween(df, field, "min", lo, hi)
  def maxBetween(df: DataFrame, field: String, lo: Double, hi: Double): Boolean =
    aggBetween(df, field, "max", lo, hi)
  def meanBetween(df: DataFrame, field: String, lo: Double, hi: Double): Boolean =
    aggBetween(df, field, "mean", lo, hi)
  def stdDevBetween(df: DataFrame, field: String, lo: Double, hi: Double): Boolean =
    aggBetween(df, field, "stddev", lo, hi)
  def medianBetween(df: DataFrame, field: String, lo: Double, hi: Double): Boolean = {
    val m = quantiles(df, field, Seq(0.5)).head
    m >= lo && m <= hi
  }

  /** distinctContainsSet (ValidationBuilder.scala:643-651): every value in
    * `required` appears among the distinct values of `field`. The reference
    * COLLECT_SETs the whole field and FORALLs over it — an all-distincts set
    * on one node; here one filtered count-distinct (the filter prunes to at
    * most |required| distinct values regardless of data size).
    */
  def distinctContainsSet(df: DataFrame, field: String, required: Seq[Any]): Boolean =
    df.where(col(field).isin(required: _*))
      .agg(count_distinct(col(field)).as("present"))
      .head().getLong(0) == required.distinct.size

  /** distinctEqual (:670-678): the distinct values of `field` equal
    * `expected` exactly — nothing missing, nothing extra (NULL counts as an
    * extra value). One aggregate pass.
    */
  def distinctEqual(df: DataFrame, field: String, expected: Seq[Any]): Boolean = {
    val outside = coalesce(!col(field).isin(expected: _*), lit(true)) // null → outside
    val row = df.agg(
      count_distinct(col(field)).as("nd"),
      count_if(outside).as("extra")).head()
    row.getLong(0) == expected.distinct.size && row.getLong(1) == 0
  }

  /** MODE per group with a canonical tiebreak (highest count, then smallest
    * value) — the substrate of mostCommonValueInSet
    * (ValidationBuilder.scala:900-913). The reference uses Spark's MODE()
    * whose tie behavior is undefined; the explicit tiebreak keeps
    * engine/oracle parity. Cost: one hash-agg over (keys, field) then a
    * window over #distinct-combinations rows (not data rows).
    */
  def mostCommonValue(df: DataFrame, keys: Seq[String], field: String): DataFrame = {
    val counted = df.groupBy((keys :+ field).map(col): _*).agg(count(lit(1)).as("__n"))
    if (keys.isEmpty)
      counted.orderBy(col("__n").desc, col(field)).limit(1)
        .select(col(field).as("mode_value"))
    else {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__n").desc, col(field))
      counted.withColumn("__r", row_number().over(w)).where(col("__r") === 1)
        .select(keys.map(col) :+ col(field).as("mode_value"): _*)
    }
  }

  /** mostCommonValueInSet (:900-913): whole-dataset mode ∈ allowed. */
  def mostCommonValueInSet(df: DataFrame, field: String, allowed: Seq[Any]): Boolean = {
    val m = mostCommonValue(df, Nil, field).collect()
    m.nonEmpty && allowed.contains(m.head.get(0))
  }

  /** uniqueValuesProportionBetween (:923-932). Exact by default; set
    * approx=true for `approx_count_distinct` (HLL) at 10^12-row scale where
    * the exact distinct shuffle is the bottleneck.
    */
  def uniqueValuesProportion(df: DataFrame, field: String, approx: Boolean = false): Double = {
    val d = if (approx) approx_count_distinct(col(field)) else count_distinct(col(field))
    val row = df.agg(d.cast("double").as("d"), count(lit(1)).cast("double").as("n")).head()
    if (row.getDouble(1) == 0) 0.0 else row.getDouble(0) / row.getDouble(1)
  }

  /** quantileValuesBetween (:944-975): percentile per quantile in one agg.
    * `approx` uses percentile_approx (t-digest) — the scale path.
    */
  def quantiles(df: DataFrame, field: String, qs: Seq[Double], approx: Boolean = false): Seq[Double] = {
    val aggs = qs.map { q =>
      if (approx) percentile_approx(col(field), lit(q), lit(10000)).cast("double").as(s"q$q")
      else expr(s"percentile($field, $q)").cast("double").as(s"q$q")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    qs.indices.map(row.getDouble)
  }

  /** isIncreasing/isDecreasing (:818-844). The reference orders by
    * MONOTONICALLY_INCREASING_ID() over an unpartitioned window — a
    * single-partition shuffle of the whole dataset (SURVEY §4 anti-pattern).
    * Here the window is ALWAYS distributed:
    *  - with partition keys: one window per group, the natural case;
    *  - with NO partition keys (the reference's global check): the frame is
    *    `repartitionByRange`d on the ordering key into `buckets` ranges
    *    (Spark's range partitioner — a sampling pass, works for ANY
    *    orderable type incl. strings, which a numeric-cast bucketing would
    *    silently null out), the lag window runs per range, and the
    *    range-boundary pairs are checked via a `buckets`-row aggregate
    *    joined back — no single-partition sort of row data ever happens.
    */
  def monotonicityViolations(
      df: DataFrame,
      field: String,
      orderBy: String,
      partitionBy: Seq[String],
      increasing: Boolean = true,
      strictly: Boolean = false,
      buckets: Int = 256): DataFrame = {
    val prev = col("__prev")
    val ok =
      (increasing, strictly) match {
        case (true, true) => col(field) > prev
        case (true, false) => col(field) >= prev
        case (false, true) => col(field) < prev
        case (false, false) => col(field) <= prev
      }
    if (partitionBy.nonEmpty) {
      val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(col(orderBy))
      // window expr must be projected before the filter (not legal in WHERE)
      df.withColumn("__prev", lag(col(field), 1).over(w))
        .where(prev.isNotNull && !ok)
        .drop("__prev")
    } else {
      // an all-null ordering column has no order to violate: report nothing
      // (deterministically), never arbitrary-order adjacent comparisons
      if (df.where(col(orderBy).isNotNull).isEmpty) return df.limit(0)
      // range-partition on the ordering key: partition i holds only keys <=
      // every key in partition i+1 (equal keys never straddle), so the
      // partition id IS a global-order-respecting bucket — for strings,
      // dates, numerics alike. The former width_bucket(cast-to-double)
      // bucketing silently cast strings to null and returned zero
      // violations; range partitioning has no such type hole.
      // Materialize ONCE (eager localCheckpoint): the frame feeds two plan
      // branches (per-bucket lag + per-bucket lasts), and range bounds come
      // from a sampling pass — two independent exchanges could sample
      // DIFFERENT bounds (exchange reuse usually dedups them, but that is
      // an optimization, not a guarantee), making __bkt mean different
      // ranges per branch. Checkpointed blocks free with the frame.
      val bucketed = df.repartitionByRange(buckets, col(orderBy))
        .withColumn("__bkt", spark_partition_id())
        .localCheckpoint(true)
      val w = Window.partitionBy(col("__bkt")).orderBy(col(orderBy))
      // __first marks the bucket's PHYSICALLY first row — lag of a literal
      // is null only when there is no previous row. lag(field) is null BOTH
      // at the first row and when the previous row's FIELD is null, so
      // using it as the boundary marker misclassified null-predecessor rows
      // as bucket starts and compared them against the previous bucket
      val intra = bucketed
        .withColumn("__prev", lag(col(field), 1).over(w))
        .withColumn("__first", lag(lit(1), 1).over(w).isNull)
      // in global order, the row preceding bucket b's first row is the last
      // row (max ordering key) of the previous NON-EMPTY bucket. Compute the
      // per-bucket last value (hash-agg, `buckets` rows total), then carry it
      // forward across empty buckets with a running `last` over that tiny
      // frame — the constant-partition window is explicitly bounded by
      // `buckets`, never row data.
      val lasts = bucketed.groupBy(col("__bkt"))
        .agg(max_by(col(field), col(orderBy)).as("__last"))
      val wTiny = Window.partitionBy(lit(0)).orderBy(col("__bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val prevOfBucket = lasts
        .withColumn("__prev", last(col("__last"), ignoreNulls = false).over(wTiny))
        .select(col("__bkt"), col("__prev"))
      val boundary = intra.where(col("__first")).drop("__prev", "__first")
        .join(prevOfBucket, Seq("__bkt"), "left")
        .where(prev.isNotNull && !ok)
        .drop("__prev")
      // null-predecessor rows are SKIPPED (same contract as the partitioned
      // branch), not treated as boundaries
      intra.where(!col("__first") && prev.isNotNull && !ok).drop("__prev", "__first")
        .unionByName(boundary)
        .drop("__bkt")
    }
  }
}
