package graft.pipeline

import graft.functions.Scrubber
import graft.rules.RuleEngine
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row, SaveMode}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-partition lineage + metrics rows (FIXTURES.md F4; north rule "every
  * partition emits a lineage + metrics row"). The analog of the reference's
  * per-run SinkResult/ValidationResult report rows
  * (`api/.../model/ResultModels.scala`).
  *
  * Two ways to the same table:
  *  - [[writeWithMetrics]], the commit path: the rows are tallied by an
  *    observed aggregate inside the data write itself (one job over the
  *    rows, no cache, no shuffle), then written as a one-task local
  *    relation.
  *  - [[partitionMetrics]], the reference: two hash-aggregations over an
  *    annotated frame, groupBy(partition_id, drop_reason) → counts, then
  *    re-group to one row per partition with a drop_reasons map. Specs check
  *    the commit path against it.
  */
object Metrics {

  /** `extraKeys`: additional lineage dimensions (e.g. the runner's bucket
    * id) carried through both aggregations, so one pass emits per-(bucket,
    * partition) rows instead of one job per bucket.
    */
  def partitionMetrics(annotated: DataFrame, runId: String, extraKeys: Seq[String] = Nil): DataFrame = {
    val withPid = annotated.withColumn("partition_id", spark_partition_id())
    val keys = extraKeys.map(col) :+ col("partition_id")
    val scrubSums = Scrubber.allPatterns.map { case (name, _, _) =>
      sum(coalesce(element_at(col("scrub_counts"), name), lit(0))).cast("long").as(s"sc_$name")
    }
    val perReason = withPid
      .groupBy(keys :+ coalesce(col(RuleEngine.DropReasonCol), lit("__kept__")).as("reason"): _*)
      .agg(count(lit(1)).as("n"), scrubSums: _*)
    perReason
      .groupBy(keys: _*)
      .agg(
        sum(col("n")).as("rows_in"),
        sum(when(col("reason") === "__kept__", col("n")).otherwise(lit(0))).as("rows_out"),
        map_from_entries(
          sort_array(collect_list(
            when(col("reason") =!= "__kept__", struct(col("reason"), col("n")))))
        ).as("drop_reasons"),
        map_from_arrays(
          array(Scrubber.allPatterns.map(p => lit(p._1)): _*),
          array(Scrubber.allPatterns.map(p => sum(col(s"sc_${p._1}"))): _*)
        ).as("scrub_counts"))
      .withColumn("run_id", lit(runId))
      .withColumn("finished_at", current_timestamp())
  }

  /** Writes `annotated` (parquet) to `dataDir` and its metrics table, one row
    * per (bucket, partition), to `metricsDir`, the table counted in the data
    * write itself. The frame carries an int `bucket` column; both tables are
    * written `partitionBy("bucket")` with dynamic partition overwrite, so each
    * bucket that has rows in `annotated` replaces its own directory and every
    * other bucket's directory stays as it is.
    *
    * The data write is the only job over the rows. `partition_id` is
    * computed in a projection below the observed aggregate: evaluated inside
    * it, `spark_partition_id()` reads 0 on every task. A failed write throws
    * before the metrics are written. The data write takes
    * [[QualityFilter.writerOptions]].
    *
    * The metrics rows are one local relation written by one task, one file
    * per bucket. Spreading them over the session's tasks read no faster
    * (perfbench `filter` pass_s median 2.36 s one task, 2.45 s k tasks;
    * k tasks faster in 8 of 14 alternating pairs).
    */
  def writeWithMetrics(annotated: DataFrame, runId: String, dataDir: String, metricsDir: String): Unit = {
    val obs = Observation()
    overwriteBuckets(annotated.withColumn("partition_id", spark_partition_id())
      .observe(obs, tally(col("bucket"), col("partition_id"),
        col(RuleEngine.DropReasonCol), col("scrub_counts")).as("tally"))
      .drop("partition_id"), dataDir, QualityFilter.writerOptions)

    val rows = obs.get("tally").asInstanceOf[Seq[Row]].map { t =>
      Row(t.getInt(0), t.getInt(1), t.getLong(2), t.getLong(3),
        ListMap(t.getMap[String, Long](4).toSeq.sortBy(_._1): _*),
        ListMap(Scrubber.categoryNames.toSeq.zip(t.getSeq[Long](5)): _*))
    }
    overwriteBuckets(annotated.sparkSession.createDataFrame(rows.asJava, tallySchema)
      .coalesce(1) // a local relation: one task writes it
      .withColumn("run_id", lit(runId))
      .withColumn("finished_at", current_timestamp()), metricsDir)
  }

  // the writer options, not the session conf: the caller's conf stays as it is
  private def overwriteBuckets(df: DataFrame, dir: String, options: Map[String, String] = Map.empty): Unit =
    df.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic").options(options)
      .partitionBy("bucket").parquet(dir)

  private val tallySchema = StructType(Seq(
    StructField("bucket", IntegerType), StructField("partition_id", IntegerType),
    StructField("rows_in", LongType), StructField("rows_out", LongType),
    StructField("drop_reasons", MapType(StringType, LongType)),
    StructField("scrub_counts", MapType(StringType, LongType))))

  /** The metrics table as read back from the bucket-partitioned root: the
    * partition column `bucket` comes last. */
  private[pipeline] val tableSchema: StructType = StructType(tallySchema.tail ++ Seq(
    StructField("run_id", StringType), StructField("finished_at", TimestampType),
    tallySchema.head))

  /** One (bucket, partition)'s counts; `scrub_counts` in
    * `Scrubber.categoryNames` order. */
  private[pipeline] final case class Tally(bucket: Int, partition_id: Int, rows_in: Long, rows_out: Long,
      drop_reasons: Map[String, Long], scrub_counts: Seq[Long])

  private final class Group extends Serializable {
    var rowsIn, rowsOut = 0L
    val reasons = mutable.HashMap.empty[String, Long]
    val scrubs = new Array[Long](Scrubber.categoryNames.length)

    def add(o: Group): Unit = {
      rowsIn += o.rowsIn
      rowsOut += o.rowsOut
      o.reasons.foreach { case (r, n) => reasons(r) = reasons.getOrElse(r, 0L) + n }
      for (i <- scrubs.indices) scrubs(i) += o.scrubs(i)
    }
  }

  /** The commit tally: input (bucket, partition_id, drop_reason — NULL when
    * kept —, scrub_counts — NULL when dropped), buffer one [[Group]] per
    * (bucket, partition), keyed `bucket << 32 | partition_id`. Its size is
    * the number of groups, never the number of rows.
    */
  private object TallyAgg
      extends Aggregator[(Int, Int, String, Map[String, Int]), mutable.LongMap[Group], Seq[Tally]] {
    def zero: mutable.LongMap[Group] = mutable.LongMap.empty
    def reduce(b: mutable.LongMap[Group], in: (Int, Int, String, Map[String, Int])): mutable.LongMap[Group] = {
      val g = b.getOrElseUpdate(in._1.toLong << 32 | (in._2 & 0xffffffffL), new Group)
      g.rowsIn += 1
      if (in._3 == null) g.rowsOut += 1
      else g.reasons(in._3) = g.reasons.getOrElse(in._3, 0L) + 1
      if (in._4 != null)
        for (i <- g.scrubs.indices) g.scrubs(i) += in._4.getOrElse(Scrubber.categoryNames(i), 0)
      b
    }
    def merge(a: mutable.LongMap[Group], b: mutable.LongMap[Group]): mutable.LongMap[Group] = {
      b.foreach { case (k, g) => a.get(k).fold(a(k) = g)(_.add(g)) }
      a
    }
    def finish(b: mutable.LongMap[Group]): Seq[Tally] = b.toSeq.map { case (k, g) =>
      Tally((k >> 32).toInt, k.toInt, g.rowsIn, g.rowsOut, g.reasons.toMap, g.scrubs.toSeq)
    }
    def bufferEncoder: Encoder[mutable.LongMap[Group]] = Encoders.javaSerialization
    def outputEncoder: Encoder[Seq[Tally]] = ExpressionEncoder[Seq[Tally]]()
  }
  private val tally = udaf(TallyAgg, Encoders.product[(Int, Int, String, Map[String, Int])])
}
