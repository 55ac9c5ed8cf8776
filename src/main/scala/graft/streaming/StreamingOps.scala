package graft.streaming

import graft.pipeline.{FilterConfig, QualityFilter}
import graft.rules.RuleEngine
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference has NO real streaming — its
  * "streaming" is rate-controlled batch delivery (SURVEY §2.8) — so this
  * module is the Spark-first upgrade: the batch quality filter
  * ([[QualityFilter.runDF]]) runs unchanged on `readStream` sources because
  * it is a stateless projection; watermarked windowed aggregation and
  * `flatMapGroupsWithState` cover the stateful shapes the reference's
  * duration/rate execution strategies approximate.
  */
object StreamingOps {

  /** The COMPLETE quality-filter stage on a streaming frame with the
    * input_hint schema: the batch [[QualityFilter.runDF]] itself (score →
    * annotate → scrub kept captions), so stream and batch share one plan
    * and cannot drift apart rule-for-rule.
    */
  def filterStream(
      spark: SparkSession,
      stream: DataFrame,
      cfg: FilterConfig = FilterConfig()): DataFrame =
    QualityFilter.runDF(spark, stream, cfg)

  /** Windowed drop-reason counts with a watermark — streaming analog of the
    * per-partition metrics table (FIXTURES F4): one metrics row per
    * (window, reason).
    */
  def windowedDropCounts(
      annotated: DataFrame,
      tsCol: String,
      windowDuration: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    annotated
      .withWatermark(tsCol, watermark)
      .groupBy(
        window(col(tsCol), windowDuration),
        coalesce(col(RuleEngine.DropReasonCol), lit("__kept__")).as("reason"))
      .agg(count(lit(1)).as("n"))

  /** Checkpointed, idempotent streaming sink: each micro-batch overwrites
    * its own `batch=<id>` directory via foreachBatch while source offsets
    * commit to the Spark checkpoint — kill the query at any point and a
    * restart from the same checkpoint resumes at the last uncommitted batch,
    * re-overwriting at most one directory (exactly-once output; the
    * streaming twin of [[graft.pipeline.ResumableRunner]]'s
    * write-audit-publish manifest).
    */
  def checkpointedParquetSink(
      stream: DataFrame,
      outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionSummary(user_id: Long, n_events: Long, closed: Boolean)

  /** Custom per-key state via flatMapGroupsWithState: counts events per user
    * session, emitting a summary when the session times out (the
    * KeyValueGroupedDataset stateful path of the north brief).
    */
  def sessionCounts(
      spark: SparkSession,
      events: Dataset[SessionEvent],
      timeout: String = "30 minutes"): Dataset[SessionSummary] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (user, it, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.getOption.getOrElse(0L)
            state.remove()
            Iterator.single(SessionSummary(user, n, closed = true))
          } else {
            val n = state.getOption.getOrElse(0L) + it.size
            state.update(n)
            state.setTimeoutDuration(timeout)
            Iterator.empty
          }
      }
  }
}
