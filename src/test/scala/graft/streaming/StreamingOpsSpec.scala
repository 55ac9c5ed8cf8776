package graft.streaming

import graft.SparkSuite
import graft.corpus.ImageRow
import graft.pipeline.{Oracle, QualityFilter}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingOpsSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  private def img(id: String, caption: String, w: Int = 100, h: Int = 100) =
    ImageRow(id, Array[Byte](1, 2), w, h, "png", caption, 0L)

  test("quality rules run unchanged on a stream (stateless projection)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ImageRow]
    val filtered = StreamingOps.filterStream(spark, mem.toDF())
    val q = filtered.writeStream.format("memory").queryName("ann").outputMode("append").start()
    val rows = Seq(
      img("a", "a clear photo of a cat on the table"),
      img("b", null),
      img("c", "ok ok ok ok ok ok ok ok ok ok ok ok"))
    mem.addData(rows)
    q.processAllAvailable()
    val out = spark.table("ann").select("image_id", "drop_reason", "scrub_counts")
      .collect().map(r => r.getString(0) -> r).toMap
    q.stop()
    rows.foreach { r =>
      val exp = Oracle.label(r)
      assert(out(r.image_id).getString(1) == exp.drop_reason, r.image_id)
      // the batch stage's scrub counts ride along: present exactly on kept rows
      assert(out(r.image_id).isNullAt(2) != exp.keep, r.image_id)
    }
    assert(out("b").getString(1) == "caption_missing")
    assert(out("c").getString(1) == "caption_repetitive")
  }

  test("full quality filter on a stream matches the batch pipeline row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.corpus.SyntheticImages.generate(spark, 300L, seed = 17L, partitions = 3)
      .collect()
    val mem = MemoryStream[graft.corpus.ImageRow]
    val out = StreamingOps.filterStream(spark, mem.toDF())
    val q = out.writeStream.format("memory").queryName("fullq").outputMode("append").start()
    mem.addData(corpus.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("fullq")
      .select("image_id", "keep", "drop_reason", "scrubbed_caption")
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2), r.getString(3)))).toMap
    q.stop()
    val batch = QualityFilter.runDF(spark,
        graft.corpus.SyntheticImages.generate(spark, 300L, seed = 17L, partitions = 3).toDF())
      .select("image_id", "keep", "drop_reason", "scrubbed_caption")
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2), r.getString(3)))).toMap
    assert(streamed.size == 300 && batch.size == 300)
    streamed.foreach { case (id, v) => assert(batch(id) == v, s"stream/batch mismatch for $id") }
    assert(streamed.values.exists(_._1) && streamed.values.exists(!_._1)) // both classes hit
  }

  test("checkpointed sink: restart resumes from committed offsets, exactly-once output") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    val rows = (1 to 150).map(i => img(s"id$i", s"a valid caption with plenty of words number $i"))
    val mem = MemoryStream[ImageRow]
    val filtered = StreamingOps.filterStream(spark, mem.toDF())
    val q1 = StreamingOps.checkpointedParquetSink(filtered, out, ckpt)
    mem.addData(rows.take(100))
    q1.processAllAvailable()
    q1.stop() // simulated shutdown
    mem.addData(rows.drop(100))
    // restart with the SAME checkpoint: only the new offsets process
    val q2 = StreamingOps.checkpointedParquetSink(filtered, out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    val written = spark.read.parquet(out).select("image_id", "keep")
      .collect().map(r => r.getString(0) -> r.getBoolean(1))
    assert(written.length == 150, s"expected exactly-once 150 rows, got ${written.length}")
    assert(written.map(_._1).distinct.length == 150)
    val expected = rows.map(r => r.image_id -> Oracle.label(r).keep).toMap
    written.foreach { case (id, keep) => assert(keep == expected(id), s"keep mismatch for $id") }
  }

  test("watermarked windowed drop counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(ImageRow, java.sql.Timestamp)]
    val filtered = StreamingOps.filterStream(spark,
      mem.toDF().select(col("_1.*"), col("_2").as("ts")))
    val counts = StreamingOps.windowedDropCounts(filtered, "ts")
    val q = counts.writeStream.format("memory").queryName("wc").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:10")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:30")
    val late = java.sql.Timestamp.valueOf("2026-01-01 00:10:00") // advances watermark, closes window
    val firstWindow = Seq(img("x", "a good photo of a cat on a table"), img("y", null))
    mem.addData((firstWindow(0), t0), (firstWindow(1), t1))
    q.processAllAvailable()
    mem.addData((img("z", "advance the watermark far beyond the first window"), late))
    q.processAllAvailable()
    mem.addData((img("w", "and once more to emit finalized windows"),
      java.sql.Timestamp.valueOf("2026-01-01 00:20:00")))
    q.processAllAvailable()
    val rows = spark.table("wc")
      .where(col("window.start") === java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      .select("reason", "n").as[(String, Long)].collect().toMap
    q.stop()
    val expected = firstWindow.map(r => Option(Oracle.label(r).drop_reason).getOrElse("__kept__"))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(rows == expected)
    assert(rows.get("caption_missing").contains(1L))
  }
}
