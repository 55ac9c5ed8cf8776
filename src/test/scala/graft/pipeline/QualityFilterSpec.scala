package graft.pipeline

import graft.SparkSuite
import graft.corpus.SyntheticImages
import org.apache.spark.sql.functions._

/** The correctness gate of the north rule: engine output vs the pure-Scala
  * oracle — keep/drop F1 >= 0.99 (we assert exact agreement, which implies
  * it), drop_reason equality, scrubbed-caption EXACT match on surviving
  * rows, and byte-identical image payloads (strictly stronger than the
  * PSNR>=40dB allclose invariant since the pipeline never re-encodes).
  */
class QualityFilterSpec extends SparkSuite {

  private val N = 5000L
  private lazy val corpus = SyntheticImages.generate(spark, N, seed = 42L, partitions = 13)
  private lazy val result = QualityFilter.run(spark, corpus).cache()

  test("engine matches oracle: keep/drop, drop_reason, scrubbed caption (F1 = 1.0)") {
    val got = result
      .select("image_id", "keep", "drop_reason", "scrubbed_caption")
      .collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2), r.getString(3))))
      .toMap
    assert(got.size == N)
    var tp = 0; var fp = 0; var fn = 0
    (0L until N).foreach { i =>
      val row = SyntheticImages.row(i, 42L)
      val exp = Oracle.label(row)
      val (gotKeep, gotReason, gotScrubbed) = got(row.image_id)
      if (exp.keep && gotKeep) tp += 1
      if (!exp.keep && gotKeep) fp += 1
      if (exp.keep && !gotKeep) fn += 1
      assert(gotKeep == exp.keep, s"keep mismatch for ${row.image_id}: caption='${row.caption}'")
      assert(gotReason == exp.drop_reason,
        s"reason mismatch for ${row.image_id}: got=$gotReason exp=${exp.drop_reason} caption='${row.caption}'")
      if (exp.keep)
        assert(gotScrubbed == exp.scrubbed_caption,
          s"scrub mismatch for ${row.image_id}: got='$gotScrubbed' exp='${exp.scrubbed_caption}'")
    }
    val f1 = 2.0 * tp / (2.0 * tp + fp + fn)
    info(s"kept=$tp dropped=${N - tp} f1=$f1")
    assert(f1 >= 0.99)
    // sanity: both classes and several distinct drop reasons exercised
    assert(tp > 0 && fn == 0 && fp == 0)
    // the flagship entry point (2,000 synthesized rows) answers rows, some kept
    val entry = graft.SparkEntry.entry(spark)
    assert(entry.count() > 0 && entry.where(col("keep")).count() > 0)
  }

  test("image bytes pass through untouched on kept rows (PSNR invariant, exactly)") {
    val kept = result.where(col("keep"))
      .select("image_id", "bytes").collect()
    assert(kept.nonEmpty)
    kept.take(500).foreach { r =>
      val i = r.getString(0).drop(3).toLong
      val expected = SyntheticImages.row(i, 42L).bytes
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](1), expected),
        s"bytes changed for ${r.getString(0)}")
    }
  }

  test("drop reasons cover the rule surface") {
    val reasons = result.where(!col("keep"))
      .groupBy("drop_reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    info(reasons.toString)
    // corpus plants all of these failure modes
    Seq("caption_missing", "caption_length", "caption_repetitive", "caption_symbolic",
      "image_dims", "image_fmt").foreach { r =>
      assert(reasons.contains(r), s"no rows dropped by $r")
    }
  }

  test("scrub counts populated for kept rows with planted PII") {
    val withPii = result.where(col("keep") &&
      element_at(col("scrub_counts"), "email") > 0)
    assert(withPii.count() > 0)
    val r = withPii.select("scrubbed_caption").head().getString(0)
    assert(r.contains("[EMAIL]"))
  }

  test("runDF drop reasons match the oracle on newline-run captions") {
    // line-terminator runs count as char runs (a `.`-based regex would skip
    // \n): runDF must fail them on the char-run rule exactly as the oracle does
    import graft.SharedSpark.spark.implicits._
    import graft.corpus.ImageRow
    val rows = Seq(
      ImageRow("n1", Array[Byte](1), 100, 100, "png", "some caption text here\n\n\n\n\n\n\nafter the gap words", 1L),
      ImageRow("n2", Array[Byte](1), 100, 100, "png", "a normal caption with plenty of words to pass checks", 2L),
      ImageRow("n3", Array[Byte](1), 100, 100, "png", "carriage\r\r\r\r\r\r\rreturn run caption with words", 3L),
    )
    val got = QualityFilter.runDF(spark, rows.toDF())
      .select("image_id", "drop_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    rows.foreach(r => assert(got(r.image_id) == Oracle.dropReason(r, FilterConfig()).orNull, r.image_id))
    assert(got("n1") == "caption_char_run" && got("n3") == "caption_char_run")
    assert(got("n2") == null)
  }

  test("runDF plan compiles under Janino (no interpreted fallback on the hot path)") {
    // Round-1 regression: the fused scorer UDF returned a private nested case
    // class whose generated accessor Janino could not compile — every task
    // paid an attempted compile + exception + interpreted eval. This spec
    // force-compiles every WholeStageCodegen subtree and fails loudly.
    val ds = SyntheticImages.generate(spark, 200L, seed = 9L, partitions = 2)
    val df = QualityFilter.runDF(spark, ds.toDF())
    val n = org.apache.spark.sql.execution.CodegenCompileHelper.compileAll(df)
    assert(n > 0, "expected at least one WholeStageCodegen subtree")
  }

  test("parallelism invariance: identical output at different partition counts") {
    val a = QualityFilter.run(spark, SyntheticImages.generate(spark, 1000L, 42L, partitions = 3))
      .select("image_id", "keep", "drop_reason", "scrubbed_caption")
      .collect().map(_.toString).sorted
    val b = QualityFilter.run(spark, SyntheticImages.generate(spark, 1000L, 42L, partitions = 17))
      .select("image_id", "keep", "drop_reason", "scrubbed_caption")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
