package graft.pipeline

import graft.SparkSuite
import graft.corpus.SyntheticImages
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ResumableRunnerSpec extends SparkSuite {

  private def cachedFrames: Int = spark.sparkContext.getPersistentRDDs.size

  test("crash between buckets → resume completes without duplicates or loss") {
    val out = Files.createTempDirectory("graft_resume").toString
    val corpus = SyntheticImages.generate(spark, 1500L, seed = 7L, partitions = 6)
    val runner = new ResumableRunner(spark, out, numBuckets = 4)
    val cached = cachedFrames

    // simulated crash after 2 of 4 buckets
    assert(runner.run(corpus, "run1", failAfter = 2) == 2)
    assert(runner.completedBuckets.size == 2)

    // resume with a fresh runner (new process in real life)
    val resumed = new ResumableRunner(spark, out, numBuckets = 4)
    assert(resumed.run(corpus, "run1") == 2)
    assert(resumed.completedBuckets == Set(0, 1, 2, 3))
    assert(cachedFrames == cached, "the per-bucket path left a cached frame behind")

    val output = resumed.readOutput()
    assert(output.count() == 1500L)
    assert(output.select("image_id").distinct().count() == 1500L)

    // re-run on completed manifest is a no-op (idempotence)
    assert(resumed.run(corpus, "run1") == 0)

    // metrics: one+ row per partition per bucket, totals add up
    val metrics = resumed.readMetrics()
    val (rowsIn, rowsOut) = Metrics.summary(metrics)
    assert(rowsIn == 1500L)
    assert(rowsOut == output.where(col("keep")).count())
    assert(metrics.select("bucket").distinct().count() == 4)
  }

  test("fresh run is a single scan (bounded job count), equivalent to per-bucket output") {
    val corpus = SyntheticImages.generate(spark, 1500L, seed = 7L, partitions = 6)
    val buckets = 8 // per-bucket path would launch >= 2 jobs per bucket (16+)

    val freshOut = Files.createTempDirectory("graft_fresh").toString
    val cached = cachedFrames
    spark.sparkContext.setJobGroup("graft_fresh_run", "fresh path")
    val runner = new ResumableRunner(spark, freshOut, numBuckets = buckets)
    assert(runner.run(corpus, "runF") == buckets)
    spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("graft_fresh_run")
    info(s"fresh-path jobs: ${jobs.length}")
    // one job writes the data and counts the metrics, one writes the metrics
    assert(jobs.length <= 2, s"fresh path ran ${jobs.length} jobs — not single-scan")
    assert(cachedFrames == cached, "the fresh path left a cached frame behind")
    assert(runner.completedBuckets == (0 until buckets).toSet)
    assert(runner.run(corpus, "runF") == 0) // idempotent no-op

    // equivalence with the per-bucket (resume) path on the same input
    val bucketOut = Files.createTempDirectory("graft_bucketed").toString
    val r2 = new ResumableRunner(spark, bucketOut, numBuckets = buckets)
    r2.run(corpus, "runB", failAfter = buckets - 1) // force per-bucket path
    r2.run(corpus, "runB")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("image_id", "bucket", "keep", "drop_reason", "scrubbed_caption")
      .collect().map(_.toString).sorted
    assert(key(runner.readOutput()).sameElements(key(r2.readOutput())))
    val (in1, out1) = Metrics.summary(runner.readMetrics())
    val (in2, out2) = Metrics.summary(r2.readMetrics())
    assert(in1 == 1500L && in1 == in2 && out1 == out2)
  }

  test("resume path partition-prunes: each bucket reads only its own staged files") {
    val out = Files.createTempDirectory("graft_prune").toString
    val corpus = SyntheticImages.generate(spark, 800L, seed = 3L, partitions = 4)
    val runner = new ResumableRunner(spark, out, numBuckets = 4)
    // crash after 1 bucket: staging is laid out partitionBy(bucket)
    assert(runner.run(corpus, "runP", failAfter = 1) == 1)
    val staging = s"$out/_resume_staging"
    // physical proof the per-bucket read is pruned: exactly ONE of the four
    // bucket directories survives planning (the raw-input shape re-scanned
    // everything per bucket — O(remaining × full input) after a crash)
    val scanned = runner.bucketSlice(staging, 2).toDF()
      .queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(scanned.nonEmpty && scanned.forall(_ == 1), scanned.toString)
    // resume completes from the staged layout, and cleans it up
    assert(new ResumableRunner(spark, out, numBuckets = 4).run(corpus, "runP") == 3)
    assert(spark.read.parquet(s"$out/data").select("image_id").distinct().count() == 800L)
    assert(!Files.exists(java.nio.file.Paths.get(staging)))
  }

  test("bucketSlice survives a row-empty staging dir (explicit schema, no inference)") {
    // when every remaining bucket holds zero rows (small inputs), staging
    // is just _SUCCESS — schema INFERENCE threw UNABLE_TO_INFER_SCHEMA on
    // every resume, an unrecoverable loop; the explicit-schema read must
    // return an empty slice instead
    val out = Files.createTempDirectory("graft_empty_stage").toString
    val runner = new ResumableRunner(spark, out, numBuckets = 4)
    val staging = java.nio.file.Paths.get(out, "_resume_staging")
    Files.createDirectories(staging)
    Files.createFile(staging.resolve("_SUCCESS"))
    assert(runner.bucketSlice(staging.toString, 2).isEmpty)
  }

  test("partition metrics agree with direct counts") {
    val corpus = SyntheticImages.generate(spark, 2000L, seed = 11L, partitions = 5)
    val annotated = QualityFilter.run(spark, corpus).cache()
    val m = Metrics.partitionMetrics(annotated, "test_run")
    val (rowsIn, rowsOut) = Metrics.summary(m)
    assert(rowsIn == 2000L)
    assert(rowsOut == annotated.where(col("keep")).count())
    // drop_reasons maps sum to total drops
    val dropTotal = m.select(explode(col("drop_reasons")))
      .agg(sum("value")).head().getLong(0)
    assert(dropTotal == 2000L - rowsOut)
    annotated.unpersist()
  }

  /** Metrics rows keyed by (bucket, partition_id), `finished_at` left out. */
  private def byKey(metrics: DataFrame, bucket: Option[Int]): Map[(Int, Int), Seq[Any]] = {
    val cols = Seq("partition_id", "rows_in", "rows_out", "drop_reasons", "scrub_counts", "run_id")
    val withBucket = bucket.fold(metrics)(b => metrics.withColumn("bucket", lit(b)))
    withBucket.select((col("bucket") +: cols.map(col)): _*).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.toSeq.drop(1)).toMap
  }
  private def columnTypes(df: DataFrame): Set[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSet

  test("committed metrics equal partitionMetrics over the same annotated frame (fresh and resume)") {
    val corpus = SyntheticImages.generate(spark, 2000L, seed = 13L, partitions = 5)
    assert(!corpus.where(col("caption").isNull).isEmpty)
    val buckets = 4

    // the default rules, and a caption-length floor that drops every row
    // (rows_out 0, every scrub category counted 0)
    Seq(FilterConfig(), FilterConfig(minCaptionLen = 100000)).foreach { cfg =>
      val freshOut = Files.createTempDirectory("graft_metrics_fresh").toString
      val fresh = new ResumableRunner(spark, freshOut, numBuckets = buckets, cfg)
      fresh.run(corpus, "runM")
      val annotated = QualityFilter.runDF(spark, corpus.toDF().withColumn(
        "bucket", pmod(xxhash64(col("image_id")), lit(buckets)).cast("int")), cfg)
      val expected = Metrics.partitionMetrics(annotated, "runM", extraKeys = Seq("bucket"))
      val got = fresh.readMetrics()
      assert(columnTypes(got) == columnTypes(expected))
      // the explicit read schemas agree with what inference gives
      assert(columnTypes(got) == columnTypes(spark.read.parquet(s"$freshOut/metrics")))
      assert(columnTypes(fresh.readOutput()) == columnTypes(spark.read.parquet(s"$freshOut/data")))
      val gotRows = byKey(got, None)
      assert(gotRows == byKey(expected, None))
      // partition_id is the compute task's: every bucket spans several
      assert(gotRows.keys.groupBy(_._1).values.forall(_.size > 1), gotRows.keys)
      assert(got.where(map_keys(col("drop_reasons")) =!= array_sort(map_keys(col("drop_reasons"))))
        .isEmpty, "drop_reasons not sorted by name")
    }

    // resume path: buckets 0 and 1 committed one at a time; the staged
    // slices they were computed from are still there after the crash
    val resumeOut = Files.createTempDirectory("graft_metrics_resume").toString
    val resumed = new ResumableRunner(spark, resumeOut, numBuckets = buckets)
    assert(resumed.run(corpus, "runR", failAfter = 2) == 2)
    (0 until 2).foreach { b =>
      val slice = QualityFilter.run(spark, resumed.bucketSlice(s"$resumeOut/_resume_staging", b))
      val exp = byKey(Metrics.partitionMetrics(slice, "runR"), Some(b))
      val rows = byKey(spark.read.parquet(s"$resumeOut/metrics/bucket=$b"), Some(b))
      assert(rows == exp, s"bucket $b")
      assert(rows.size > 1, s"bucket $b: one partition_id")
    }
  }

  test("an empty input commits an empty output, no metrics rows and a zero summary") {
    val out = Files.createTempDirectory("graft_empty_run").toString
    val runner = new ResumableRunner(spark, out, numBuckets = 4)
    assert(runner.run(SyntheticImages.generate(spark, 0L, partitions = 2), "runE") == 4)
    assert(runner.completedBuckets == (0 until 4).toSet)
    assert(runner.readOutput().isEmpty)
    assert(runner.readMetrics().isEmpty)
    assert(Metrics.summary(runner.readMetrics()) == ((0L, 0L)))
    val s = RunReport.write(runner.readMetrics(), "runE", out)
    assert(s.rowsIn == 0L && s.rowsOut == 0L && s.partitions == 0L && s.dropReasons.isEmpty)
  }
}
