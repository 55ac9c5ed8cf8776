package graft.pipeline

import graft.SparkSuite
import graft.corpus.{ImageRow, SyntheticImages}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class ResumableRunnerSpec extends SparkSuite {

  private def cachedFrames: Int = spark.sparkContext.getPersistentRDDs.size

  /** The state a crash leaves between committing `keep` and the rest: the
    * manifest lists only `keep`, whatever the directories hold. */
  private def cutManifest(out: String, keep: Seq[Int]): Unit =
    Files.write(Paths.get(out, "_manifest"), keep.map(b => s"$b\n").mkString.getBytes)

  /** Whole-run (rows_in, rows_out) of a metrics table, as the run report
    * sums it. */
  private def totals(metrics: DataFrame): (Long, Long) = {
    val s = RunReport.summarize(metrics, "totals")
    (s.rowsIn, s.rowsOut)
  }

  private def withBucket(corpus: DataFrame, buckets: Int): DataFrame =
    corpus.withColumn("bucket", pmod(xxhash64(col("image_id")), lit(buckets)).cast("int"))

  test("crash between buckets → resume completes without duplicates or loss") {
    val out = Files.createTempDirectory("graft_resume").toString
    val corpus = SyntheticImages.generate(spark, 1500L, seed = 7L, partitions = 6)
    val cached = cachedFrames
    assert(new ResumableRunner(spark, out, numBuckets = 4).run(corpus, "run0") == 4)

    // simulated crash after 2 of 4 buckets: the manifest lists 0 and 1, and
    // bucket 2's data directory holds a stray file from the failed write
    cutManifest(out, Seq(0, 1))
    val stray = Files.list(Paths.get(out, "data", "bucket=0")).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(stray, Paths.get(out, "data", "bucket=2", "part-stray.parquet"))

    // resume with a fresh runner (new process in real life)
    val resumed = new ResumableRunner(spark, out, numBuckets = 4)
    assert(resumed.run(corpus, "run1") == 2)
    assert(resumed.completedBuckets == Set(0, 1, 2, 3))
    assert(cachedFrames == cached, "the run left a cached frame behind")

    val output = resumed.readOutput()
    assert(output.count() == 1500L)
    assert(output.select("image_id").distinct().count() == 1500L)

    // re-run on completed manifest is a no-op (idempotence)
    assert(resumed.run(corpus, "run1") == 0)

    // metrics: one+ row per partition per bucket, totals add up
    val metrics = resumed.readMetrics()
    val (rowsIn, rowsOut) = totals(metrics)
    assert(rowsIn == 1500L)
    assert(rowsOut == output.where(col("keep")).count())
    assert(metrics.select("bucket").distinct().count() == 4)
  }

  test("fresh run is a single scan (bounded job count), equivalent to per-bucket output") {
    val corpus = SyntheticImages.generate(spark, 1500L, seed = 7L, partitions = 6)
    val buckets = 8 // a bucket at a time would launch >= 2 jobs per bucket (16+)

    val freshOut = Files.createTempDirectory("graft_fresh").toString
    val cached = cachedFrames
    val runner = new ResumableRunner(spark, freshOut, numBuckets = buckets)
    val (processed, jobs) = withJobCount("graft_fresh_run")(runner.run(corpus, "runF"))
    assert(processed == buckets)
    info(s"fresh-run jobs: $jobs")
    // one job writes the data and counts the metrics, one writes the metrics
    assert(jobs == 2, s"fresh run ran $jobs jobs — not single-scan")
    assert(cachedFrames == cached, "the fresh run left a cached frame behind")
    assert(runner.completedBuckets == (0 until buckets).toSet)
    assert(runner.run(corpus, "runF") == 0) // idempotent no-op

    // a resume after a crash that committed 3 of 8 buckets: the other five
    // buckets' directories are gone, so the resume alone must write them
    val resumeOut = Files.createTempDirectory("graft_resumed").toString
    new ResumableRunner(spark, resumeOut, numBuckets = buckets).run(corpus, "runB")
    cutManifest(resumeOut, 0 until 3)
    for (table <- Seq("data", "metrics"); b <- 3 until buckets)
      graft.util.Fs.deleteRecursively(Paths.get(resumeOut, table, s"bucket=$b"))
    val r2 = new ResumableRunner(spark, resumeOut, numBuckets = buckets)
    val (resumedBuckets, resumeJobs) = withJobCount("graft_resume_run")(r2.run(corpus, "runB"))
    assert(resumedBuckets == buckets - 3)
    info(s"resume jobs: $resumeJobs")
    assert(resumeJobs <= 2, s"resume ran $resumeJobs jobs — not single-scan")
    assert(cachedFrames == cached, "the resume left a cached frame behind")

    def key(df: DataFrame) = df
      .select("image_id", "bucket", "keep", "drop_reason", "scrubbed_caption")
      .collect().map(_.toString).sorted
    assert(key(runner.readOutput()).sameElements(key(r2.readOutput())))
    val (in1, out1) = totals(runner.readMetrics())
    val (in2, out2) = totals(r2.readMetrics())
    assert(in1 == 1500L && in1 == in2 && out1 == out2)
  }

  test("a resume whose remaining buckets hold no rows commits them, output still readable") {
    // 5 rows over 16 buckets: most buckets are row-empty; the crash
    // committed exactly the buckets that hold rows
    val out = Files.createTempDirectory("graft_empty_resume").toString
    val corpus = SyntheticImages.generate(spark, 5L, seed = 3L, partitions = 2)
    val buckets = 16
    assert(new ResumableRunner(spark, out, numBuckets = buckets).run(corpus, "run0") == buckets)
    val filled = withBucket(corpus.toDF(), buckets).select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    assert(filled.size < buckets)
    cutManifest(out, filled)

    val resumed = new ResumableRunner(spark, out, numBuckets = buckets)
    assert(resumed.run(corpus, "run1") == buckets - filled.size)
    assert(resumed.completedBuckets == (0 until buckets).toSet)
    // the empty write replaced no bucket: the committed rows are all there
    val output = resumed.readOutput()
    assert(output.count() == 5L)
    assert(totals(resumed.readMetrics()) == ((5L, output.where(col("keep")).count())))
    assert(resumed.readMetrics().where(col("run_id") =!= "run0").isEmpty)
  }

  /** Column path → the encodings of each of its chunks, over every parquet
    * file under `dir`, read from the footers. */
  private def chunkEncodings(dir: String): Map[String, Seq[Set[Encoding]]] = {
    val files = Files.walk(Paths.get(dir))
    val parquet = try files.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally files.close()
    parquet.flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new HPath(f.toUri), spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .map(c => c.getPath.toDotString -> c.getEncodings.asScala.toSet).toList
      finally reader.close()
    }.groupMap(_._1)(_._2)
  }

  /** Rows sorted by `image_id`, binary values as byte sequences and doubles
    * as strings (NaN equals NaN). */
  private def rowValues(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case d: Double => d.toString
      case v => v
    }).sortBy(_(df.schema.fieldIndex("image_id")).toString)

  test("the commit writes QualityFilter.plainColumns without a dictionary, the output unchanged") {
    // every row twice, side by side in its partition: within a chunk each
    // value repeats, so a writer that tried a dictionary would keep it
    val corpus = SyntheticImages.generate(spark, 1500L, seed = 7L, partitions = 6).toDF()
      .withColumn("copy", explode(array(lit(0), lit(1)))).drop("copy")
      .as(Encoders.product[ImageRow])
    val out = Files.createTempDirectory("graft_encodings").toString
    val runner = new ResumableRunner(spark, out, numBuckets = 4)
    assert(runner.run(corpus, "runD") == 4)

    val chunks = chunkEncodings(s"$out/data")
    QualityFilter.plainColumns.foreach { c =>
      assert(chunks(c).nonEmpty && chunks(c).forall(!_.exists(_.usesDictionary)),
        s"$c: ${chunks(c).distinct}")
    }
    Seq("fmt", "lang", "drop_reason").foreach { c =>
      assert(chunks(c).nonEmpty && chunks(c).forall(_.exists(_.usesDictionary)),
        s"$c: ${chunks(c).distinct}")
    }

    val defaultOut = Files.createTempDirectory("graft_default_encodings").toString
    QualityFilter.runDF(spark, withBucket(corpus.toDF(), 4), FilterConfig())
      .write.mode("overwrite").partitionBy("bucket").parquet(defaultOut)
    val defaults = spark.read.schema(runner.readOutput().schema).parquet(defaultOut)
    assert(rowValues(runner.readOutput()) == rowValues(defaults))
  }

  /** Every file under `root` with its bytes, and every directory. */
  private def snapshot(root: Path): Map[String, Seq[Byte]] = {
    val files = Files.walk(root)
    try files.iterator().asScala.map { p =>
      root.relativize(p).toString -> (if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil)
    }.toMap
    finally files.close()
  }

  test("a run with another bucket count is rejected before it writes anything") {
    val out = Files.createTempDirectory("graft_layout").toString
    val corpus = SyntheticImages.generate(spark, 1000L, seed = 5L, partitions = 4)
    assert(new ResumableRunner(spark, out, numBuckets = 4).run(corpus, "run4") == 4)
    val before = snapshot(Paths.get(out))
    Seq(8, 2).foreach { n =>
      val e = intercept[IllegalArgumentException](new ResumableRunner(spark, out, n).run(corpus, s"run$n"))
      assert(e.getMessage.contains("holds 4 buckets") && e.getMessage.contains(s"asks for $n"), e.getMessage)
      assert(snapshot(Paths.get(out)) == before, s"the rejected $n-bucket run changed the output")
    }
    assert(new ResumableRunner(spark, out, numBuckets = 4).readOutput()
      .select("image_id").distinct().count() == 1000L)

    // a bucket count that is not positive is rejected when the runner is built
    val fresh = Paths.get(out, "other")
    Seq(0, -4).foreach { n =>
      intercept[IllegalArgumentException](new ResumableRunner(spark, fresh.toString, n))
    }
    assert(!Files.exists(fresh))
  }

  test("partition metrics agree with direct counts") {
    val corpus = SyntheticImages.generate(spark, 2000L, seed = 11L, partitions = 5)
    val annotated = QualityFilter.run(spark, corpus).cache()
    val m = Metrics.partitionMetrics(annotated, "test_run")
    val (rowsIn, rowsOut) = totals(m)
    assert(rowsIn == 2000L)
    assert(rowsOut == annotated.where(col("keep")).count())
    // drop_reasons maps sum to total drops
    val dropTotal = m.select(explode(col("drop_reasons")))
      .agg(sum("value")).head().getLong(0)
    assert(dropTotal == 2000L - rowsOut)
    annotated.unpersist()
  }

  /** Metrics rows keyed by (bucket, partition_id), `finished_at` left out. */
  private def byKey(metrics: DataFrame): Map[(Int, Int), Seq[Any]] = {
    val cols = Seq("partition_id", "rows_in", "rows_out", "drop_reasons", "scrub_counts", "run_id")
    metrics.select((col("bucket") +: cols.map(col)): _*).collect()
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
      val annotated = QualityFilter.runDF(spark, withBucket(corpus.toDF(), buckets), cfg)
      val expected = Metrics.partitionMetrics(annotated, "runM", extraKeys = Seq("bucket"))
      val got = fresh.readMetrics()
      assert(columnTypes(got) == columnTypes(expected))
      // the explicit read schemas agree with what inference gives
      assert(columnTypes(got) == columnTypes(spark.read.parquet(s"$freshOut/metrics")))
      assert(columnTypes(fresh.readOutput()) == columnTypes(spark.read.parquet(s"$freshOut/data")))
      val gotRows = byKey(got)
      assert(gotRows == byKey(expected))
      // partition_id is the compute task's: every bucket spans several
      assert(gotRows.keys.groupBy(_._1).values.forall(_.size > 1), gotRows.keys)
      assert(got.where(map_keys(col("drop_reasons")) =!= array_sort(map_keys(col("drop_reasons"))))
        .isEmpty, "drop_reasons not sorted by name")
    }

    // resume: a crash committed buckets 0 and 1 of a first run; the resume
    // recomputes 2 and 3 and leaves the committed rows as they were
    val resumeOut = Files.createTempDirectory("graft_metrics_resume").toString
    new ResumableRunner(spark, resumeOut, numBuckets = buckets).run(corpus, "runQ")
    val committed = byKey(spark.read.parquet(s"$resumeOut/metrics").where(col("bucket") < 2))
    cutManifest(resumeOut, Seq(0, 1))
    val resumed = new ResumableRunner(spark, resumeOut, numBuckets = buckets)
    assert(resumed.run(corpus, "runR") == 2)
    val rows = byKey(resumed.readMetrics())
    val annotated = QualityFilter.runDF(spark,
      withBucket(corpus.toDF(), buckets).where(col("bucket").isin(2, 3)), FilterConfig())
    val exp = byKey(Metrics.partitionMetrics(annotated, "runR", extraKeys = Seq("bucket")))
    assert(rows.filter(_._1._1 >= 2) == exp)
    assert(rows.filter(_._1._1 < 2) == committed)
    assert(committed.nonEmpty && committed.values.forall(_.last == "runQ"))
    assert(exp.keys.map(_._1).toSet == Set(2, 3))
    assert(exp.keys.groupBy(_._1).values.forall(_.size > 1), "a resumed bucket has one partition_id")
  }

  test("an empty input commits an empty output, no metrics rows and a zero summary") {
    val out = Files.createTempDirectory("graft_empty_run").toString
    val runner = new ResumableRunner(spark, out, numBuckets = 4)
    assert(runner.run(SyntheticImages.generate(spark, 0L, partitions = 2), "runE") == 4)
    assert(runner.completedBuckets == (0 until 4).toSet)
    assert(runner.readOutput().isEmpty)
    assert(runner.readMetrics().isEmpty)
    assert(totals(runner.readMetrics()) == ((0L, 0L)))
    val s = RunReport.write(runner.readMetrics(), "runE", out)
    assert(s.rowsIn == 0L && s.rowsOut == 0L && s.partitions == 0L && s.dropReasons.isEmpty)
  }
}
