package graft
import graft.util.Jsons
import org.apache.spark.sql.functions.col

/** Per-round benchmark main. Driver contract: prints ONE metric-JSON line as
  * the genuinely LAST stdout line (build.sbt forwards forked-run stdout
  * verbatim and suppresses sbt's [success] epilogue), and additionally writes
  * the same line to BENCH_LOCAL.json in the working directory. Query failures
  * are NOT swallowed: they go to stderr and into the JSON's "errors" object —
  * a permanently broken query must never masquerade as a fast time.
  */
object Bench {
  /** Pipeline throughput benchmark — the PRODUCT job, measured the same way
    * as ScalingBench/BASELINE.md: corpus parquet written once (untimed —
    * generation is harness, not product), then timed scan → score → rules →
    * scrub → noop sink with full-column materialization (`count()` would let
    * Catalyst prune the scrub stage) and kept-rows from an Observation on
    * the same pass. Round 1 timed corpus generation through the typed
    * encoder inside the loop, which swamped the filter stage ~10×.
    */
  def pipelineRun(spark: org.apache.spark.sql.SparkSession, n: Long, partitions: Int): (Double, Long) = {
    // cache key carries the generator version + seed + layout: a stale corpus
    // from an older SyntheticImages would otherwise silently feed the numbers
    val corpusPath =
      s"/tmp/graft_bench_corpus_v${corpus.SyntheticImages.Version}_s42_p${partitions}_$n"
    if (!new java.io.File(corpusPath + "/_SUCCESS").exists()) {
      corpus.SyntheticImages.generate(spark, n, seed = 42L, partitions = partitions)
        .write.mode("overwrite").options(pipeline.QualityFilter.writerOptions).parquet(corpusPath)
    }
    val t0 = System.nanoTime()
    val result = pipeline.QualityFilter.runDF(spark, spark.read.parquet(corpusPath))
    val obs = org.apache.spark.sql.Observation()
    result.observe(obs, org.apache.spark.sql.functions.count_if(col(rules.RuleEngine.KeepCol)).as("kept"))
      .write.mode("overwrite").format("noop").save()
    ((System.nanoTime() - t0) / 1e9, obs.get("kept").asInstanceOf[Long])
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // 4M rows: a ~1-2 s timed region (200k rows, then 2M at local[32])
    // sat inside JIT/GC noise and swung up to 2.9x between quiet runs; at
    // 4M the timed region is ~3 s at local[32] and back-to-back quiet
    // runs land within ~1.3x (the 16M-row ScalingBench harness is the
    // long-form evidence); per-rep times ship in the JSON as pipeline_reps
    // so spread is visible inside the artifact
    val pipelineRows = sys.env.getOrElse("SPARK_GRAFT_PIPELINE_ROWS", "4000000").toLong
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JVM/codegen/shuffle paths, so per-query numbers are marginal cost
    SparkEntry.queries.get("q1_agg").foreach(fn => fn(spark, sfDir).count())
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // load indicator: this host shows 2-3x run-to-run variance under
    // contention — record 1-min loadavg before and after so a contended
    // artifact is self-diagnosing instead of reading as a code regression
    def loadAvg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadBefore = loadAvg()
    // three passes, min per query: the first query after session start pays
    // one-time costs (broadcast thread pools, window/aggregate codegen) that
    // would otherwise land on whichever query sorts first alphabetically,
    // and min-of-3 across separate windows resists transient host load
    // (min-of-2 inside one contended window inflated every query together)
    val passes = 3
    (1 to passes).foreach { _ =>
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            System.err.println(s"[bench] $name FAILED: ${errors(name)}")
            false
          }
        // only successful runs count as times (a fast failure must never
        // masquerade as the query's time); a later success clears the error
        if (ok) {
          val sec = (System.nanoTime() - t0) / 1e9
          results(name) = math.min(results.getOrElse(name, Double.MaxValue), sec)
          errors.remove(name)
        }
      }
      // drop anything a query left in the session's cache (the queries
      // persist nothing; this keeps the passes independent regardless)
      spark.catalog.clearCache()
    }
    // one UNTIMED pipeline pass warms scan/codegen/noop paths so the timed
    // min reflects steady state (the driver-visible img/s under-reported
    // steady state ~4x when rep 1's warmup cost was part of the min pool)
    // sampled BEFORE the pipeline reps: the query passes are individually
    // short (seconds) and barely move the 1-min EMA even at local[32]
    // (quiet measurements: 3-6), while the 4M-row pipeline reps sustain
    // every requested core for ~15 s and push a QUIET host's EMA to 10-13
    // — so the contended flag reads before/mid only; the after sample
    // stays in load_hint for forensics
    val loadMid = loadAvg()
    pipelineRun(spark, pipelineRows, cpus * 4)
    val pipeReps = (1 to 3).map(_ => pipelineRun(spark, pipelineRows, cpus * 4)._1)
    val pipeSec = pipeReps.min
    results("pipeline_synth") = pipeSec
    val loadAfter = loadAvg()
    // contended-run flag: two rounds of driver artifacts were inflated 2x+
    // by co-tenant load and only judge forensics caught it — mark the
    // artifact mechanically when the before/mid 1-min loadavg exceeds the
    // threshold. Two regimes (measured on this host): at cpus>=16 the
    // query passes keep a quiet host's before/mid EMA at 2-6 while the r4
    // contended artifact recorded load rising to 17.8 mid-suite, so
    // cpus/2 separates cleanly. At small cpus the suite itself sustains
    // all requested cores for minutes and the bench's OWN load reaches
    // ~cpus (quiet local[4] measured 3.2) — a bare cpus/2 threshold would
    // self-flag, so the floor admits that self-load plus margin.
    val contended = math.max(loadBefore, loadMid) >
      math.max(cpus / 2.0, math.min(cpus, 8) + 2.0)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${Jsons.quote(k)}:${Jsons.quote(v)}" }
      .mkString("{", ",", "}")
    val total = results.values.sum
    val imgsPerSec = (pipelineRows / pipeSec).toLong
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","pipeline_rows":$pipelineRows,"pipeline_images_per_sec":$imgsPerSec,"pipeline_reps":[${pipeReps.map(t => (math.round(t * 1000) / 1000.0).toString).mkString(",")}],"passes":$passes,"load_hint":[$loadBefore,$loadMid,$loadAfter],"contended":$contended,"n_errors":${errors.size},"errors":$errJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), line + "\n")
    spark.stop()
    // after spark.stop() so no executor/log lines can follow it on stdout
    println(line)
  }
}
