package graft

/** Per-query plan snapshot for the optimization-round evidence trail: writes
  * `explain("formatted")` for every driver query (and the pipeline product
  * job) to `<outDir>/<query>_<tag>.txt` — one file per query, so before/after
  * plan diffs are reviewable without running Spark — and prints one summary
  * line per plan (Exchange count, broadcast and sort-merge joins, pushed
  * filters, WSCG subtrees): the "is this the plan you'd want at 100×" review
  * loop behind PLAN_AUDIT.md.
  * Usage: runMain graft.PlanDump [sfDir] [outDir] [tag]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "plans/r06"
    val tag = if (args.length > 2) args(2) else "before"
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      // ops appear once in the tree and once in the details section of
      // formatted mode — count the numbered details headers only
      val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
      val bhj = "\\(\\d+\\) BroadcastHashJoin".r.findAllIn(plan).size
      val smj = "\\(\\d+\\) SortMergeJoin".r.findAllIn(plan).size
      val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).size
      val wscg = "codegen id : \\d+".r.findAllIn(plan).toSet.size
      println(f"$name%-24s exchanges=$exchanges%-3d bhj=$bhj%-2d smj=$smj%-2d pushedFilterScans=$pushed%-2d wscg=$wscg%-3d")
    }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      dump(name, fn(spark, sfDir))
    }
    val corpusPath = "/tmp/graft_plandump_corpus_5000"
    if (!new java.io.File(corpusPath + "/_SUCCESS").exists())
      corpus.SyntheticImages.generate(spark, 5000L, 42L, 8)
        .write.mode("overwrite").parquet(corpusPath)
    dump("pipeline_product_job",
      pipeline.QualityFilter.runDF(spark, spark.read.parquet(corpusPath)))
    spark.stop()
  }
}
