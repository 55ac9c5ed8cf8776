package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each `queries` entry is one operator from SURVEY.md §2 / the pipeline,
  * expressed over the driver's parquet tables at `sfDir`; `oracleSql` is the
  * DuckDB-equivalent SQL the driver hash-compares against.
  */
object SparkEntry {

  /** Flagship: the full quality-filter pipeline over a synthesized corpus at
    * tiny scale; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val corpus = graft.corpus.SyntheticImages.generate(spark, 2000L)
    graft.pipeline.QualityFilter.run(spark, corpus).drop("bytes")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  def oracleSql: Map[String, String] = Queries.oracle
}
