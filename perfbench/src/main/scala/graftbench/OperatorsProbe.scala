package graftbench

import graft.SparkEntry

/** The `graft.Queries` layer: all `SparkEntry.queries` over a fixed
  * TPC-H-like table set (perfbench/data/sf0.01). It runs in traced
  * `neardup_sparse` runs only, after the timed passes. A first round writes each
  * output as parquet, for the row-count and hash check against committed
  * DuckDB results in `perfbench/run.py`; a second round writes each query
  * to the noop sink and is timed per query.
  *
  * It is not a gated workload: one steady run needs several warm passes of
  * about 15 s each after a cold pass of about 28 s, more than the run
  * budget allows (see perfbench/README.md).
  */
object OperatorsProbe {
  def run(o: Opts, p: Pass): Unit = {
    val spark = p.spark
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    queries.foreach { case (name, fn) =>
      p.operation(s"operators $name") {
        p.check {
          fn(spark, o.data).coalesce(1).write.mode("overwrite")
            .parquet(o.work.resolve(s"operators-out/$name").toString)
        }
        Nil
      }
    }
    spark.catalog.clearCache()
    queries.foreach { case (name, fn) =>
      p.operation(s"operators $name") {
        p.layerTimed(s"graft.Queries.$name", s"op.${name}_s") {
          fn(spark, o.data).write.format("noop").mode("overwrite").save()
        }
        Nil
      }
    }
    p.layer("op.pass_s") = queries.map(q => p.layer(s"op.${q._1}_s")).sum
    p.layer("op.jobs") = queries.flatMap(q => p.stats(s"graft.Queries.${q._1}")).map(_.jobs).sum
    p.layer("op.cached_blocks") =
      spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    spark.catalog.clearCache()
  }
}
