package graft
import org.apache.spark.sql.functions._
import graft.corpus.SyntheticImages
import graft.pipeline._
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val stage = args(1) // gen | full
    val rows = 8000000L
    val spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(n: Long): Double = {
      val t0 = System.nanoTime()
      val c = SyntheticImages.generate(spark, n, 42, cores * 4)
      val df = stage match {
        case "gen" => c.toDF()
        case "full" => QualityFilter.run(spark, c)
      }
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    run(200000) // warmup
    val best = (1 to 2).map(_ => run(rows)).min
    println(f"""PROBE cores=$cores stage=$stage sec=$best%.2f rate=${(rows/best).toLong}""")
    spark.stop()
  }
}
