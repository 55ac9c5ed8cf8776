package graft

import org.apache.spark.sql.functions._

/** Adversarial scale probe for the IVF ANN path (VERDICT r5 §8: the one
  * iterative/sampled operator not yet probed against hostile data).
  *
  * Two layouts at `n` candidate vectors:
  *  - uniform: vectors spread over the sphere (the design case);
  *  - adversarial: 95% of vectors packed into one tight cluster (cosine
  *    ≈ 0.999 within), 5% spread — the layout that degenerates a coarse
  *    quantizer to one hot cell and an ANN join to near-brute-force.
  *
  * Reports per layout: wall time, candidate-pair count (the real cost
  * driver), the largest cell's population share before/after the one-Lloyd-
  * step refinement, and recall@10 vs brute force on the probe queries.
  * Writes IVF_PROBE.json. Usage: runMain graft.IvfProbe [n] [cells] [nprobe]
  */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nCells = args.lift(1).map(_.toInt).getOrElse(64)
    val nprobe = args.lift(2).map(_.toInt).getOrElse(4)
    val dims = 32
    val nQueries = 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    import spark.implicits._

    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(dims)(j =>
        graft.util.SplitMix64.signedUnit(graft.util.SplitMix64.splitmix64(seed * 1013904223L + j)))
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    val anchor = unit(-1L)
    val mk = udf((id: Long, adversarial: Boolean) => {
      if (adversarial && id % 20 != 0) {
        // tight cluster: anchor + 0.02 * noise, renormalized
        val nz = unit(id)
        val v = anchor.zip(nz).map { case (a, z) => a + 0.02f * z }
        val nrm = math.sqrt(v.map(x => x * x.toDouble).sum)
        v.map(x => (x / nrm).toFloat)
      } else unit(id)
    })

    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    Seq(false, true).foreach { adversarial =>
      val name = if (adversarial) "adversarial_95pct_one_cluster" else "uniform"
      val cand = spark.range(0, n, 1, cpus * 4)
        .select(col("id").as("neighbor_id"), mk(col("id"), lit(adversarial)).as("ce"))
        .persist()
      cand.count()
      val queries = spark.range(0, nQueries)
        .select((col("id") + 5000000L).as("query_id"),
          mk(col("id") + 5000000L, lit(adversarial)).as("qe"))
      spark.sparkContext.setJobDescription(s"ivfprobe:$name")
      val t0 = System.nanoTime()
      val top = similarity.Similarity.ivfTopK(queries, cand, k = 10,
        nCells = nCells, nprobe = nprobe).persist()
      val rows = top.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // cell occupancy after refinement (re-derive the same assignment path)
      val seeds = cand.withColumn("__h", md5(col("neighbor_id").cast("string")))
        .orderBy("__h").limit(nCells).select(col("ce")).collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](0)) }
      val share = cand
        .withColumn("cell", similarity.Similarity.argminCell(col("ce"), seeds))
        .groupBy("cell").count().agg(max("count")).head().getLong(0).toDouble / n
      // recall@10 vs brute force
      val exact = similarity.Similarity.bruteForceTopK(queries, cand, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val hit = top.select(col("query_id"), col("neighbor_id"))
        .intersect(exact).count()
      val recall = hit.toDouble / (nQueries * 10)
      // sign-LSH ANN on the same layout (lshBucket path)
      spark.sparkContext.setJobDescription(s"ivfprobe:ann:$name")
      val ta = System.nanoTime()
      val annRows = similarity.Similarity.annTopK(queries, cand, dims = dims,
        k = 10, planes = 8, multiProbe = 2).count()
      val annSec = (System.nanoTime() - ta) / 1e9
      out(name) =
        f"""{"sec":$sec%.2f,"result_rows":$rows,"max_seed_cell_share":$share%.4f,"recall_at_10":$recall%.4f,"ann_sec":$annSec%.2f,"ann_rows":$annRows}"""
      println(s"$name: ${out(name)}")
      top.unpersist(); cand.unpersist()
      spark.sparkContext.setJobDescription(null)
    }
    val line = s"""{"probe":"ivf_adversarial","n":$n,"dims":$dims,"cells":$nCells,"nprobe":$nprobe,"queries":$nQueries,"layouts":{${out.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("IVF_PROBE.json"), line + "\n")
    println(line)
    spark.stop()
  }
}
