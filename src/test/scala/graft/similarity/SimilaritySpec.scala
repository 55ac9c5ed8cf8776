package graft.similarity

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  private def unit(xs: Double*): Array[Float] = {
    val n = math.sqrt(xs.map(x => x * x).sum)
    xs.map(x => (x / n).toFloat).toArray
  }

  // deterministic pseudo-random vectors, clustered around two poles
  private def randVec(seed: Int, dims: Int, pole: Int): Array[Float] = {
    val rng = new scala.util.Random(seed)
    val base = Array.tabulate(dims)(j => if (pole == 0) math.sin(j * 0.7) else math.cos(j * 0.9))
    base.map(x => (x + rng.nextGaussian() * 0.15).toFloat)
  }

  private val dims = 16
  private lazy val vectors = (0 until 40).map { i =>
    (i.toLong, randVec(i, dims, i % 2), i % 2)
  }.toDF("id", "vec", "pole")

  test("brute-force topK: nearest neighbors share the pole") {
    val qs = vectors.where(col("id") < 2)
      .select(col("id").as("query_id"), col("vec").as("qe"))
    val cs = vectors.select(col("id").as("neighbor_id"), col("vec").as("ce"))
    val top = Similarity.bruteForceTopK(qs, cs, k = 5).collect()
    assert(top.length == 10)
    top.foreach { r =>
      val q = r.getLong(0); val n = r.getLong(1)
      assert(q % 2 == n % 2, s"query $q got cross-pole neighbor $n")
      assert(r.getDouble(3) > 0.8)
    }
  }

  test("ANN topK: recall vs brute force is high on clustered data") {
    val qs = vectors.where(col("id") < 8)
      .select(col("id").as("query_id"), col("vec").as("qe"))
    val cs = vectors.select(col("id").as("neighbor_id"), col("vec").as("ce"))
    val exact = Similarity.bruteForceTopK(qs, cs, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(qs, cs, dims, k = 3, planes = 4, multiProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    info(s"ANN recall = $recall (${ann.size} returned)")
    assert(recall >= 0.5) // sign-LSH with 4 planes on tightly clustered data
  }

  test("IVF topK: recall vs brute force is high on clustered data") {
    val qs = vectors.where(col("id") < 8)
      .select(col("id").as("query_id"), col("vec").as("qe"))
    val cs = vectors.select(col("id").as("neighbor_id"), col("vec").as("ce"))
    val exact = Similarity.bruteForceTopK(qs, cs, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(qs, cs, k = 3, nCells = 4, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"IVF recall = $recall (${ivf.size} returned)")
    assert(recall >= 0.8) // 2 poles, 4 cells, 2 probes → near-exact
  }

  test("IVF cell assignment is a pure projection — no Exchange before the cell join") {
    // Round-1 regression: assignToNearest cross-joined candidates × centroids
    // and grouped the blow-up back by every column — a full-width shuffle of
    // nCells× the data. Now centroids (bounded ≤ nCells) compile to a literal
    // argmin projection: the assignment plan must contain zero shuffles.
    val cs = vectors.select(col("id").as("neighbor_id"), col("vec").as("ce"))
    val centroids = Array(0 -> randVec(100, dims, 0).toSeq, 1 -> randVec(101, dims, 1).toSeq)
    val assigned = cs.withColumn("cell", Similarity.argminCell(col("ce"), centroids))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(assigned.select("cell").distinct().count() == 2)
    val probes = cs.withColumn("cells", Similarity.nearestCells(col("ce"), centroids, 2))
    assert(!probes.queryExecution.executedPlan.toString.contains("Exchange"))
    // nearest cell (argmin) is always the first probe
    probes.withColumn("cell", Similarity.argminCell(col("ce"), centroids))
      .collect().foreach(r => assert(r.getAs[Seq[Int]]("cells").head == r.getAs[Int]("cell")))
  }

  test("nearDupPairs: edge rows match the vector_cosine self-join, sims bit for bit") {
    // clustered vectors in blocks of 6, one block of 60, and edge rows:
    // NULL and zero vectors, a NULL element (reads as 0), a NaN element
    // (its cosine is NaN, which SQL's >= keeps), NULL ids, a NULL block and
    // a duplicated id; long and string ids, 1 and 8 input partitions
    def vec(seed: Int, pole: Int): Seq[Option[Float]] = randVec(seed, 8, pole).toSeq.map(Some(_))
    val rows: Seq[(Option[Long], Option[Seq[Option[Float]]], Option[Int])] =
      (0 until 150).map(i => (Some(i.toLong), Some(vec(i, i % 2)), Some(if (i >= 90) 99 else i / 6))) ++
        Seq((Some(200L), None, Some(0)), (Some(201L), Some(Seq.fill(8)(Some(0f))), Some(0)),
          (Some(202L), Some(vec(1, 1).updated(3, None)), Some(0)),
          (Some(203L), Some(vec(3, 1).updated(2, Some(Float.NaN))), Some(0)),
          (None, Some(vec(5, 1)), Some(0)), (Some(204L), Some(vec(7, 1)), None),
          (Some(3L), Some(vec(9, 1)), Some(0)))
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a_id").cast("string"), col("b_id").cast("string"), col("sim")).collect()
        .map(r => (r.getString(0), r.getString(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
        .sorted.toSeq
    def selfJoin(df: org.apache.spark.sql.DataFrame) = {
      val a = df.select(col("block"), col("id").as("a_id"), col("vec").as("a_vec"))
      val b = df.select(col("block"), col("id").as("b_id"), col("vec").as("b_vec"))
      a.join(b, Seq("block")).where(col("a_id") < col("b_id"))
        .withColumn("sim", Similarity.cosine(col("a_vec"), col("b_vec")))
        .where(col("sim") >= 0.25)
    }
    val asText = rows.map { case (i, x, b) => (i.map(_.toString), x, b) }
    for (parts <- Seq(1, 8);
         in <- Seq(rows.toDF("id", "vec", "block"), asText.toDF("id", "vec", "block")).map(_.repartition(parts))) {
      val got = bits(Similarity.nearDupPairs(in, threshold = 0.25))
      assert(got == bits(selfJoin(in)), s"${in.schema("id").dataType}, $parts partitions")
      assert(Seq("203", "3").forall(id => got.exists(p => p._1 == id || p._2 == id)))
      assert(got.exists(_._1.toLong >= 90) && got.length < 2000)
    }
    // a length mismatch within a block still throws
    val mixed = Seq((1L, Array(1f, 0f), 0), (2L, Array(1f, 0f, 0f), 0)).toDF("id", "vec", "block")
    val e = intercept[Exception](Similarity.nearDupPairs(mixed, threshold = 0.25).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("length mismatch")), e.toString)
  }

  test("lshBucket: identical vectors get identical buckets; opposite vectors differ") {
    val d = Seq(
      (1L, unit(1, 0, 0, 1)), (2L, unit(1, 0, 0, 1)), (3L, unit(-1, 0, 0, -1))
    ).toDF("id", "vec")
    val b = d.select(col("id"), Similarity.lshBucket(col("vec"), 4, 8, 42L).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b(1L) == b(2L))
    assert(b(1L) != b(3L))
  }

  test("cosine column math is exact") {
    val d = Seq((unit(1, 0), unit(0, 1)), (unit(1, 1), unit(1, 1))).toDF("a", "b")
    val sims = d.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(sims(0)) < 1e-7)
    assert(math.abs(sims(1) - 1.0) < 1e-7)
  }
}
