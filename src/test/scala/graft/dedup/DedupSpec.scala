package graft.dedup

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {
  import graft.SharedSpark.spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "The  Quick Brown Fox jumps over the lazy dog"), // exact dup of 1 after normalization
    (4L, "completely different text about spark and catalyst engines"),
    (5L, "short"),
  ).toDF("doc_id", "text")

  test("exact dedup: normalization-equal rows collapse, min id survives") {
    val surv = Dedup.exactSurvivors(docs, "text", "doc_id")
    assert(surv.count() == 4)
    val r = surv.where(col("dup_count") === 2).head()
    assert(r.getLong(1) == 1L) // survivor_id = min(1, 3)
    assert(Dedup.dropExact(docs, "text").count() == 4)
  }

  test("minhash LSH: near-dups are candidates with high n_equal; unrelated are not") {
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id",
      k = 8, shingleN = 2, bands = 4, minEqual = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // exact dup pair (1,3) must have a full signature match
    assert(cands.exists { case (a, b, n) => a == 1L && b == 3L && n == 8 })
    // near-dup (1,2): 8/9 shared shingles → high component agreement
    assert(cands.exists { case (a, b, _) => a == 1L && b == 2L })
    // doc 4 shares nothing
    assert(!cands.exists { case (a, b, _) => a == 4L || b == 4L })
    // multi-band collisions collapse to ONE row per pair (the exact dup
    // pair (1,3) collides in all 4 bands; the score-filter-then-groupBy
    // shape must still dedup)
    val pairKeys = cands.map { case (a, b, _) => (a, b) }
    assert(pairKeys.distinct.length == pairKeys.length)
  }

  test("minhash candidates: aggregated (non-scan) input matches the scan path") {
    // a groupBy upstream is NOT scan-shaped, so the partition probe must
    // not fire (under AQE, df.rdd would execute the aggregate once just to
    // read a partition count) — the unconditional-repartition branch must
    // produce the identical candidate set
    val viaScan = Dedup.minhashCandidates(docs, "text", "doc_id",
      k = 8, shingleN = 2, bands = 4, minEqual = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val agged = docs.groupBy(col("doc_id")).agg(first(col("text")).as("text"))
    val viaAgg = Dedup.minhashCandidates(agged, "text", "doc_id",
      k = 8, shingleN = 2, bands = 4, minEqual = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaAgg == viaScan)
    // an IN-subquery hides a pipeline inside the Filter's EXPRESSION tree
    // (not its children) — the probe must classify it non-scan-shaped and
    // still produce the identical candidate set
    docs.createOrReplaceTempView("dedup_probe_docs")
    docs.select(col("doc_id")).createOrReplaceTempView("dedup_probe_ids")
    val sub = graft.SharedSpark.spark.sql(
      "SELECT doc_id, text FROM dedup_probe_docs " +
        "WHERE doc_id IN (SELECT doc_id FROM dedup_probe_ids)")
    val viaSub = Dedup.minhashCandidates(sub, "text", "doc_id",
      k = 8, shingleN = 2, bands = 4, minEqual = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaSub == viaScan)
  }

  test("simhash64 matches the Scala reference implementation (xxhash parity)") {
    val got = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.collect().foreach { r =>
      val id = r.getLong(0)
      val expected = Dedup.simhash64Scala(r.getString(1))
      assert(got(id) == expected, s"simhash mismatch for doc $id")
    }
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val sh = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
    val a = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val d = a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), Dedup.hamming64(col("a_sh"), col("b_sh")).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue()).toMap
    assert(d((1L, 3L)) == 0) // normalization-identical
    assert(d((1L, 2L)) <= 12) // near-dup
    assert(d((1L, 4L)) > 12) // unrelated
  }

  test("xxhash64 Scala impl matches Spark's xxhash64 exactly") {
    val strs = Seq("", "a", "abc", "the quick brown fox", "ünïcøde 猫 text",
      "0123456789012345678901234567890123456789")
    val sparkHashes = strs.toDF("s").select(xxhash64(col("s"))).collect().map(_.getLong(0))
    strs.zip(sparkHashes).foreach { case (s, exp) =>
      assert(XxHash.hashString(s) == exp, s"xxhash mismatch for '$s'")
    }
  }

  test("bloom-filter dedup: previously-seen keys filtered, new keys pass") {
    val previous = (1 to 1000).map(i => s"key$i").toDF("k")
    val current = (900 to 1100).map(i => s"key$i").toDF("k")
    val fresh = Dedup.bloomNewRows(current, previous, "k", expectedItems = 1000, fpp = 0.001)
      .as[String].collect().toSet
    // no previously-seen key survives (bloom has no false negatives)
    assert(fresh.forall(k => k.drop(3).toInt > 1000))
    // almost all genuinely-new keys survive (fpp bounded)
    assert(fresh.size >= 95)
  }

  test("phashNearDup: pigeonhole banding finds exactly the pairs within maxHamming") {
    // hand-crafted 64-bit hashes: A≡B (dist 1), A≡C (dist 3), D far away,
    // E within 5 of A (missed by design: > maxHamming)
    val a = 0x0123456789abcdefL
    val rows = Seq(
      (1L, a), (2L, a ^ 1L), (3L, a ^ (1L << 5) ^ (1L << 20) ^ (1L << 60)),
      (4L, ~a), (5L, a ^ 0x1fL),
    ).toDF("id", "ph")
    val pairs = Dedup.phashNearDup(rows, "id", "ph", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    // note (2,3) is NOT a pair: dist = |{0,5,20,60}| = 4 > maxHamming
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L)))
    assert(pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 == 1)
    // exhaustive check vs brute force on a generated corpus
    val corpus = spark.range(300).select(col("id"),
      xxhash64(col("id") % 37).as("ph0"))
      .withColumn("ph", col("ph0").bitwiseXOR(
        when(col("id") % 2 === 1, org.apache.spark.sql.functions.expr("shiftleft(1L, cast(id % 48 as int))")).otherwise(0L)))
      .select(col("id"), col("ph"))
    val bandedRows = Dedup.phashNearDup(corpus, "id", "ph", maxHamming = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    // identical hashes (dist 0, id % 37 groups) collide in EVERY band — the
    // dist-filter-then-distinct shape must still collapse them to one row
    assert(bandedRows.distinct.length == bandedRows.length)
    val banded = bandedRows.toSet
    val brute = corpus.as[(Long, Long)].collect()
    val expected = (for {
      (i, pi) <- brute; (j, pj) <- brute if i < j
      if java.lang.Long.bitCount(pi ^ pj) <= 3
    } yield (i, j)).toSet
    assert(banded == expected)
  }

  private def phashCorpus = spark.range(300).select(col("id"),
    xxhash64(col("id") % 37).bitwiseXOR(
      when(col("id") % 2 === 1, expr("shiftleft(1L, cast(id % 48 as int))")).otherwise(0L))
      .as("ph"))

  test("phashNearDup: a pair whose lowest colliding band is capped comes back once, from a later band") {
    // maxBucket 6 caps the exact-hash buckets (~8 docs per id % 37 class)
    // on some bands but not others: the lowest-uncapped-band rule must give
    // q28's cap semantics (count per (band, seg) <= maxBucket, then
    // DISTINCT) — checked against a brute force of exactly that
    val maxBucket = 6
    val got = Dedup.phashNearDup(phashCorpus, "id", "ph", maxHamming = 3, maxBucket = maxBucket)
      .as[(Long, Long, Int)].collect()
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
    val docs = phashCorpus.as[(Long, Long)].collect()
    def seg(h: Long, b: Int) = (h >>> (b * 16)) & 0xffffL
    val bucket = (for ((_, h) <- docs; b <- 0 until 4) yield (b, seg(h, b)))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    def uncapped(h: Long, b: Int) = bucket((b, seg(h, b))) <= maxBucket
    def colliding(x: Long, y: Long) = (0 until 4).filter(b => seg(x, b) == seg(y, b))
    val near = for {
      (i, x) <- docs; (j, y) <- docs if i < j
      if java.lang.Long.bitCount(x ^ y) <= 3
    } yield (i, j, x, y)
    val expected = near.collect { case (i, j, x, y) if colliding(x, y).exists(uncapped(x, _)) =>
      (i, j, java.lang.Long.bitCount(x ^ y))
    }.toSet
    assert(got.toSet == expected)
    // the fixture does exercise the case: some expected pairs' lowest
    // colliding band is capped, and the cap drops some near pairs entirely
    assert(near.exists { case (_, _, x, y) =>
      val c = colliding(x, y); !uncapped(x, c.head) && c.exists(uncapped(x, _)) })
    assert(expected.size < near.length)
  }

  test("phashNearDup: capped calls leave no cached frame behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // twenty different inputs: the cache would dedupe identical plans
    (1 to 20).foreach { i =>
      val in = phashCorpus.where(col("id") =!= i)
      assert(Dedup.phashNearDup(in, "id", "ph", maxHamming = 3, maxBucket = 6).count() > 0)
    }
    assert(sc.getPersistentRDDs.size == before)
  }

  test("connectedComponents: clusters labeled by smallest member") {
    // components: {1,2,3,4} (chain), {10,11}, singleton edges only
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val confBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val labels = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // int ids go through the forest as longs and come back as ints; ids it
    // cannot hold as longs skip it and get the same smallest-member labels
    val ints = Dedup.connectedComponents(Seq((3, 2), (2, 1), (7, 8)).toDF("a_id", "b_id"))
    assert(ints.schema("label").dataType == org.apache.spark.sql.types.IntegerType)
    assert(ints.as[(Int, Int)].collect().toMap == Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))
    val named = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("a_id", "b_id")
    assert(Dedup.connectedComponents(named).as[(String, String)].collect().toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    // the edge-count shuffle sizing lives in a CLONED session — the
    // caller's conf is untouched during AND after the run
    assert(spark.conf.get("spark.sql.shuffle.partitions") == confBefore)
  }

  test("connectedComponents keeps nodes that appear only in self-loop edges") {
    // a caller mapping every input node to a cluster must find node 5 —
    // filtering self-loops out of the edge list before the id universe is
    // derived would silently drop it
    val edges = Seq((1L, 2L), (5L, 5L)).toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
  }

  test("connectedComponents fails loudly when maxIter is below what the graph needs") {
    // a 7-node chain contracts in 4 star rounds; maxIter=2 must throw, not
    // silently return partially-contracted (wrong) labels. One edge per
    // input partition: the per-partition forest cannot shorten the chain
    val chain = spark.sparkContext.parallelize((1L until 7L).map(i => (i, i + 1)), 6)
      .toDF("a_id", "b_id")
    val e = intercept[IllegalStateException](Dedup.connectedComponents(chain, maxIter = 2))
    assert(e.getMessage.contains("did not converge"))
    // and a sufficient maxIter converges to the single min label
    val ok = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(ok.forall(_._2 == 1L) && ok.length == 7)
  }

  test("connectedComponents: 1000-edge path converges in <= 22 rounds (hybrid)") {
    // deep chain: plain neighbor-min propagation would need 1000 rounds.
    // The hybrid spends its fixed 8-round propagation budget, then star
    // contraction finishes the contracted graph logarithmically (measured:
    // 19 total) — maxIter=22 converging AT ALL is the proof; the loop
    // throws past maxIter rather than returning partial labels.
    // round-robin puts consecutive path edges in different partitions, so
    // the per-partition forest cannot shorten the path: the loop gets it all
    val path = (0L until 1000L).map(i => (i, i + 1)).toDF("a_id", "b_id").repartition(8)
    val (ldf, rounds, _) = Dedup.connectedComponentsStats(path, maxIter = 22)
    val labels = ldf.as[(Long, Long)].collect()
    assert(labels.length == 1001 && labels.forall(_._2 == 0L))
    assert(rounds <= 22)
  }

  test("connectedComponents: round count is independent of id layout (permuted path)") {
    // THE regression the CC scale probe caught: min-propagation +
    // label-of-label shortcut converges fast only when id order follows
    // graph position — a 4095-diameter path with ids scrambled by an affine
    // bijection mod a prime blew past 40 rounds. The star-contraction
    // finish is topology-only: the same permuted path converges in 17
    // total rounds (8 propagation + 9 star).
    val n = 4096L
    val P = java.math.BigInteger.valueOf(n).nextProbablePrime().longValueExact()
    val a = 6364136223846793005L % P
    def perm(c: org.apache.spark.sql.Column) =
      pmod(c % P * (a % P) + 1442695040888963407L % P, lit(P))
    // scattered one edge per partition in turn, as in the 1000-edge path
    val ppath = spark.range(0, n - 1)
      .select(perm(col("id")).as("a_id"), perm(col("id") + 1).as("b_id"))
      .repartition(8)
    val (labels, rounds, _) = Dedup.connectedComponentsStats(ppath, maxIter = 20)
    assert(rounds <= 20)
    val l = labels.cache()
    assert(l.count() == n)
    assert(l.select("label").distinct().count() == 1) // one component
    l.unpersist()
  }

  test("connectedComponents matches a union-find oracle on a mixed deep/shallow graph") {
    // sf0.1-scale fixture: ~3.5k edges mixing a 2000-node path (depth — the
    // pointer-jump's worst case) with random pairs over a separate node range
    // (breadth/cliques). Labels must equal the exact min-reachable id from a
    // driver-side union-find — an exact oracle with no Spark involved, so
    // the O(log d) loop is correctness-checked beyond the 1000-path pin.
    val rnd = new scala.util.Random(7)
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    (0L until 2000L).foreach(i => edges += ((i, i + 1)))
    (0 until 1500).foreach { _ =>
      val a = 3000L + rnd.nextInt(3000)
      val b = 3000L + rnd.nextInt(3000)
      if (a != b) edges += ((a, b))
    }
    // union-find with min-root union + path compression: find(x) ends as
    // the smallest id in x's component — exactly the engine's label contract
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
    // the per-partition forest sees the edges as one partition and as
    // eight: the labels must not depend on how the input is split
    Seq(1, 8).foreach { parts =>
      val in = edges.toSeq.toDF("a_id", "b_id").repartition(parts)
      val got = Dedup.connectedComponents(in, maxIter = 24).as[(Long, Long)].collect().toMap
      assert(got.size == expected.size, s"$parts partitions")
      assert(got == expected, s"$parts partitions")
    }
  }

  test("connectedComponents: an edge with a NULL endpoint connects nothing") {
    // a NULL endpoint joins no label, so (2, NULL) and (NULL, 3) do not
    // connect 2 and 3; the NULL itself comes back labelled with the
    // smallest label among its partners
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)), (Some(3L), Some(4L)),
      (Some(7L), None)).toDF("a_id", "b_id").repartition(2)
    val got = Dedup.connectedComponents(edges).as[(Option[Long], Long)].collect().toMap
    assert(got == Map(Some(1L) -> 1L, Some(2L) -> 1L, Some(3L) -> 3L, Some(4L) -> 3L,
      Some(7L) -> 7L, None -> 1L))
  }

  test("spanningForest: never more rows than its input, fewer on redundant edges") {
    // a path is a tree: every edge is needed, so the forest keeps the count
    val n = 4096L
    val P = java.math.BigInteger.valueOf(n).nextProbablePrime().longValueExact()
    val a = 6364136223846793005L % P
    def perm(c: org.apache.spark.sql.Column) =
      pmod(c % P * (a % P) + 1442695040888963407L % P, lit(P))
    val ppath = spark.range(0, n - 1)
      .select(perm(col("id")).as("a_id"), perm(col("id") + 1).as("b_id"))
    assert(Dedup.spanningForest(ppath).count() == n - 1)
    // a 40-node clique (780 edges) in one partition: 39 edges to node 0;
    // self-loops survive as (a, a) only where the node has no other edge
    val clique = (for (i <- 0L until 40L; j <- i + 1 until 40L) yield (i, j)) ++
      Seq((5L, 5L), (99L, 99L))
    val forest = Dedup.spanningForest(clique.toDF("a_id", "b_id").coalesce(1))
      .as[(Long, Long)].collect().toSet
    assert(forest == (1L until 40L).map(_ -> 0L).toSet + (99L -> 99L))
  }

  test("SpanningForest: a flush past MaxNodes keeps the component exact") {
    // a path given in both orientations: every second edge re-states a
    // known connection. It spans two flushes, and the union of the two
    // per-chunk forests must still be one component rooted at 0
    val n = SpanningForest.MaxNodes + 1000L
    val rows = (0L until n).iterator.flatMap(i =>
      Iterator(org.apache.spark.sql.Row(i, i + 1), org.apache.spark.sql.Row(i + 1, i)))
    val out = SpanningForest.contract(rows).map(r => (r.getLong(0), r.getLong(1))).toArray
    assert(out.length < n + 10) // the repeats are gone: ~n edges, not 2n
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    out.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert((0L to n).forall(find(_) == 0L))
  }

  test("size-gated newRows: anti-join path above the sketch gate, exact semantics") {
    val previous = (1 to 1000).map(i => s"key$i").toDF("k")
    val current = ((900 to 1100).map(i => s"key$i") :+ null).toDF("k")
    // gate forced to 0 → distributed anti-join: EXACT (no false positives)
    val viaJoin = Dedup.newRows(current, previous, "k", expectedItems = 1000,
      maxSketchItems = 0).as[String].collect().toSet
    assert(viaJoin == (1001 to 1100).map(i => s"key$i").toSet) // nulls dropped
    // under the gate → bloom path (same API)
    val viaBloom = Dedup.newRows(current, previous, "k", expectedItems = 1000, fpp = 0.001)
      .as[String].collect().toSet
    assert(viaBloom.subsetOf(viaJoin) && viaBloom.size >= 95)
  }

  test("jaccardPairs overlapOnly: identical pairs and counts to post-filtering") {
    // overlapOnly replaces a post-hoc n_inter >= 1 filter (which pushes the
    // full intersection build below the projection) with a short-circuit
    // arrays_overlap — the outputs must be identical
    val docs = Seq(
      (1L, "red apple pie"), (2L, "red apple tart"), (3L, "blue sky high"),
      (4L, "green grass field"), (5L, "green grass lawn"), (6L, ""), (7L, "red apple pie")
    ).toDF("doc_id", "text")
    def block = floor(col("doc_id") / 4.0).cast("int")
    val full = Dedup.jaccardPairs(docs, "text", "doc_id", block)
      .where(col("n_inter") >= 1)
      .as[(Long, Long, Int, Int)].collect().toSet
    val fast = Dedup.jaccardPairs(docs, "text", "doc_id", block, overlapOnly = true)
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(fast == full && fast.nonEmpty)
  }

  test("connectedComponents: star phase reachable within a small maxIter (budget reservation)") {
    // regression: budget = min(8, maxIter) burned the entire round
    // allowance in phase 1 when maxIter <= 8 — the star phase (which exists
    // to guarantee convergence) was unreachable, so a deep permuted-id path
    // threw despite enough total rounds to finish it
    val n = 24L
    val P = java.math.BigInteger.valueOf(n).nextProbablePrime().longValueExact()
    val a = 6364136223846793005L % P
    def perm(c: org.apache.spark.sql.Column) =
      pmod(c % P * (a % P) + 1442695040888963407L % P, lit(P))
    val ppath = graft.SharedSpark.spark.range(0, n - 1)
      .select(perm(col("id")).as("a_id"), perm(col("id") + 1).as("b_id"))
    val (labels, rounds, _) = Dedup.connectedComponentsStats(ppath, maxIter = 8)
    assert(rounds <= 8)
    assert(labels.count() == n)
    assert(labels.select("label").distinct().count() == 1)
  }
}
