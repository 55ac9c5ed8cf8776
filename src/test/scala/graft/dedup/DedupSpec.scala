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

  test("minhashCandidates: repeated calls leave no cache entry behind") {
    // twenty different inputs: the cache would dedupe identical plans
    spark.catalog.clearCache()
    (1 to 20).foreach { i =>
      val in = docs.where(col("doc_id") =!= i)
      assert(Dedup.minhashCandidates(in, "text", "doc_id",
        k = 8, shingleN = 2, bands = 4, minEqual = 4).count() > 0)
      assert(cacheIsEmpty, s"call $i")
    }
  }

  test("minhashCandidates: edge rows and the bucket cap match a brute force") {
    // near-dup families over a small vocabulary, plus edge rows: NULL and
    // empty text, a one-token text (no shingle, no signature), NULL ids, a
    // duplicated id, and identical-text buckets (every band collides) of
    // exactly maxBucket docs (kept), of maxBucket docs plus a NULL id and
    // of maxBucket + 1 docs (both over the cap on every band); long and
    // string ids, 1 and 8 input partitions
    val maxBucket = 5
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota")
    val corpus: Seq[(Option[Long], Option[String])] = (0 until 120).map { i =>
      val base = (0 until 10).map(w => words((i / 6 * 7 + w * w) % words.length))
      (Some(i.toLong), Some(base.updated(i % 10, words(i % 4)).mkString(" ")))
    }
    def same(from: Long, n: Int, text: String) = (0 until n).map(k => (Some(from + k), Some(text)))
    val edge = corpus ++ Seq((Some(500L), None), (Some(501L), Some("")), (Some(502L), Some("lonely")),
      (None, corpus(3)._2), (None, None), (Some(5L), corpus(40)._2)) ++
      same(1000L, maxBucket, "one two three four five six") ++
      same(1100L, maxBucket, "red green blue cyan magenta") ++ Seq((None, Some("red green blue cyan magenta"))) ++
      same(1200L, maxBucket + 1, "north south east west up down")
    val expected = minhashBrute(edge, maxBucket)
    assert(expected.count(p => p._1 >= 1000L) == maxBucket * (maxBucket - 1) / 2)
    assert(expected.exists(p => p._1 == 5L || p._2 == 5L))
    assert(expected.count(p => p._1 < 1000L) > 20)
    val asText = edge.map { case (i, t) => (i.map(_.toString), t) }
    val expectedText = minhashBrute(asText, maxBucket)
    assert(expectedText.exists { case (x, y, _) => x.toLong > y.toLong })
    def run(df: org.apache.spark.sql.DataFrame) = {
      val (out, jobs) = withJobCount("minhash-call")(Dedup.minhashCandidates(df, "text", "doc_id",
        k = 16, shingleN = 2, bands = 4, minEqual = 8, maxBucket = maxBucket))
      assert(jobs == 0) // lazy: no job before the caller's action
      out
    }
    for (parts <- Seq(1, 8)) {
      val longs = run(edge.toDF("doc_id", "text").repartition(parts)).as[(Long, Long, Int)].collect()
      assert(longs.toSet == expected && longs.length == expected.size, s"long ids, $parts partitions")
      val texts = run(asText.toDF("doc_id", "text").repartition(parts)).as[(String, String, Int)].collect()
      assert(texts.toSet == expectedText && texts.length == expectedText.size, s"string ids, $parts partitions")
    }
  }

  /** minhashCandidates' answer by brute force over rows (q11's semantics):
    * a bucket is a band and that band's signature values; a pair of rows
    * with ids a < b shares a bucket that holds at most maxBucket signed
    * rows (NULL ids included) and agrees on at least 8 of the 16
    * components; one row per id pair, with its smallest n_equal. */
  private def minhashBrute[T](rows: Seq[(Option[T], Option[String])], maxBucket: Int)(
      implicit ord: Ordering[T]): Set[(T, T, Int)] = {
    val signed = rows.flatMap { case (id, text) =>
      Option(Dedup.minhashScala(text.orNull, 16, 2)).map(s => (id, s.toSeq)) }
    def key(s: Seq[Long], b: Int) = (b, s.slice(b * 4, b * 4 + 4))
    val size = signed.flatMap { case (_, s) => (0 until 4).map(key(s, _)) }
      .groupBy(identity).map { case (k, v) => k -> v.length }
    (for {
      (Some(i), x) <- signed; (Some(j), y) <- signed if ord.lt(i, j)
      if (0 until 4).exists(b => key(x, b) == key(y, b) && size(key(x, b)) <= maxBucket)
      n = x.zip(y).count { case (p, q) => p == q } if n >= 8
    } yield (i, j, n)).groupBy(p => (p._1, p._2)).map { case ((i, j), v) => (i, j, v.map(_._3).min) }.toSet
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

    // edge rows on top of the corpus, checked against the capped brute
    // force row for row, with long and with string ids, as 1 and as 8
    // input partitions: NULL hashes, NULL ids (they fill their bucket but
    // pair with nothing), a duplicated id, and exact-hash buckets of
    // exactly maxBucket docs (kept), of maxBucket docs plus a NULL id and
    // of maxBucket + 1 docs (both over the cap on every band)
    val maxBucket = 10
    val (hA, hB, hC) = (0x1111222233334444L, 0x5555666677778888L, 0x99990000bbbbccccL)
    val edge: Seq[(Option[Long], Option[Long])] =
      brute.toSeq.map { case (i, p) => (Some(i), Some(p)) } ++
        Seq((Some(1000L), None), (Some(1001L), None), (None, None), (None, Some(a ^ 1L)),
          (Some(5L), Some(brute(5)._2 ^ 1L))) ++
        (0 until maxBucket).map(k => (Some(2000L + k), Some(hA))) ++
        (0 until maxBucket).map(k => (Some(2100L + k), Some(hB))) ++ Seq((None, Some(hB))) ++
        (0 to maxBucket).map(k => (Some(2200L + k), Some(hC)))
    val expectedEdge = cappedPairs(edge, maxHamming = 3, bits = 64, maxBucket)
    assert(expectedEdge.count(p => p._1 >= 2000L) == maxBucket * (maxBucket - 1) / 2)
    assert(expectedEdge.exists(p => p._1 == 5L || p._2 == 5L))
    val asText = edge.map { case (i, p) => (i.map(_.toString), p) }
    val expectedText = cappedPairs(asText, maxHamming = 3, bits = 64, maxBucket)
    // string order, not numeric: "1000" < "9"
    assert(expectedText.exists { case (x, y, _) => x.toLong > y.toLong })
    for (parts <- Seq(1, 8)) {
      val longs = Dedup.phashNearDup(edge.toDF("id", "ph").repartition(parts), "id", "ph",
        maxHamming = 3, maxBucket = maxBucket).as[(Long, Long, Int)].collect()
      assert(longs.sorted.toSeq == expectedEdge.sorted, s"long ids, $parts partitions")
      val texts = Dedup.phashNearDup(asText.toDF("id", "ph").repartition(parts), "id", "ph",
        maxHamming = 3, maxBucket = maxBucket).as[(String, String, Int)].collect()
      assert(texts.sorted.toSeq == expectedText.sorted, s"string ids, $parts partitions")
    }
  }

  /** phashNearDup's answer by brute force over rows: every row pair with
    * ids a < b and hashes within maxHamming that collides on at least one
    * band whose bucket holds at most maxBucket hashed rows (NULL ids
    * included), once per row pair. NULL ids and NULL hashes pair with
    * nothing. */
  private def cappedPairs[T](rows: Seq[(Option[T], Option[Long])], maxHamming: Int, bits: Int,
      maxBucket: Int)(implicit ord: Ordering[T]): Seq[(T, T, Int)] = {
    val bands = maxHamming + 1
    val width = bits / bands
    def seg(h: Long, b: Int) = (BigInt(h) >> (b * width)) & ((BigInt(1) << width) - 1)
    val hashed = rows.collect { case (id, Some(h)) => (id, h) }
    val bucket = hashed.flatMap { case (_, h) => (0 until bands).map(b => (b, seg(h, b))) }
      .groupBy(identity).map { case (k, v) => k -> v.length }
    for {
      (Some(i), x) <- hashed; (Some(j), y) <- hashed if ord.lt(i, j)
      if java.lang.Long.bitCount(x ^ y) <= maxHamming
      if (0 until bands).exists(b => seg(x, b) == seg(y, b) && bucket((b, seg(x, b))) <= maxBucket)
    } yield (i, j, java.lang.Long.bitCount(x ^ y))
  }

  test("phashNearDup: a 64-bit single band keeps its full-width segment") {
    // one band of 64 bits: the segment is the whole hash, so 0x10 and 0x20
    // fall in different buckets and neither is over a cap of 2
    val in = Seq((1L, 0x10L), (2L, 0x10L), (3L, 0x20L)).toDF("id", "ph")
    for (bits <- Seq(63, 64)) {
      val got = Dedup.phashNearDup(in, "id", "ph", maxHamming = 0, bits = bits, maxBucket = 2)
        .as[(Long, Long, Int)].collect().toSeq
      assert(got == Seq((1L, 2L, 0)), s"bits = $bits")
    }
  }

  test("phashNearDup: one shuffle per call, and the action runs only the kernel stage") {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val parallelism = sc.defaultParallelism
    assume(parallelism > 1)
    val (pin, marker) = ("phash-one-shuffle", "phash-one-shuffle-marker")
    def group(j: SparkListenerJobStart) = j.properties.getProperty("spark.jobGroup.id")
    // every job (in any group but the marker's) and every completed stage
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val markers = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      private val markerIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (group(e) == marker) markerIds.add(e.jobId) else jobs.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerIds.contains(e.jobId)) markers.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    }
    // the bus delivers in order: once the listener has seen a marker job
    // end, it has seen every event posted before it
    var settled = 0
    def settle(): Unit = {
      withJobCount(marker)(sc.parallelize(Seq(1), 1).count())
      settled += 1
      val deadline = System.nanoTime() + 30000000000L
      while (markers.get < settled && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markers.get == settled)
    }
    // `body`'s jobs and the completed stages of those jobs
    def phase[T](body: => T): (T, Seq[SparkListenerJobStart], Seq[StageInfo]) = {
      settle()
      jobs.clear()
      stages.clear()
      val res = withJobCount(pin)(body)._1
      settle()
      val js = jobs.asScala.toSeq
      val ids = js.flatMap(_.stageIds).toSet
      (res, js, stages.asScala.toSeq.filter(s => ids(s.stageId)))
    }
    sc.addSparkListener(listener)
    val ((pairs, callJobs, callStages), (n, actionJobs, actionStages)) = try {
      val call = phase(Dedup.phashNearDup(phashCorpus, "id", "ph", maxHamming = 3, maxBucket = 6))
      (call, phase(call._1.collect().length))
    } finally sc.removeSparkListener(listener)
    assert(n > 0)
    // no join: no job of a broadcast exchange (it runs in a group of its
    // own), no second map stage (a shuffle join), none in the returned plan
    assert((callJobs ++ actionJobs).forall(j => group(j) == pin))
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(pairs.queryExecution.executedPlan) { case j: BaseJoinExec => j }.isEmpty)
    // the call computes the one shuffle map stage (the banded rows) and
    // counts its runs; the action's one job reads the same shuffle, skips
    // its map stage and runs only the kernel, as wide as the session
    def writesShuffle(s: StageInfo) = s.taskMetrics.shuffleWriteMetrics.recordsWritten > 0
    val mapStages = callStages.filter(writesShuffle)
    assert(mapStages.length == 1 && callJobs.length == 2, callStages.map(_.name))
    assert(actionJobs.length == 1 && !actionStages.exists(writesShuffle), actionJobs.map(_.stageIds))
    // the action's job numbers the map stage anew and skips it: same RDDs
    val skipped = actionJobs.head.stageInfos.filterNot(s => actionStages.exists(_.stageId == s.stageId))
    assert(skipped.map(_.rddInfos.map(_.id).toSet) == Seq(mapStages.head.rddInfos.map(_.id).toSet))
    assert(actionStages.map(_.stageId) == Seq(actionJobs.head.stageIds.max), actionStages.map(_.name))
    assert(actionStages.head.numTasks == parallelism)
  }

  test("phashNearDup: with no bucket able to pass the cap, the call runs the map stage alone") {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val (call, action, marker) = ("phash-no-count", "phash-no-count-action", "phash-no-count-marker")
    def group(j: SparkListenerJobStart) = j.properties.getProperty("spark.jobGroup.id")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val markers = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (group(e) == marker) markers.incrementAndGet() else jobs.add(e)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    val pairs = try {
      // 300 docs under a cap of 300: the exchange's 1,200 rows (one per doc
      // and band) bound every bucket within the cap, so no job counts them
      val pairs = withJobCount(call)(Dedup.phashNearDup(phashCorpus, "id", "ph", maxHamming = 3,
        maxBucket = 300))._1
      val got = withJobCount(action)(pairs.as[(Long, Long, Int)].collect())._1
      // the bus delivers in order: once the marker job has started, the
      // listener has seen every event of the two groups, their stages too
      withJobCount(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (markers.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      got
    } finally sc.removeSparkListener(listener)
    val docs = phashCorpus.as[(Long, Long)].collect().toSeq.map { case (i, h) => (Some(i), Some(h)) }
    assert(pairs.sorted.toSeq == cappedPairs(docs, maxHamming = 3, bits = 64, maxBucket = 300).sorted)
    def writesShuffle(s: StageInfo) = s.taskMetrics.shuffleWriteMetrics.recordsWritten > 0
    val done = stages.asScala.toSeq
    val callJobs = jobs.asScala.toSeq.filter(group(_) == call)
    val actionJobs = jobs.asScala.toSeq.filter(group(_) == action)
    // the call's one job is the one shuffle map stage
    assert(callJobs.length == 1, callJobs.map(_.stageIds))
    val map = done.filter(s => callJobs.head.stageIds.contains(s.stageId))
    assert(map.length == 1 && writesShuffle(map.head), map.map(_.name))
    // the action's one job skips that stage (same RDDs) and runs the kernel
    assert(actionJobs.length == 1, actionJobs.map(_.stageIds))
    val ran = done.filter(s => actionJobs.head.stageIds.contains(s.stageId))
    assert(ran.length == 1 && !writesShuffle(ran.head), ran.map(_.name))
    val skipped = actionJobs.head.stageInfos.filterNot(_.stageId == ran.head.stageId)
    assert(skipped.map(_.rddInfos.map(_.id).toSet) == Seq(map.head.rddInfos.map(_.id).toSet))
  }

  test("phashNearDup: the no-count path and the count path (AQE off) match the brute force") {
    // long string ids, long ids, NULL hashes, NULL ids, a duplicated id and
    // an exact-hash bucket; a cap above the doc count, so with AQE no job
    // counts the buckets, and without AQE (no runtime row count) one does
    val docs = phashCorpus.as[(Long, Long)].collect().toSeq
    val hA = 0x1111222233334444L
    val edge: Seq[(Option[Long], Option[Long])] =
      docs.map { case (i, p) => (Some(i), Some(p)) } ++
        Seq((Some(1000L), None), (None, None), (None, Some(docs(3)._2)), (Some(5L), Some(docs(5)._2 ^ 1L))) ++
        (0 until 12).map(k => (Some(2000L + k), Some(hA)))
    val maxBucket = edge.length
    val expected = cappedPairs(edge, maxHamming = 3, bits = 64, maxBucket).sorted
    val asText = edge.map { case (i, p) => (i.map(n => f"near-duplicate-doc-$n%012d"), p) }
    val expectedText = cappedPairs(asText, maxHamming = 3, bits = 64, maxBucket).sorted
    assert(expected.length > 100 && expected.exists(p => p._1 == 5L || p._2 == 5L))
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    for ((session, adaptive) <- Seq((spark, true), (noAqe, false)); parts <- Seq(1, 8)) {
      val what = s"adaptive $adaptive, $parts partitions"
      def run(in: org.apache.spark.sql.DataFrame) = {
        val (out, jobs) = withJobCount(s"phash-paths, $what, ${in.schema("id").dataType}")(
          Dedup.phashNearDup(org.apache.spark.sql.GraftSqlBridge.withSession(in.repartition(parts), session),
            "id", "ph", maxHamming = 3, maxBucket = maxBucket))
        // with AQE the call runs the input's exchange and the one map stage,
        // and no count; without AQE it runs the count alone
        assert(jobs == (if (adaptive) 2 else 1), s"$what: $jobs jobs at call time")
        out
      }
      assert(run(edge.toDF("id", "ph")).as[(Long, Long, Int)].collect().sorted.toSeq == expected, what)
      assert(run(asText.toDF("id", "ph")).as[(String, String, Int)].collect().sorted.toSeq == expectedText,
        what)
    }
  }

  test("minhashCandidates, jaccardPairs, nearDupPairs: one exchange into the kernel, no join") {
    val parallelism = spark.sparkContext.defaultParallelism
    // a range as wide as the session is scan-shaped, so q11 adds no spread
    val docs = spark.range(0, 400, 1, parallelism).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 8).map(w => (col("id") % 13 + w * w).cast("string")): _*).as("text"))
    assertPairShape("minhash", Dedup.minhashCandidates(docs, "text", "doc_id", minEqual = 4))
    assertPairShape("jaccard", Dedup.jaccardPairs(docs, "text", "doc_id", col("doc_id") % 9))
    val vecs = docs.select(col("doc_id").as("id"), (col("doc_id") % 5).as("block"),
      array((0 until 4).map(j => ((col("doc_id") + j) % 7).cast("float")): _*).as("vec"))
    assertPairShape("cosine", graft.similarity.Similarity.nearDupPairs(vecs, threshold = 0.9))
  }

  /** Collects `pairs` and pins the one pair shape: no join anywhere, one
    * shuffle exchange into the [[BucketPairs]] kernel, and a kernel stage
    * as wide as the session (AQE did not coalesce it). Returns the row
    * count, which must be positive. */
  private def assertPairShape(what: String, pairs: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val parallelism = spark.sparkContext.defaultParallelism
    assume(parallelism > 1)
    val n = pairs.collect().length
    assert(n > 0, what)
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = pairs.queryExecution.executedPlan
    assert(helper.collect(plan) { case j: BaseJoinExec => j }.isEmpty, s"$what: $plan")
    val kernel = helper.collect(plan) { case m: MapPartitionsExec => m }
    assert(kernel.length == 1, s"$what: $plan")
    assert(helper.collect(kernel.head) { case e: ShuffleExchangeLike => e }.length == 1, s"$what: $plan")
    assert(kernel.head.outputPartitioning.numPartitions == parallelism, s"$what: $plan")
    n
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

  test("phashNearDup: many buckets over the cap, each member's capped bands read from its hash") {
    val docs = phashCorpus.as[(Long, Long)].collect().toSeq
    val (hA, hB, hC, hD) =
      (0x1111222233334444L, 0x5555666677778888L, 0x99990000bbbbccccL, 0x0f0f1e1e2d2d3c3cL)
    for (maxBucket <- Seq(1, 2)) {
      // the corpus (most buckets over a cap this low), NULL hashes, a NULL
      // id, a duplicated id; exact-hash buckets of maxBucket docs, of
      // maxBucket docs plus a NULL id and of maxBucket + 1 docs; and a pair
      // (2300, 2301) colliding on bands 0-2 whose band-0 and band-1 buckets
      // a NULL-id row tips over a cap of 2, so it comes back from band 2
      val edge: Seq[(Option[Long], Option[Long])] =
        docs.map { case (i, p) => (Some(i), Some(p)) } ++
          Seq((Some(1000L), None), (None, None), (Some(5L), Some(docs(5)._2 ^ 1L))) ++
          (0 until maxBucket).map(k => (Some(2000L + k), Some(hA))) ++
          (0 until maxBucket).map(k => (Some(2100L + k), Some(hB))) ++ Seq((None, Some(hB))) ++
          (0 to maxBucket).map(k => (Some(2200L + k), Some(hC))) ++
          Seq((Some(2300L), Some(hD)), (Some(2301L), Some(hD ^ (1L << 63))), (None, Some(hD ^ (1L << 40))))
      val over = edge.collect { case (_, Some(h)) => h }
        .flatMap(h => (0 until 4).map(b => (b, (h >>> (16 * b)) & 0xffffL)))
        .groupBy(identity).count(_._2.length > maxBucket)
      assert(over > 100, s"$over buckets over a cap of $maxBucket")
      val expected = cappedPairs(edge, maxHamming = 3, bits = 64, maxBucket)
      if (maxBucket == 2) {
        assert(expected.contains((2300L, 2301L, 1)) && expected.contains((2000L, 2001L, 0)))
        assert(!expected.exists(p => p._1 >= 2100L && p._1 < 2300L))
      }
      val asText = edge.map { case (i, p) => (i.map(_.toString), p) }
      val expectedText = cappedPairs(asText, maxHamming = 3, bits = 64, maxBucket)
      for (parts <- Seq(1, 8)) {
        val longs = Dedup.phashNearDup(edge.toDF("id", "ph").repartition(parts), "id", "ph",
          maxHamming = 3, maxBucket = maxBucket).as[(Long, Long, Int)].collect()
        assert(longs.sorted.toSeq == expected.sorted, s"long ids, maxBucket $maxBucket, $parts partitions")
        val texts = Dedup.phashNearDup(asText.toDF("id", "ph").repartition(parts), "id", "ph",
          maxHamming = 3, maxBucket = maxBucket).as[(String, String, Int)].collect()
        assert(texts.sorted.toSeq == expectedText.sorted, s"string ids, maxBucket $maxBucket, $parts partitions")
      }
    }
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

  /** First id of the bulk [[pastBound]] adds, above every test graph's ids. */
  private val Bulk = 1L << 40

  /** `graph` plus 2^17 disjoint pairs from [[Bulk]] up: the pairs keep all
    * 131,072 forest edges, so the symmetrized list holds over 262,144 rows,
    * past the 250k that one task labels, and connectedComponents runs its
    * two-phase loop. The pairs settle in round 0 and drop out at phase 2's
    * contraction, so the rounds counted are `graph`'s own. */
  private def pastBound(graph: org.apache.spark.sql.DataFrame) =
    graph.unionByName(spark.range(1L << 17)
      .select((col("id") * 2 + Bulk).as("a_id"), (col("id") * 2 + Bulk + 1).as("b_id")))

  test("connectedComponents fails loudly when maxIter is below what the graph needs") {
    // a 7-node chain contracts in 4 star rounds; maxIter=2 must throw, not
    // silently return partially-contracted (wrong) labels. One edge per
    // input partition: the per-partition forest cannot shorten the chain
    val chain = pastBound(spark.sparkContext.parallelize((1L until 7L).map(i => (i, i + 1)), 6)
      .toDF("a_id", "b_id"))
    val e = intercept[IllegalStateException](Dedup.connectedComponents(chain, maxIter = 2))
    assert(e.getMessage.contains("did not converge"))
    // and a sufficient maxIter converges to the single min label
    val (ldf, rounds, _) = Dedup.connectedComponentsStats(chain)
    val ok = ldf.where(col("id") < Bulk).as[(Long, Long)].collect()
    assert(ok.forall(_._2 == 1L) && ok.length == 7)
    info(s"rounds: $rounds")
    assert(rounds > 0) // the loop ran: the one-task path reports 0 rounds
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
    val (ldf, rounds, _) = Dedup.connectedComponentsStats(pastBound(path), maxIter = 22)
    val labels = ldf.where(col("id") < Bulk).as[(Long, Long)].collect()
    assert(labels.length == 1001 && labels.forall(_._2 == 0L))
    info(s"rounds: $rounds")
    assert(rounds > 0 && rounds <= 22)
    // the bulk pairs come back exact too: each labelled by its even member
    val bulk = ldf.where(col("id") >= Bulk)
    assert(bulk.count() == 2L << 17)
    assert(bulk.where(col("label") =!= col("id") - col("id") % 2).isEmpty)
  }

  test("connectedComponents: round count is independent of id layout (permuted path)") {
    // THE regression the CC scale probe caught: min-propagation +
    // label-of-label shortcut converges fast only when id order follows
    // graph position — a 4095-diameter path with ids scrambled by an affine
    // bijection mod a prime blew past 40 rounds. The star-contraction
    // finish is topology-only: the same permuted path converges in 16
    // total rounds (8 propagation + 8 star).
    val n = 4096L
    val P = java.math.BigInteger.valueOf(n).nextProbablePrime().longValueExact()
    val a = 6364136223846793005L % P
    def perm(c: org.apache.spark.sql.Column) =
      pmod(c % P * (a % P) + 1442695040888963407L % P, lit(P))
    // scattered one edge per partition in turn, as in the 1000-edge path
    val ppath = spark.range(0, n - 1)
      .select(perm(col("id")).as("a_id"), perm(col("id") + 1).as("b_id"))
      .repartition(8)
    val (labels, rounds, _) = Dedup.connectedComponentsStats(pastBound(ppath), maxIter = 20)
    info(s"rounds: $rounds")
    assert(rounds > 0 && rounds <= 20)
    val l = labels.where(col("id") < Bulk).cache()
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

  test("connectedComponents: a graph within one partition is labelled in one job, nothing leaked") {
    val sc = spark.sparkContext
    // a 2,000-node path, deep enough that the loop would need ~19 rounds:
    // one job materializes the edge list and counts it (an observed local
    // checkpoint), and the union-find labelling is 1 more, whatever the depth
    val path = (0L until 2000L).map(i => (i, i + 1)).toDF("a_id", "b_id").repartition(8)
      .localCheckpoint(true)
    val ((labels, rounds, width), jobs) =
      withJobCount("graft_cc_one_task")(Dedup.connectedComponentsStats(path))
    info(s"one-task jobs: $jobs")
    assert(jobs == 2, s"$jobs jobs")
    assert(rounds == 0 && width == 1)
    assert(labels.as[(Long, Long)].collect().toSet == (0L to 2000L).map(_ -> 0L).toSet)
    Dedup.freeCheckpoint(labels)
    Dedup.freeCheckpoint(path)
    // each call leaves exactly its returned checkpoint cached (the edge
    // list's checkpoint is freed); twenty different inputs, since the cache
    // would dedupe identical plans. Ids, not sizes: Spark's cleaner may drop
    // earlier tests' checkpoints meanwhile
    def cached = sc.getPersistentRDDs.keySet
    val before = cached
    val kept = (1 to 20).map { i =>
      val known = cached
      val l = Dedup.connectedComponents((0L until 50L).map(j => (j, (j * 7 + i) % 50)).toDF("a_id", "b_id"))
      assert((cached -- known).size == 1, s"call $i")
      l
    }
    kept.foreach(Dedup.freeCheckpoint)
    assert((cached -- before).isEmpty)
  }

  test("connectedComponents: one-task labels keep their one partition, so a count is one job") {
    // the labels are Catalyst rows wrapped as a frame: without the stated
    // single partition, an aggregate over them would add an exchange (2 jobs)
    val edges = (0L until 500L).map(i => (i, (i * 7) % 500)).toDF("a_id", "b_id").repartition(4)
    val (labels, rounds, _) = Dedup.connectedComponentsStats(edges)
    assert(rounds == 0)
    val (n, jobs) = withJobCount("graft_cc_labels_count")(labels.count())
    assert(n == 500L)
    assert(jobs == 1, s"$jobs jobs")
    Dedup.freeCheckpoint(labels)
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
      Iterator[org.apache.spark.sql.catalyst.InternalRow](
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](i, i + 1)),
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](i + 1, i))))
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

  test("Catalyst-row passes keep what they hold past a reused row buffer") {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // a projection writes every row into one buffer, as a sorted run's
    // reader may: the phash kernel's string ids and the forest's
    // NULL-endpoint rows must be copies, or they all read the last row
    val phash = UnsafeProjection.create(Array[DataType](LongType, StringType, IntegerType, LongType))
    val ids = (0 until 5).map(i => f"near-duplicate-doc-$i%012d")
    val bucket = ids.iterator.map(id =>
      phash(new GenericInternalRow(Array[Any](7L, UTF8String.fromString(id), 0, 0x10L))))
    val kernel = new Dedup.PhashPairs(maxHamming = 3, width = 16, maxBucket = 10, StringType,
      Array.emptyLongArray)
    val got = kernel.pairs(bucket).map(r => (r.getUTF8String(0).toString, r.getUTF8String(1).toString))
    assert(got.toSet == ids.combinations(2).map(p => (p(0), p(1))).toSet)
    val edge = UnsafeProjection.create(Array[DataType](LongType, LongType))
    val edges = Iterator[Array[Any]](Array(1L, null), Array(null, 2L), Array(3L, 4L))
      .map(e => edge(new GenericInternalRow(e)))
    val forest = SpanningForest.contract(edges)
      .map(r => (Option(r.get(0, LongType)), Option(r.get(1, LongType)))).toSet
    assert(forest == Set((Some(1L), None), (None, Some(2L)), (Some(4L), Some(3L))))
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

  test("jaccardPairs: edge rows match a brute force of the pairs sharing a token") {
    // blocks of 7 over a small vocabulary with mixed case and non-ASCII
    // tokens (UTF-8 byte order differs from UTF-16 order past U+FFFF), one
    // block of 80 docs, and edge rows: NULL, empty and blank text, NULL
    // ids, NULL blocks, a duplicated id; long and string ids, 1 and 8
    // input partitions
    val words = Vector("red", "Apple", "pie", "tart", "blue", "sky", "\u00e9t\u00e9",
      "\ud83d\ude00", "\uff21\uff22", "\u65e5\u672c", "RED", "x")
    val rows: Seq[(Option[Long], Option[String], Option[Int])] = (0 until 200).map { i =>
      val text = (0 until 1 + i % 4).map(w => words((i * 5 + w * 7) % words.length)).mkString(if (i % 3 == 0) "  " else " ")
      (Some(i.toLong), Some(text), Some(if (i >= 120) 99 else i / 7))
    } ++ Seq((Some(300L), None, Some(1)), (Some(301L), Some(""), Some(1)), (Some(302L), Some("   "), Some(1)),
      (None, Some("red apple"), Some(1)), (Some(303L), Some("red apple"), None), (Some(3L), Some("pie sky"), Some(1)))
    val expected = jaccardBrute(rows)
    assert(expected.exists(p => p._1 >= 120L) && expected.exists(p => p._1 == 3L || p._2 == 3L))
    val asText = rows.map { case (i, t, b) => (i.map(_.toString), t, b) }
    val expectedText = jaccardBrute(asText)
    assert(expectedText.exists { case (x, y, _, _) => x.toLong > y.toLong })
    for (parts <- Seq(1, 8)) {
      val longs = Dedup.jaccardPairs(rows.toDF("doc_id", "text", "blk").repartition(parts), "text", "doc_id",
        col("blk")).as[(Long, Long, Int, Int)].collect()
      assert(longs.sorted.toSeq == expected.sorted, s"long ids, $parts partitions")
      val texts = Dedup.jaccardPairs(asText.toDF("doc_id", "text", "blk").repartition(parts), "text", "doc_id",
        col("blk")).as[(String, String, Int, Int)].collect()
      assert(texts.sorted.toSeq == expectedText.sorted, s"string ids, $parts partitions")
    }
  }

  /** jaccardPairs' answer by brute force over rows: every pair of rows
    * with ids a < b in the same non-NULL block whose distinct lower-cased
    * whitespace tokens meet, as (a, b, |A ∩ B|, |A ∪ B|). */
  private def jaccardBrute[T](rows: Seq[(Option[T], Option[String], Option[Int])])(
      implicit ord: Ordering[T]): Seq[(T, T, Int, Int)] = {
    def toks(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
    for {
      (Some(i), Some(x), Some(bx)) <- rows; (Some(j), Some(y), Some(by)) <- rows
      if ord.lt(i, j) && bx == by
      n = (toks(x) & toks(y)).size if n > 0
    } yield (i, j, n, (toks(x) | toks(y)).size)
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
    val (labels, rounds, _) = Dedup.connectedComponentsStats(pastBound(ppath), maxIter = 8)
    info(s"rounds: $rounds")
    assert(rounds > 0 && rounds <= 8)
    val l = labels.where(col("id") < Bulk)
    assert(l.count() == n)
    assert(l.select("label").distinct().count() == 1)
  }
}
