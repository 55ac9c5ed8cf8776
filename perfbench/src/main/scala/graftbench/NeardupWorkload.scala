package graftbench

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

import java.util.stream.IntStream
import scala.collection.mutable

/** Seeded `(doc_id, phash)` layouts over 48-bit hashes. */
object Layouts {
  private val Mask48 = (1L << 48) - 1

  /** splitmix64 finalizer of (seed, i). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + i
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** q28's shape: 80 base hashes, each doc flips 0, 1 or 2 bits of its base
    * at positions derived from its id. Docs share few distinct hashes, so
    * the band self-join sees large buckets of repeated values.
    */
  def hot(n: Int, seed: Long): Array[Long] = {
    val off = java.lang.Math.floorMod(seed, 48L)
    Array.tabulate(n) { i =>
      val base = mix(seed, i % 80) & Mask48
      val k = i % 3
      val f0 = if (k >= 1) 1L << ((i * 7L + off) % 48) else 0L
      val f1 = if (k >= 2) 1L << ((i * 7L + 13 + off) % 48) else 0L
      base ^ f0 ^ f1
    }
  }

  /** Random hashes in clusters of 4: every fourth doc starts a cluster, the
    * other three flip one bit of its hash. Nearly every hash is distinct.
    */
  def sparse(n: Int, seed: Long): Array[Long] =
    Array.tabulate(n) { i =>
      val c = i / 4L
      val base = mix(seed ^ 0x5bd1e995L, c) & Mask48
      val j = i % 4
      if (j == 0) base else base ^ (1L << java.lang.Math.floorMod(mix(seed + j, c), 48L))
    }
}

/** Reference answer for near-duplicate pairs and their components, computed
  * on the driver without Spark: docs are grouped by exact hash, every pair
  * of distinct hashes is compared, and a union-find labels each component
  * with its smallest doc id.
  */
final class NearDupOracle(hashes: Array[Long], maxHamming: Int) {
  private val byHash: Map[Long, Array[Int]] =
    hashes.indices.toArray.groupBy(i => hashes(i))
  private val distinct: Array[Long] = byHash.keys.toArray

  /** For each distinct hash, the later distinct hashes within `maxHamming`. */
  private val near: Array[Array[Int]] =
    IntStream.range(0, distinct.length).parallel().mapToObj[Array[Int]] { i =>
      val out = mutable.ArrayBuilder.make[Int]
      val h = distinct(i)
      var j = i + 1
      while (j < distinct.length) {
        if (java.lang.Long.bitCount(h ^ distinct(j)) <= maxHamming) out += j
        j += 1
      }
      out.result()
    }.toArray(n => new Array[Array[Int]](n))

  val pairs: Long = {
    val mult = distinct.map(h => byHash(h).length.toLong)
    mult.map(m => m * (m - 1) / 2).sum +
      near.indices.map(i => near(i).map(j => mult(i) * mult(j)).sum).sum
  }

  /** doc id -> smallest doc id of its component, for docs with a partner. */
  val labels: Map[Long, Long] = {
    val parent = Array.tabulate(hashes.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val partnered = mutable.BitSet()
    distinct.indices.foreach { i =>
      val members = byHash(distinct(i))
      if (members.length > 1) members.foreach { m => union(members(0), m); partnered += m }
      near(i).foreach { j =>
        val other = byHash(distinct(j))
        union(members(0), other(0))
        partnered ++= members
        partnered ++= other
      }
    }
    // doc ids equal row indices, and union keeps the smaller index as root
    partnered.iterator.map(d => d.toLong -> find(d).toLong).toMap
  }
}

/** `neardup_hot` / `neardup_sparse`: one seeded `(doc_id, phash)` table of
  * the given layout through `Dedup.phashNearDup` ->
  * `Dedup.connectedComponents` to materialized labels. `hot` repeats few
  * hashes; `sparse` has nearly all distinct. Each layout is its own
  * workload, so a change on one is gated without the other diluting it.
  */
final class NeardupWorkload(o: Opts, layout: String) extends Workload
    with AdaptiveSparkPlanHelper {
  private val maxHamming = 3
  private val hashes = layout match {
    case "hot" => Layouts.hot(if (o.tiny) 800 else 10000, o.seed)
    case "sparse" => Layouts.sparse(if (o.tiny) 4000 else 50000, o.seed)
  }
  private var table: DataFrame = _
  private lazy val nearDupOracle = new NearDupOracle(hashes, maxHamming)
  val items: Long = hashes.length

  def build(spark: SparkSession): Unit = {
    import spark.implicits._
    table = hashes.toSeq.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "phash").repartition(o.k).persist()
    table.count()
  }

  def oracle(): Unit = nearDupOracle

  /** The `graft.Queries` layer is measured in traced `neardup_sparse` runs. */
  override def finish(p: Pass): Unit = if (o.trace && layout == "sparse") OperatorsProbe.run(o, p)

  def pass(p: Pass): Unit = p.operation(s"pass ${p.index} $layout") {
    val pairsCall = s"graft.dedup.Dedup.phashNearDup[$layout]"
    val ccCall = s"graft.dedup.Dedup.connectedComponents[$layout]"
    val (found, pairs, nPairs) = p.timed(pairsCall) {
      val f = Dedup.phashNearDup(table, "doc_id", "phash", maxHamming, bits = 48)
      val ck = f.localCheckpoint(eager = true)
      (f, ck, ck.count())
    }
    val labels = p.timed(ccCall) {
      val l = Dedup.connectedComponents(pairs.select("a_id", "b_id"))
      l.count()
      l
    }
    val bandRows = collect(found.queryExecution.executedPlan) {
      case j: BaseJoinExec if j.joinType == Inner => j.metrics("numOutputRows").value
    }.sum
    p.layer("dedup.pairs_s") = p.secondsOf(pairsCall)
    p.layer("dedup.cc_s") = p.secondsOf(ccCall)
    p.layer("dedup.pairs") = nPairs.toDouble
    p.layer("dedup.band_rows") = bandRows.toDouble
    p.layer("dedup.pair_yield") = nPairs.toDouble / math.max(1L, bandRows)
    p.stats(ccCall).foreach(s => p.layer("dedup.cc_jobs") = s.jobs.toDouble)
    try p.check(verify(nPairs, labels))
    finally release(pairs)
  }

  /** Drops the blocks of the harness's own pair checkpoint. Left to Spark's
    * cleaner, they were sometimes still held when the heap was read after
    * the pass, and `peak_heap_mb` on `hot` read 90 or 140 MB by chance.
    */
  private def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
      case _ =>
    }

  private def verify(nPairs: Long, labels: DataFrame): Seq[String] = {
    val oracle = nearDupOracle
    val errs = Seq.newBuilder[String]
    val got = if (o.perturb == "pair") nPairs - 1 else nPairs
    if (got != oracle.pairs) errs += s"$got pairs, oracle counts ${oracle.pairs}"
    var byId = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (o.perturb == "label" && byId.nonEmpty) {
      val (id, l) = byId.head
      byId = byId.updated(id, l + 1)
    }
    if (byId.size != oracle.labels.size)
      errs += s"${byId.size} labelled docs, oracle has ${oracle.labels.size}"
    val wrong = oracle.labels.count { case (id, l) => !byId.get(id).contains(l) }
    if (wrong > 0) errs += s"$wrong docs carry a label other than the union-find one"
    errs.result()
  }
}
