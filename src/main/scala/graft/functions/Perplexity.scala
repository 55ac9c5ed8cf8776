package graft.functions

import scala.collection.mutable

/** KenLM-style character-trigram perplexity scorer (north rule), built on
  * batched n-gram hashing and designed for `mapPartitions` over a typed
  * Dataset (amortizes nothing per-row; per-partition it touches one shared
  * count table — SURVEY §7.3 "mapPartitions: perplexity").
  *
  * The model is a hashed trigram→count table with add-k smoothing over a
  * fixed seed corpus embedded in-repo (deterministic, no external data — the
  * fixture discipline of FIXTURES.md). Scores: ppl(text) =
  * exp(-mean log P(c_i | c_{i-2} c_{i-1})). Natural prose from the seed
  * distribution scores low; gibberish and symbol soup score high — the
  * pipeline drops rows above a threshold.
  *
  * The table (~100 KB) is built once per JVM on first use and never shipped
  * to executors: each builds its own, as for [[LangId]].
  */
object Perplexity extends Serializable {

  private val addK = 0.1
  /** open-vocabulary alphabet size for smoothing (bytes + slack) */
  private val vocab = 512

  /** Seed corpus: deterministic in-repo text spanning the pipeline's caption
    * vocabulary + anchor stopwords, so real captions are "in-domain".
    */
  private val seedCorpus: String = {
    val caption = Seq(
      "a photo of a cat sitting on a wooden table in warm light",
      "black and white picture of mountains under a cloudy sky",
      "two dogs running through green grass near the river bank",
      "close up view of a red flower with soft blurred background",
      "a group of people walking down a busy city street at night",
      "an old stone bridge crossing a calm river in autumn colors",
      "aerial view of a coastline with turquoise water and white sand",
      "portrait of a young woman smiling in front of a brick wall",
      "the fast brown fox jumps over the lazy dog near the fence",
      "children playing football on a sunny afternoon in the park",
    )
    val anchors = LangId.anchors.values.flatten.mkString(" ")
    (caption ++ Seq(anchors)).mkString(" . ") * 4
  }

  private def key(a: Char, b: Char, c: Char): Long =
    (a.toLong << 32) ^ (b.toLong << 16) ^ c.toLong

  private def key2(a: Char, b: Char): Long = (a.toLong << 16) ^ b.toLong

  /** trigram and bigram count tables, built once per JVM, deterministically. */
  lazy val (tri, bi): (mutable.LongMap[Int], mutable.LongMap[Int]) = {
    val t = new mutable.LongMap[Int]()
    val b = new mutable.LongMap[Int]()
    val s = "" + seedCorpus.toLowerCase + ""
    var i = 2
    while (i < s.length) {
      val kt = key(s.charAt(i - 2), s.charAt(i - 1), s.charAt(i))
      t.update(kt, t.getOrElse(kt, 0) + 1)
      val kb = key2(s.charAt(i - 2), s.charAt(i - 1))
      b.update(kb, b.getOrElse(kb, 0) + 1)
      i += 1
    }
    (t, b)
  }

  /** Perplexity of a text; Double.MaxValue-ish ceiling for null/empty is
    * avoided — null/empty returns NaN, callers treat it via their null rules
    * first.
    */
  // Hot path: log((ct+k)/(cb+kV)) = logTri(kt) - logBi(kb) with the logs
  // PRECOMPUTED per table entry - score() then does two hash lookups and a
  // subtraction per character, zero Math.log calls at scoring time.
  private lazy val logTables: (mutable.LongMap[Double], mutable.LongMap[Double], Double, Double) = {
    val lt = new mutable.LongMap[Double](tri.size * 2)
    tri.foreach { case (k, c) => lt.update(k, math.log(c + addK)) }
    val lb = new mutable.LongMap[Double](bi.size * 2)
    bi.foreach { case (k, c) => lb.update(k, math.log(c + addK * vocab)) }
    (lt, lb, math.log(addK), math.log(addK * vocab))
  }

  def score(text: String): Double = {
    if (text == null || text.isEmpty) return Double.NaN
    val (lt, lb, ltDef, lbDef) = logTables
    val s = text.toLowerCase
    var logSum = 0.0
    var n = 0
    var i = 2
    while (i < s.length) {
      val kt = key(s.charAt(i - 2), s.charAt(i - 1), s.charAt(i))
      val kb = key2(s.charAt(i - 2), s.charAt(i - 1))
      logSum += lt.getOrElse(kt, ltDef) - lb.getOrElse(kb, lbDef)
      n += 1
      i += 1
    }
    math.exp(-logSum / n)
  }
}
