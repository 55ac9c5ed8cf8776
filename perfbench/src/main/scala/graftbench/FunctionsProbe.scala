package graftbench

import graft.corpus.SyntheticImages
import graft.functions.{CaptionFeatures, LangId, Perplexity, Scrubber}

/** Single-thread cost of the `graft.functions` calls that the quality
  * filter's UDFs make per caption, on a fixed seeded caption sample.
  */
object FunctionsProbe {
  def run(seed: Long, n: Int): Seq[(String, Double)] = {
    val captions = Iterator.from(0)
      .map(i => SyntheticImages.row(i.toLong, seed, withBytes = false).caption)
      .filter(c => c != null && c.nonEmpty).take(n).toArray
    var sink = 0L
    def nsPerCaption(f: String => Any): Double = {
      def loop(): Double = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < captions.length) { sink += f(captions(i)).hashCode; i += 1 }
        (System.nanoTime() - t0).toDouble / captions.length
      }
      (1 to 3).foreach(_ => loop())
      val xs = (1 to 5).map(_ => loop()).sorted
      xs(2)
    }
    val out = Seq(
      "functions.features_ns" -> nsPerCaption(c => CaptionFeatures.extract(c, 6)),
      "functions.langid_ns" -> nsPerCaption(c => LangId.predict(c)),
      "functions.ppl_ns" -> nsPerCaption(c => Perplexity.score(c)),
      "functions.scrub_ns" -> nsPerCaption(c => Scrubber.scrubWithCounts(c)._2.sum))
    if (sink == 42L) println("")
    out
  }
}
