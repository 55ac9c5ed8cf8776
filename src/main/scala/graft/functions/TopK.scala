package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Map-side top-k aggregation — the scale path for "rank within group, keep
  * k" that every ANN/top-k stage needs.
  *
  * The window formulation (`row_number().over(partitionBy(g).orderBy(s)) <=
  * k`) materializes and SORTS every group in full before discarding all but
  * k rows — at 10^12 candidate rows that is a full shuffle + sort of data
  * that is 99.9% discarded. This Aggregator keeps a bounded k-element buffer
  * per group and, because Spark plans Aggregators with partial aggregation,
  * combines map-side BEFORE the shuffle: at most k rows per
  * (map partition × group) cross the wire, and nothing is globally sorted.
  *
  * Ordering: score descending, ties broken by the smaller id — the same
  * canonical tiebreak as the [[graft.similarity.Similarity]] window rankers,
  * so the two formulations are result-identical (asserted by TopKSpec).
  */
object TopK {

  final case class Entry(score: Double, id: Long)
  final case class EntryS(score: Double, id: String)

  /** Rank orders, best first: score descending, ties by the smaller id. */
  private val byLongId: Ordering[Entry] = new Ordering[Entry] {
    def compare(a: Entry, b: Entry): Int =
      if (a.score != b.score) java.lang.Double.compare(b.score, a.score)
      else java.lang.Long.compare(a.id, b.id)
  }
  private val byStringId: Ordering[EntryS] = new Ordering[EntryS] {
    def compare(a: EntryS, b: EntryS): Int =
      if (a.score != b.score) java.lang.Double.compare(b.score, a.score)
      else cmpCodePoints(a.id, b.id)
  }
  // code-point comparison, NOT String.compareTo: UTF-16 code-unit order
  // diverges from UTF-8/code-point order for supplementary-plane chars, and
  // both Spark's string sort (UTF8String binary) and the DuckDB oracle order
  // by bytes — the heap must tiebreak identically (q30 feeds corpus text)
  private def cmpCodePoints(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Aggregator buffer = the current top-k under `rank`, kept sorted
    * best-first; bounded insertion is O(k) per row (k is small by definition
    * of top-k).
    */
  private final class MaxKAgg[E](k: Int, rank: Ordering[E], enc: Encoder[Seq[E]])
      extends Aggregator[E, Seq[E], Seq[E]] {
    def zero: Seq[E] = Vector.empty
    def reduce(buf: Seq[E], e: E): Seq[E] =
      if (buf.size >= k && !rank.lt(e, buf.last)) buf
      else {
        val i = buf.indexWhere(rank.lt(e, _)) match { case -1 => buf.size; case x => x }
        (buf.take(i) :+ e) ++ buf.drop(i).take(k - i - 1)
      }
    def merge(a: Seq[E], b: Seq[E]): Seq[E] = b.foldLeft(a)(reduce)
    def finish(buf: Seq[E]): Seq[E] = buf
    def bufferEncoder: Encoder[Seq[E]] = enc
    def outputEncoder: Encoder[Seq[E]] = enc
  }

  /** groupBy(groupCols).agg(top-k of (scoreCol desc, idCol asc)) → one row
    * per (group, rank) with columns (groupCols..., idCol, scoreCol, rnk) —
    * a drop-in replacement for the window ranker, with map-side partial
    * combine and no per-group sort of discarded rows.
    */
  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // id column drives the aggregator variant: numeric ids keep numeric
    // tiebreak order; string ids tiebreak lexicographically (a silent
    // cast-to-long would null string ids and crash the encoder). Resolve the
    // type through select() so nested paths like "s.id" keep working.
    val idType = df.select(col(idCol)).schema.head.dataType
    val isString = idType == org.apache.spark.sql.types.StringType
    // string ids tiebreak by code point — identical to numeric order for
    // fixed-width zero-padded ids like IMG%012d
    val agg =
      if (isString) udaf(new MaxKAgg(k, byStringId, ExpressionEncoder[Seq[EntryS]]()), Encoders.product[EntryS])
      else udaf(new MaxKAgg(k, byLongId, ExpressionEncoder[Seq[Entry]]()), Encoders.product[Entry])
    val idExpr = if (isString) col(idCol) else col(idCol).cast("long")
    // null ids cannot rank (and would crash the primitive-long encoder);
    // NaN scores are excluded too — Spark's window ordering treats NaN as
    // the LARGEST double (it would rank first) while heap comparisons treat
    // it as unorderable (it would rank last): neither is a meaningful "top"
    // score, so the defined behavior is that NaN never ranks
    df.where(col(idCol).isNotNull && col(scoreCol).isNotNull &&
        !isnan(col(scoreCol).cast("double")))
      .groupBy(groupCols.map(col): _*)
      .agg(agg(col(scoreCol).cast("double"), idExpr).as("top"))
      .select(col("*"), posexplode(col("top")).as(Seq("rnk0", "e")))
      .select(
        groupCols.map(col) ++
          Seq(col("e.id").as(idCol), col("e.score").as(scoreCol),
            (col("rnk0") + 1).cast("int").as("rnk")): _*)
  }
}
