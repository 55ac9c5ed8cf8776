package graft.dedup

import org.apache.spark.sql.Row

/** The pair kernel of [[Dedup.phashNearDup]]: a partition of banded rows
  * `(band, seg, id, ph, cap)`, sorted so that each `(band, seg)` bucket is
  * one run, is read one bucket at a time, and each bucket's member pairs
  * within `maxHamming` come out as `(id, id, dist)` rows, in no particular
  * id order.
  *
  * Invariants:
  *  - a bucket of more than `maxBucket` rows is over the cap: it is counted
  *    to its end and emits nothing. At most `maxBucket` members are held,
  *    and only for the bucket being read;
  *  - a row with a NULL id counts toward its bucket's size but is never
  *    paired; `ph` is never NULL (the caller drops those rows);
  *  - a pair is emitted only from its lowest uncapped colliding band (the
  *    rule of [[Dedup.phashNearDup]]), read from the first doc's `cap`.
  */
private[dedup] object BucketPairs {

  def pairs(rows: Iterator[Row], maxHamming: Int, width: Int,
      maxBucket: Long): Iterator[Row] = {
    val mask = -1L >>> (64 - width)
    // true when no band below `band` is an uncapped colliding one
    def lowest(xor: Long, cap: Long, band: Int): Boolean = {
      var b = 0
      while (b < band && (((xor >>> (b * width)) & mask) != 0 || (cap & (1L << b)) != 0)) b += 1
      b == band
    }
    val ids = scala.collection.mutable.ArrayBuffer[Any]()
    var phs = new Array[Long](64)
    var caps = new Array[Long](64)
    new Iterator[Iterator[Row]] {
      private var head: Row = if (rows.hasNext) rows.next() else null
      def hasNext: Boolean = head != null
      def next(): Iterator[Row] = {
        val band = head.getInt(0)
        val seg = head.getLong(1)
        ids.clear()
        var size = 0L
        while (head != null && head.getInt(0) == band && head.getLong(1) == seg) {
          size += 1
          if (size <= maxBucket && !head.isNullAt(2)) {
            val m = ids.length
            if (m == phs.length) {
              phs = java.util.Arrays.copyOf(phs, 2 * m)
              caps = java.util.Arrays.copyOf(caps, 2 * m)
            }
            ids += head.get(2)
            phs(m) = head.getLong(3)
            caps(m) = head.getLong(4)
          } else if (size == maxBucket + 1) ids.clear()
          head = if (rows.hasNext) rows.next() else null
        }
        val m = if (size > maxBucket) 0 else ids.length
        Iterator.range(0, m).flatMap { i =>
          val out = scala.collection.mutable.ArrayBuffer[Row]()
          var j = i + 1
          while (j < m) {
            val xor = phs(i) ^ phs(j)
            val dist = java.lang.Long.bitCount(xor)
            if (dist <= maxHamming && lowest(xor, caps(i), band)) out += Row(ids(i), ids(j), dist)
            j += 1
          }
          out
        }
      }
    }.flatten
  }
}
