package graft.dedup

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, greatest, least}
import org.apache.spark.sql.types.{StructField, StructType}

/** The pair kernel of every near-dup operator: a partition of rows
  * `(key, id, payload...)`, sorted so that each bucket (one `key`) is one
  * run, is read one bucket at a time. The generic part counts the cap and
  * holds each run's `ids` once, [[hold]] decodes each member's payload into
  * the operator's buffers, and the operator's exact [[pair]] test picks
  * the pairs, `(id, id, values...)` in no id order.
  *
  * Invariants:
  *  - a bucket of more than `maxBucket` rows is over the cap: it is counted
  *    to its end and emits nothing. At most `maxBucket` members are held,
  *    and only for the bucket being read;
  *  - a row with a NULL id counts toward its bucket's size but is never
  *    held; the caller drops rows whose key or payload can never pair;
  *  - keys compare by value (`Objects.deepEquals`: binary by content).
  */
private[graft] abstract class BucketPairs(maxBucket: Long) {

  /** Holds `row`'s payload as member `m` of the bucket being read. */
  protected def hold(m: Int, row: Row): Unit

  /** The output row `(ids(i), ids(j), values...)` for members `i < j`, or
    * null when they do not pair. */
  protected def pair(i: Int, j: Int): Row

  protected val ids = scala.collection.mutable.ArrayBuffer[Any]()

  def pairs(rows: Iterator[Row]): Iterator[Row] = {
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val key = in.head.get(0)
      ids.clear()
      var size = 0L
      while (in.hasNext && java.util.Objects.deepEquals(in.head.get(0), key)) {
        val row = in.next()
        size += 1
        if (size <= maxBucket && !row.isNullAt(1)) {
          hold(ids.length, row)
          ids += row.get(1)
        } else if (size == maxBucket + 1) ids.clear()
      }
      val m = if (size > maxBucket) 0 else ids.length
      Iterator.range(0, m).flatMap { i =>
        val out = scala.collection.mutable.ArrayBuffer[Row]()
        var j = i + 1
        while (j < m) {
          val r = pair(i, j)
          if (r != null) out += r
          j += 1
        }
        out
      }
    }
  }
}

private[graft] object BucketPairs {

  /** The one exchange: `rows` `(key, id, payload...)` hash-partitioned on
    * `key` into the session's default parallelism (explicit, so AQE cannot
    * coalesce the pair stage into one task) and sorted within each
    * partition on `key`, so each bucket is one run of one partition.
    */
  def runs(rows: DataFrame): DataFrame = {
    val key = col(rows.columns.head)
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism, key).sortWithinPartitions(key)
  }

  /** The one pair shape, `rows` `(key, id, payload...)` → `(a_id, b_id,
    * values...)` with `a_id < b_id` for any orderable id type: `kernel`
    * (one per task) over the [[runs]] of `rows`, or over `read`, those runs
    * already read as an RDD, whose map stage a second reader then skips.
    * No join.
    */
  def frame(rows: DataFrame, values: Seq[StructField], read: Option[RDD[Row]] = None)(
      kernel: () => BucketPairs): DataFrame = {
    val out = StructType(Seq("a_id", "b_id").map(n => rows.schema(1).copy(name = n)) ++ values)
    read.fold(runs(rows).mapPartitions(kernel().pairs(_))(Encoders.row(out)))(r =>
      rows.sparkSession.createDataFrame(r.mapPartitions(kernel().pairs(_)), out))
      .select(least(col("a_id"), col("b_id")).as("a_id") +:
        greatest(col("a_id"), col("b_id")).as("b_id") +: values.map(f => col(f.name)): _*)
      .where(col("a_id") < col("b_id"))
  }

  /** The keys of the buckets in `runs` of more than `maxBucket` rows, NULL
    * ids included: one job, exact because a bucket is one run. */
  def overCap(runs: RDD[Row], maxBucket: Long): Array[Any] = runs.mapPartitions { rows =>
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val key = in.head.get(0)
      var size = 0L
      while (in.hasNext && java.util.Objects.deepEquals(in.head.get(0), key)) { in.next(); size += 1 }
      if (size > maxBucket) Some(key) else None
    }
  }.collect()
}
