package graft.dedup

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, greatest, least}
import org.apache.spark.sql.types.{StructField, StructType}

/** The pair kernel of every near-dup operator: a partition of rows
  * `(key, id, payload...)` of row type `R`, sorted so that each bucket (one
  * `key`) is one run, is read one bucket at a time. The generic part counts
  * the cap and holds each run's `ids` once, [[hold]] decodes each member's
  * payload into the operator's buffers, and the operator's exact [[pair]]
  * test picks the pairs, `(id, id, values...)` in no id order, as `R`s.
  *
  * `R` is `Row` for the lazy operators, which read their runs through
  * `Dataset.mapPartitions` ([[BucketPairs.OfRows]]), and Catalyst's
  * `InternalRow` for a kernel over an exchange already read as an RDD
  * (phash), which then never converts a row to or from `Row`.
  *
  * Invariants:
  *  - a bucket of more than `maxBucket` rows is over the cap: it is counted
  *    to its end and emits nothing. At most `maxBucket` members are held,
  *    and only for the bucket being read;
  *  - a row with a NULL id counts toward its bucket's size but is never
  *    held; the caller drops rows whose key or payload can never pair;
  *  - keys compare by value (`Objects.deepEquals`: binary by content);
  *  - [[key]] and [[id]] return values that outlive the row: the rows of a
  *    sorted Catalyst run share one buffer.
  */
private[graft] abstract class BucketPairs[R](maxBucket: Long) {

  /** The bucket key of `row`. */
  protected def key(row: R): Any

  /** The id of `row`, null when it is NULL. */
  protected def id(row: R): Any

  /** Holds `row`'s payload as member `m` of the bucket being read. */
  protected def hold(m: Int, row: R): Unit

  /** The output row `(ids(i), ids(j), values...)` for members `i < j`, or
    * null when they do not pair. */
  protected def pair(i: Int, j: Int): R

  protected val ids = scala.collection.mutable.ArrayBuffer[Any]()

  def pairs(rows: Iterator[R]): Iterator[R] = {
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val bucket = key(in.head)
      ids.clear()
      var size = 0L
      while (in.hasNext && java.util.Objects.deepEquals(key(in.head), bucket)) {
        val row = in.next()
        size += 1
        if (size <= maxBucket) {
          val x = id(row)
          if (x != null) {
            hold(ids.length, row)
            ids += x
          }
        } else if (size == maxBucket + 1) ids.clear()
      }
      val m = if (size > maxBucket) 0 else ids.length
      Iterator.range(0, m).flatMap { i =>
        val out = scala.collection.mutable.ArrayBuffer[R]()
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

  /** [[BucketPairs]] over external rows, read through `Dataset.mapPartitions`. */
  abstract class OfRows(maxBucket: Long) extends BucketPairs[Row](maxBucket) {
    protected def key(row: Row): Any = row.get(0)
    protected def id(row: Row): Any = row.get(1)
  }

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
    * (one per task) over the [[runs]] of `rows`. Lazy; no join.
    */
  def frame(rows: DataFrame, values: Seq[StructField])(kernel: () => BucketPairs[Row]): DataFrame = {
    val out = pairSchema(rows, values)
    ordered(runs(rows).mapPartitions(kernel().pairs(_))(Encoders.row(out)), values)
  }

  /** [[frame]] over `read`, the Catalyst rows of the [[runs]] of `rows`
    * already read as an RDD, whose map stage the kernel's stage then skips.
    * The kernel's rows are wrapped as they are, with no `Row` conversion. */
  def frame(rows: DataFrame, values: Seq[StructField], read: RDD[InternalRow])(
      kernel: () => BucketPairs[InternalRow]): DataFrame = {
    val pairs = read.mapPartitions(kernel().pairs(_))
    ordered(org.apache.spark.sql.GraftSqlBridge.internalFrame(rows.sparkSession, pairs,
      pairSchema(rows, values)), values)
  }

  private def pairSchema(rows: DataFrame, values: Seq[StructField]): StructType =
    StructType(Seq("a_id", "b_id").map(n => rows.schema(1).copy(name = n)) ++ values)

  private def ordered(pairs: DataFrame, values: Seq[StructField]): DataFrame =
    pairs.select(least(col("a_id"), col("b_id")).as("a_id") +:
      greatest(col("a_id"), col("b_id")).as("b_id") +: values.map(f => col(f.name)): _*)
      .where(col("a_id") < col("b_id"))

  /** The packed long keys of the buckets in `runs` of more than `maxBucket`
    * rows, NULL ids included: one job, exact because a bucket is one run. */
  def overCap(runs: RDD[InternalRow], maxBucket: Long): Array[Long] = runs.mapPartitions { rows =>
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val key = in.head.getLong(0)
      var size = 0L
      while (in.hasNext && in.head.getLong(0) == key) { in.next(); size += 1 }
      if (size > maxBucket) Some(key) else None
    }
  }.collect()
}
