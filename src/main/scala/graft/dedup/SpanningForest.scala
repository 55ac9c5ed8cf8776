package graft.dedup

import org.apache.spark.sql.Row

/** Per-partition spanning-forest contraction for
  * [[Dedup.connectedComponents]]: a partition's `(a_id, b_id)` edges become
  * one `(x, root(x))` edge per non-root node, where root(x) is the smallest
  * id of x's component among those edges. Connectivity is unchanged, so the
  * components (and their minimum ids) are too; edges that only re-state a
  * known connection disappear. A near-dup clique of k docs arrives as
  * k(k-1)/2 pairs and leaves as k - 1 edges.
  *
  * Invariants:
  *  - never more rows out than in: a component of k linked nodes needs at
  *    least k - 1 input edges and emits exactly k - 1; a node seen only in
  *    self-loops needs at least one and emits one `(a, a)`, so it stays in
  *    the caller's node set;
  *  - rows with a NULL endpoint pass through unchanged (they connect
  *    nothing, but the caller's labelling of them is defined on the raw row);
  *  - memory is bounded: after [[MaxNodes]] distinct nodes (plus passed-
  *    through rows) the chunk is emitted and a fresh union-find starts. The
  *    union of per-chunk forests still spans the same components, so a flush
  *    costs contraction, never exactness.
  */
private[dedup] object SpanningForest {

  /** Nodes (plus passed-through NULL rows) held per flush: under 100 bytes
    * each, so a task holds at most ~25 MB. */
  final val MaxNodes = 1 << 18

  def contract(rows: Iterator[Row]): Iterator[Row] =
    new Iterator[Iterator[Row]] {
      def hasNext: Boolean = rows.hasNext
      def next(): Iterator[Row] = {
        val uf = new UnionFind
        val nulls = scala.collection.mutable.ArrayBuffer[Row]()
        while (rows.hasNext && uf.size + nulls.size < MaxNodes) {
          val r = rows.next()
          if (r.isNullAt(0) || r.isNullAt(1)) nulls += r
          else uf.add(r.getLong(0), r.getLong(1))
        }
        nulls.iterator ++ uf.forest
      }
    }.flatten

  /** Union-find over dense node indices; the root of a set is its smallest
    * id, so `find` answers the component minimum directly. */
  private final class UnionFind {
    private val index = new scala.collection.mutable.LongMap[Int]()
    private var ids = new Array[Long](1024)
    private var parent = new Array[Int](1024)
    // true once the node is an endpoint of a non-self edge
    private var linked = new Array[Boolean](1024)

    def size: Int = index.size

    private def node(x: Long): Int = index.getOrElseUpdate(x, {
      val i = index.size
      if (i == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * i)
        parent = java.util.Arrays.copyOf(parent, 2 * i)
        linked = java.util.Arrays.copyOf(linked, 2 * i)
      }
      ids(i) = x
      parent(i) = i
      i
    })

    private def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }

    def add(a: Long, b: Long): Unit = {
      val i = node(a)
      if (a != b) {
        val j = node(b)
        linked(i) = true
        linked(j) = true
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) { if (ids(ri) < ids(rj)) parent(rj) = ri else parent(ri) = rj }
      }
    }

    def forest: Iterator[Row] = Iterator.range(0, size).flatMap { i =>
      val r = find(i)
      if (r != i) Iterator.single(Row(ids(i), ids(r)))
      else if (!linked(i)) Iterator.single(Row(ids(i), ids(i)))
      else Iterator.empty
    }
  }
}
