package graft.dedup

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** Union-find passes for [[Dedup.connectedComponents]], on Catalyst rows
  * of two long ids: the caller reads its input plan's own rows (`toRdd`)
  * and wraps the output as it is, so no row is converted to or from `Row`.
  *
  * [[contract]] is the per-partition spanning-forest pre-pass: a partition's
  * `(a_id, b_id)` edges become one `(x, root(x))` edge per non-root node,
  * where root(x) is the smallest id of x's component among those edges.
  * Connectivity is unchanged, so the components (and their minimum ids) are
  * too; edges that only re-state a known connection disappear. A near-dup
  * clique of k docs arrives as k(k-1)/2 pairs and leaves as k - 1 edges.
  *
  * Invariants of [[contract]]:
  *  - never more rows out than in: a component of k linked nodes needs at
  *    least k - 1 input edges and emits exactly k - 1; a node seen only in
  *    self-loops needs at least one and emits one `(a, a)`, so it stays in
  *    the caller's node set;
  *  - rows with a NULL endpoint pass through unchanged (they connect
  *    nothing, but the caller's labelling of them is defined on the raw row),
  *    each held as a copy: an input row may share its plan's buffer;
  *  - memory is bounded: after [[MaxNodes]] distinct nodes (plus passed-
  *    through rows) the chunk is emitted and a fresh union-find starts. The
  *    union of per-chunk forests still spans the same components, so a flush
  *    costs contraction, never exactness.
  *
  * [[labels]] answers the whole graph in one task when it already sits in
  * one partition: `(id, component min)` per node from a single union-find,
  * which never flushes, so the labels are exact. The caller only hands it a
  * symmetrized edge list of at most 250k rows; every node is a `src` there,
  * so it holds fewer than [[MaxNodes]] nodes and stays under the same bound.
  */
private[dedup] object SpanningForest {

  /** Nodes (plus passed-through NULL rows) held per flush: under 100 bytes
    * each, so a task holds at most ~25 MB. */
  final val MaxNodes = 1 << 18

  def contract(rows: Iterator[InternalRow]): Iterator[InternalRow] =
    new Iterator[Iterator[InternalRow]] {
      def hasNext: Boolean = rows.hasNext
      def next(): Iterator[InternalRow] = {
        val uf = new UnionFind
        val nulls = scala.collection.mutable.ArrayBuffer[InternalRow]()
        while (rows.hasNext && uf.size + nulls.size < MaxNodes) {
          val r = rows.next()
          if (r.isNullAt(0) || r.isNullAt(1)) nulls += r.copy()
          else uf.add(r.getLong(0), r.getLong(1))
        }
        nulls.iterator ++ uf.forest
      }
    }.flatten

  /** `(id, label)` for every node of a symmetrized `(src, dst)` edge list,
    * label = smallest id in the node's component. A NULL endpoint connects
    * nothing: the node beside it keeps its own component, and the NULL node
    * itself is labelled with the smallest label among its partners (NULL if
    * it has none). A node seen only in self-loops keeps its own id.
    */
  def labels(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val uf = new UnionFind
    val nullPartners = scala.collection.mutable.ArrayBuffer[Long]()
    var nullNode = false
    rows.foreach { r =>
      if (r.isNullAt(0)) {
        nullNode = true
        if (!r.isNullAt(1)) nullPartners += r.getLong(1)
      } else uf.add(r.getLong(0), if (r.isNullAt(1)) r.getLong(0) else r.getLong(1))
    }
    val nullLabel = if (nullPartners.isEmpty) null else nullPartners.iterator.map(uf.min).min
    uf.labels ++ (if (nullNode) Iterator.single(row(null, nullLabel)) else Iterator.empty)
  }

  private def row(a: Any, b: Any): InternalRow = new GenericInternalRow(Array(a, b))

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

    /** The smallest id in the component of a known node. */
    def min(x: Long): Long = ids(find(index(x)))

    def labels: Iterator[InternalRow] = Iterator.range(0, size).map(i => row(ids(i), ids(find(i))))

    def forest: Iterator[InternalRow] = Iterator.range(0, size).flatMap { i =>
      val r = find(i)
      if (r != i) Iterator.single(row(ids(i), ids(r)))
      else if (!linked(i)) Iterator.single(row(ids(i), ids(i)))
      else Iterator.empty
    }
  }
}
