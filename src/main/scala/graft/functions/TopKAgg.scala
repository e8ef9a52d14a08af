package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `collect_top_k(score, id, k)` — bounded-heap top-k as a first-class
  * Catalyst aggregate (SURVEY §4.3.1: "the single most valuable custom
  * piece"). Where `Window.partitionBy(key).orderBy(score)` sorts EVERY
  * row of each partition group, this aggregate keeps an O(k) heap per
  * group with map-side partial aggregation: each task emits at most k
  * candidates per group into the shuffle, exactly like Spark's own
  * `TakeOrderedAndProject` but keyed.
  *
  * Ordering: score DESC, then id ASC (the engine-wide deterministic
  * tie-break). Output: ARRAY<STRUCT<score: DOUBLE, id: LONG>> in final
  * rank order — `posexplode` it to get (rank-1, struct) rows.
  */
case class TopKAgg(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAgg.Heap] {

  require(k > 0, s"collect_top_k: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)

  override def createAggregationBuffer(): TopKAgg.Heap = new TopKAgg.Heap(k)

  override def update(buf: TopKAgg.Heap, input: InternalRow): TopKAgg.Heap = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) {
      buf.offer(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKAgg.Heap, other: TopKAgg.Heap): TopKAgg.Heap = {
    other.foreach((s, i) => buf.offer(s, i))
    buf
  }

  override def eval(buf: TopKAgg.Heap): Any = {
    val sorted = buf.sortedDesc()
    new GenericArrayData(sorted.map { case (s, i) => InternalRow(s, i) })
  }

  override def serialize(buf: TopKAgg.Heap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val items = buf.sortedDesc()
    out.writeInt(items.length)
    items.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Heap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val heap = new TopKAgg.Heap(k)
    var j = 0
    while (j < n) { heap.offer(in.readDouble(), in.readLong()); j += 1 }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKAgg {

  /** Bounded worst-first heap: head = eviction candidate (lowest score,
    * then HIGHEST id). Same ordering contract as the BruteForce kernel.
    *
    * `dedupIds`: each id appears AT MOST ONCE in the heap, kept at its
    * best score (the first offer wins a tie). The per-query pool of
    * every served search ([[graft.plans.PerQueryTopK]]) runs this way,
    * so a doc offered twice (a crash-window reader's debris union
    * mid-split; see Ann.indexFrame) holds one rank. OFF by default: the
    * SQL-surfaced `collect_top_k` ranks duplicate ids as distinct rows,
    * and the DuckDB oracles replay exactly that.
    *
    * A binary heap over parallel `double[]`/`long[]` arrays, root at
    * slot 0: an offer allocates nothing (a boxed-tuple priority queue
    * allocated on every comparison, inside every scan kernel's inner
    * loop). Scores are compared with `<`/`==`, so they must not be NaN.
    * The arrays grow by doubling up to k, so a large k costs nothing
    * until it fills. */
  final class Heap(k: Int, dedupIds: Boolean = false) {
    require(k > 0, s"Heap capacity must be positive, got $k")
    private var scores = new Array[Double](math.min(k, 16))
    private var ids = new Array[Long](scores.length)
    private var n = 0
    // id -> its score in the heap (dedupIds mode only)
    private val members =
      if (dedupIds) new scala.collection.mutable.LongMap[Double] else null

    /** Slot a ranks below slot b: lower score, then higher id. */
    private def worse(a: Int, b: Int): Boolean =
      scores(a) < scores(b) || (scores(a) == scores(b) && ids(a) > ids(b))

    private def swap(a: Int, b: Int): Unit = {
      val s = scores(a); scores(a) = scores(b); scores(b) = s
      val i = ids(a); ids(a) = ids(b); ids(b) = i
    }

    private def siftUp(from: Int): Unit = {
      var j = from
      while (j > 0 && worse(j, (j - 1) >>> 1)) { swap(j, (j - 1) >>> 1); j = (j - 1) >>> 1 }
    }

    private def siftDown(from: Int): Unit = {
      var j = from
      var done = false
      while (!done) {
        val l = 2 * j + 1
        if (l >= n) done = true
        else {
          val c = if (l + 1 < n && worse(l + 1, l)) l + 1 else l
          if (worse(c, j)) { swap(c, j); j = c } else done = true
        }
      }
    }

    def size: Int = n

    /** Offers one (score, id); true when the heap kept it. A full heap
      * rejects anything not better than its root first: such an offer
      * can neither enter nor upgrade a member (every member ranks at or
      * above the root), so the common reject skips the member lookup. */
    def offer(score: Double, id: Long): Boolean =
      if (n == k && !(score > scores(0) || (score == scores(0) && id < ids(0)))) false
      else if (dedupIds && members.contains(id)) {
        if (score > members(id)) {
          // upgrade in place: a better score sinks away from the root;
          // the O(k) slot search runs only on this rare path
          var j = 0
          while (ids(j) != id) j += 1
          scores(j) = score
          siftDown(j)
          members(id) = score
          true
        } else false
      } else if (n < k) {
        if (n == scores.length) {
          val cap = math.min(k, 2 * n)
          scores = java.util.Arrays.copyOf(scores, cap)
          ids = java.util.Arrays.copyOf(ids, cap)
        }
        scores(n) = score
        ids(n) = id
        n += 1
        siftUp(n - 1)
        if (dedupIds) members(id) = score
        true
      } else {
        val evicted = ids(0)
        scores(0) = score
        ids(0) = id
        siftDown(0)
        if (dedupIds) { members.remove(evicted); members(id) = score }
        true
      }

    /** Every member, in heap (not rank) order. */
    def foreach(f: (Double, Long) => Unit): Unit = {
      var j = 0
      while (j < n) { f(scores(j), ids(j)); j += 1 }
    }

    /** Final rank order: score desc, id asc. */
    def sortedDesc(): Array[(Double, Long)] =
      Array.tabulate(n)(j => (scores(j), ids(j))).sortBy { case (s, i) => (-s, i) }
  }

  /** SQL builder shared by the function-registry and extension
    * registrations: validates arity and that k is a foldable integer
    * literal BEFORE eval'ing it, so `collect_top_k(s, i, some_col)` fails
    * with a clear message instead of a confusing eval error. */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    require(
      exprs.length == 3,
      s"collect_top_k expects 3 arguments (score, id, k), got ${exprs.length}")
    require(
      exprs(2).foldable,
      "collect_top_k: k must be a literal integer, not a column or non-foldable expression")
    val kVal = exprs(2).eval() match {
      case n: Number => n.intValue()
      case other =>
        throw new IllegalArgumentException(
          s"collect_top_k: k must be an integer literal, got $other")
    }
    TopKAgg(exprs(0), exprs(1), kVal).toAggregateExpression()
  }

  /** Column API: `collect_top_k(score, id, k)`. */
  def collectTopK(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftInternal
    val e = TopKAgg(GraftInternal.expression(score), GraftInternal.expression(id), k)
    GraftInternal.column(e.toAggregateExpression())
  }
}
