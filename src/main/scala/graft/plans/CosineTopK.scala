package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

import graft.operators.BruteForce

/** The whole-operator form of the brute-force search (SURVEY §4.3.2's
  * stretch goal and the brief's custom-operator rung (c)): a logical
  * `CosineCandidates` node, an optimizer `Rule` that prunes its query set
  * under a `query_id` filter, a `SparkStrategy` planning it, and a
  * physical `CosineCandidatesExec` running the fused kernel loop over the
  * child's rows — registered through `SparkSessionExtensions` /
  * `experimental` so `graft.plans.CosineTopK.topK(df, …)` plans like any
  * built-in operator and Catalyst can see through it. The candidates
  * feed the driver-merged [[PerQueryTopK]] node, so a search runs as one
  * job with no shuffle.
  *
  * Semantics are identical to [[BruteForce.topK]] (same loop, same heap,
  * same tie-breaks) — equivalence is asserted in tests; the point of the
  * plan-node form is optimizer participation (the pruning rule) and
  * EXPLAIN visibility, not new behavior.
  */
object CosineTopK {

  /** Candidate stage as a planned operator; child must project
    * (id: LONG, vec: ARRAY<FLOAT>). */
  def candidates(
      corpus: DataFrame,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      excludeSelf: Boolean): DataFrame = {
    val fields = corpus.schema.fields
    require(
      fields.length == 2 &&
        fields(0).dataType == LongType &&
        (fields(1).dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }),
      s"corpus must be (LONG id, ARRAY<FLOAT> vec) — the exec reads 4-byte floats " +
        s"positionally, so any other element type silently corrupts scores; " +
        s"got ${corpus.schema.simpleString}")
    val node = CosineCandidates(
      queries.map { case (id, v) => (id, v.toSeq) },
      k,
      excludeSelf,
      CosineCandidates.freshOutput(),
      corpus.queryExecution.analyzed)
    GraftInternal.ofRows(corpus.sparkSession, node)
  }

  /** Full top-k: planned candidate stage + the driver-merged per-query
    * top-k. */
  def topK(
      corpus: DataFrame,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      excludeSelf: Boolean): DataFrame =
    PerQueryTopK.exact(candidates(corpus, queries, k, excludeSelf), k)

  /** Install strategy + pruning rule on a session built WITHOUT the
    * spark.sql.extensions mechanism (GraftSession uses this). */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(CosineStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ CosineStrategy
    if (!spark.experimental.extraOptimizations.contains(PruneCosineQueries))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PruneCosineQueries
  }
}

/** Logical node: per-query candidate hits of the cosine top-k kernel.
  * Queries ride in the node (the small side is plan metadata, exactly like
  * a local relation), which is what lets the optimizer prune them. */
case class CosineCandidates(
    queries: Seq[(Long, Seq[Float])],
    k: Int,
    excludeSelf: Boolean,
    override val output: Seq[Attribute],
    child: LogicalPlan)
  extends UnaryNode {

  // the node's output is produced, not derived from the child — required
  // for CheckAnalysis's missing-attributes validation
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // the kernel consumes BOTH child columns positionally; without this the
  // optimizer's column pruning sees references=∅ and replaces the child
  // with an empty projection — the exec then reads zero-column rows
  // (observed as a native crash in UnsafeRow.getLong)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override def simpleString(maxFields: Int): String =
    s"CosineCandidates [queries=${queries.size}, k=$k, excludeSelf=$excludeSelf]"
  override protected def withNewChildInternal(newChild: LogicalPlan): CosineCandidates =
    copy(child = newChild)
}

object CosineCandidates {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("doc_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

/** Optimizer rule: a `query_id < N` (or <=, =) filter directly above the
  * candidate node prunes the node's query set at PLAN time — the filter
  * never runs against rows that were never scored. The filter is kept
  * (it is cheap and preserves semantics if the match was partial). */
object PruneCosineQueries extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{EqualTo, LessThan, LessThanOrEqual}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, cc: CosineCandidates) =>
      val pruned = cond match {
        case LessThan(a: AttributeReference, Literal(v: Long, LongType))
            if a.name == "query_id" =>
          Some(cc.queries.filter(_._1 < v))
        case LessThanOrEqual(a: AttributeReference, Literal(v: Long, LongType))
            if a.name == "query_id" =>
          Some(cc.queries.filter(_._1 <= v))
        case EqualTo(a: AttributeReference, Literal(v: Long, LongType))
            if a.name == "query_id" =>
          Some(cc.queries.filter(_._1 == v))
        case _ => None
      }
      pruned match {
        case Some(qs) if qs.size < cc.queries.size => f.copy(child = cc.copy(queries = qs))
        case _ => f
      }
  }
}

/** Planning: CosineCandidates → CosineCandidatesExec. */
object CosineStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CosineCandidates(qs, k, ex, out, child) =>
      CosineCandidatesExec(qs, k, ex, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical operator: the fused kernel loop (same arithmetic, heap, and
  * tie-breaks as [[BruteForce.topK]]) over the child's InternalRows —
  * narrow execution, at most queries × k output rows per partition. */
case class CosineCandidatesExec(
    queries: Seq[(Long, Seq[Float])],
    k: Int,
    excludeSelf: Boolean,
    override val output: Seq[Attribute],
    child: SparkPlan)
  extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet

  override protected def doExecute(): RDD[InternalRow] = {
    val qids = queries.map(_._1).toArray
    val qvecs = queries.map(_._2.toArray).toArray
    val kk = k
    val ex = excludeSelf
    val schema = StructType(output.map(a => StructField(a.name, a.dataType, a.nullable)))
    child.execute().mapPartitions { iter =>
      CosineCandidatesExec.processPartition(iter, qids, qvecs, kk, ex, schema)
    }
  }

  override def simpleString(maxFields: Int): String =
    s"CosineCandidatesExec [queries=${queries.size}, k=$k]"
  override protected def withNewChildInternal(newChild: SparkPlan): CosineCandidatesExec =
    copy(child = newChild)
}

object CosineCandidatesExec {
  /** Per-partition kernel loop as a plain method with an explicit
    * while-loop over the iterator. (An `iter.foreach` lambda here lifted
    * six mixed-primitive captures into the adapter and was observed
    * miscompiling under C1 in long-lived JVMs — NULL row base in
    * `UnsafeRow.getLong`; a named method with local state sidesteps the
    * exotic adapter shape and is faster anyway.) */
  def processPartition(
      iter: Iterator[InternalRow],
      qids: Array[Long],
      qvecs: Array[Array[Float]],
      k: Int,
      excludeSelf: Boolean,
      schema: StructType): Iterator[InternalRow] = {
    val nq = qids.length
    val heaps = Array.fill(nq)(new graft.functions.TopKAgg.Heap(k))
    var checked = false
    while (iter.hasNext) {
      val row = iter.next()
      if (!checked) {
        // fail loudly (not natively) if an optimizer change ever prunes
        // the child columns out from under the positional reads below
        require(row.numFields >= 2,
          s"CosineCandidatesExec expected (id, vec) input, got ${row.numFields} fields")
        checked = true
      }
      val docId = row.getLong(0)
      val arr = row.getArray(1)
      val dim = arr.numElements()
      var qi = 0
      while (qi < nq) {
        if (!(excludeSelf && qids(qi) == docId)) {
          val qv = qvecs(qi)
          val n = math.min(qv.length, dim)
          var s = 0.0
          var i = 0
          while (i < n) { s += qv(i).toDouble * arr.getFloat(i).toDouble; i += 1 }
          heaps(qi).offer(s, docId)
        }
        qi += 1
      }
    }
    val proj = UnsafeProjection.create(schema)
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var qi = 0
    while (qi < nq) {
      heaps(qi).foreach((s, id) => out += proj(InternalRow(qids(qi), id, s)).copy())
      qi += 1
    }
    out.iterator
  }
}
