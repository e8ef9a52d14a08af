package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, Expression, PredicateHelper, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.PushDownPredicates
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, SQLExecution, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

import graft.functions.TopKAgg

/** The per-query top-k merge every served search ends with
  * (`cosine_topk`, `ann_search`, `ivfpq_search`), as one logical node,
  * one strategy and one physical exec.
  *
  * The child emits candidates `(query_id, doc_id, approx, score)`. Each
  * partition keeps, per query, the top-`rcand` by (approx desc, doc_id
  * asc) with their exact scores. The driver merges those into the global
  * top-`rcand` by approx, then returns the exact top-k among them by
  * (score desc, doc_id asc), ranked from 1 (so at most `rcand` rows):
  * `(query_id, doc_id, score DOUBLE, rnk BIGINT)`. An exact tier passes
  * approx = score and rcand = k, which makes it the plain top-k by score.
  *
  * One rank per doc: a doc offered twice for one query keeps its best
  * approx and that candidate's exact score (the first offer wins a tie).
  * The served tiers produce candidates unique per (query, doc), so this
  * changes none of their rows; it keeps a doc at one rank where a
  * crash-window reader's debris union, or a rescore join against it,
  * hands the same doc twice.
  *
  * A partition's top-`rcand` holds every global top-`rcand` member it
  * contains, so the answer does not depend on partitioning. The merge
  * needs no shuffle: `collect()` runs the child and the partition-local
  * heaps as ONE job and merges on the driver (the shape of Spark's own
  * `TakeOrderedAndProjectExec.executeCollect`). Other consumers (joins,
  * `count()`, `cache()`, `.rdd`) get the same merged rows as one
  * partition. The result is at most queries × k rows.
  */
object PerQueryTopK {

  /** Per-query top-k over `(query_id, doc_id, approx, score)` candidates:
    * the global top-`rcand` by approx, then the exact top-k by score. */
  def of(candidates: DataFrame, k: Int, rcand: Int): DataFrame = {
    val types = candidates.schema.fields.map(_.dataType).toSeq
    require(types == Seq(LongType, LongType, DoubleType, DoubleType),
      s"candidates must be (LONG query_id, LONG doc_id, DOUBLE approx, DOUBLE score) — the " +
        s"exec reads them positionally; got ${candidates.schema.simpleString}")
    require(k > 0 && rcand > 0, s"k and rcand must be positive, got k=$k rcand=$rcand")
    install(candidates.sparkSession)
    GraftInternal.ofRows(candidates.sparkSession,
      PerQueryTopK(k, rcand, freshOutput(), candidates.queryExecution.analyzed))
  }

  /** [[of]] for exactly scored `(query_id, doc_id, score)` candidates:
    * approx = score and rcand = k, the plain per-query top-k by score. */
  def exact(candidates: DataFrame, k: Int): DataFrame = {
    val Seq(q, d, s) = candidates.columns.toSeq.map(candidates.col)
    of(candidates.select(q, d, s.as("approx"), s), k, k)
  }

  /** Install the strategy and the filter-pushdown rule on a session
    * (with [[CosineTopK.install]]'s pattern). [[of]] calls it, so a
    * search planned on any session, a `newSession()` included, runs. */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(PerQueryTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ PerQueryTopKStrategy
    if (!spark.experimental.extraOptimizations.contains(PushQueryFilterBelowTopK))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PushQueryFilterBelowTopK
  }

  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("doc_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)(),
    AttributeReference("rnk", LongType, nullable = false)())
}

/** Logical node: the per-query merge of its child's candidates. */
case class PerQueryTopK(
    k: Int,
    rcand: Int,
    override val output: Seq[Attribute],
    child: LogicalPlan)
  extends UnaryNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the exec reads all four child columns positionally; column pruning
  // must never narrow the child (see CosineCandidates.references)
  override def references: AttributeSet = child.outputSet
  override def simpleString(maxFields: Int): String = s"PerQueryTopK [k=$k, rcand=$rcand]"
  override protected def withNewChildInternal(newChild: LogicalPlan): PerQueryTopK =
    copy(child = newChild)
}

/** Optimizer rule: the merge is per query, so it commutes with a filter
  * on `query_id` alone. Such conjuncts move below the node and on down
  * through the child (Spark's own predicate pushdown), where
  * [[PruneCosineQueries]] can shrink an exact search's query set. */
object PushQueryFilterBelowTopK extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, t: PerQueryTopK) =>
      val qid = t.output.head
      val (pushable, kept) = splitConjunctivePredicates(cond).partition { c =>
        c.deterministic && !SubqueryExpression.hasSubquery(c) &&
          c.references.subsetOf(AttributeSet(qid))
      }
      if (pushable.isEmpty) f
      else {
        val childQid = t.child.output.head
        val below = pushable.reduce(And).transform {
          case a: Attribute if a.semanticEquals(qid) => childQid
        }
        val pushed = t.copy(child = PushDownPredicates(Filter(below, t.child)))
        kept.reduceOption[Expression](And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Planning: PerQueryTopK → PerQueryTopKExec. */
object PerQueryTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PerQueryTopK(k, rcand, out, child) => PerQueryTopKExec(k, rcand, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical operator: partition-local per-query heaps, one job, and the
  * merge on the driver. `candidates` counts, in the tasks, the child rows
  * offered to the heaps; `numOutputRows` counts the merged rows, which
  * the driver produces. Both print in `explain("formatted")`. */
case class PerQueryTopKExec(
    k: Int,
    rcand: Int,
    override val output: Seq[Attribute],
    child: SparkPlan)
  extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "candidates" -> SQLMetrics.createMetric(sparkContext, "candidates merged"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def references: AttributeSet = child.outputSet
  override def outputPartitioning: Partitioning = SinglePartition

  /** One job over the child, then the driver merge. Runs on every call:
    * nothing is kept between executions. */
  private def merged(): Array[InternalRow] = {
    val rc = rcand
    val offered = longMetric("candidates")
    val pools = child.execute()
      .mapPartitions(rows => Iterator.single(PerQueryTopKExec.partitionPools(rows, rc, offered)))
      .collect()
    val out = PerQueryTopKExec.merge(pools, rcand, k)
    val numOut = longMetric("numOutputRows")
    numOut.add(out.length)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(numOut))
    out
  }

  override def executeCollect(): Array[InternalRow] = merged()
  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(merged().toSeq, 1)

  override def simpleString(maxFields: Int): String = s"PerQueryTopKExec [k=$k, rcand=$rcand]"
  override def verboseStringWithOperatorId(): String =
    super.verboseStringWithOperatorId() +
      metrics.toSeq.sortBy(_._1).map { case (n, m) => s"$n: ${m.value}" }
        .mkString("Metrics: [", ", ", "]\n")
  override protected def withNewChildInternal(newChild: SparkPlan): PerQueryTopKExec =
    copy(child = newChild)
}

object PerQueryTopKExec {

  /** One query's candidate pool: the top-`rcand` distinct docs by
    * (approx desc, doc_id asc), each member's exact score beside it. */
  private final class Pool(rcand: Int) {
    val byApprox = new TopKAgg.Heap(rcand, dedupIds = true)
    val exact = new scala.collection.mutable.LongMap[Double]
    def offer(approx: Double, docId: Long, score: Double): Unit =
      if (byApprox.offer(approx, docId)) exact(docId) = score
  }

  /** A partition's pools, flattened: parallel (query_id, doc_id, approx,
    * score) arrays. */
  final case class Pools(qids: Array[Long], docs: Array[Long], approx: Array[Double], scores: Array[Double])

  private def flatten(pools: scala.collection.mutable.LongMap[Pool]): Pools = {
    val n = pools.valuesIterator.map(_.byApprox.size).sum
    val out = Pools(new Array[Long](n), new Array[Long](n), new Array[Double](n), new Array[Double](n))
    var j = 0
    pools.foreach { case (qid, p) =>
      p.byApprox.foreach { (a, d) =>
        out.qids(j) = qid; out.docs(j) = d; out.approx(j) = a; out.scores(j) = p.exact(d)
        j += 1
      }
    }
    out
  }

  /** The partition-local step: each row offered to its query's pool.
    * A plain method with a while loop (see CosineCandidatesExec). */
  def partitionPools(rows: Iterator[InternalRow], rcand: Int, offered: SQLMetric): Pools = {
    val pools = new scala.collection.mutable.LongMap[Pool]
    var n = 0L
    while (rows.hasNext) {
      val row = rows.next()
      val qid = row.getLong(0)
      pools.getOrElseUpdate(qid, new Pool(rcand)).offer(row.getDouble(2), row.getLong(1), row.getDouble(3))
      n += 1
    }
    offered.add(n)
    flatten(pools)
  }

  /** The driver step: every partition's pools into one global pool per
    * query, then each query's exact top-k by (score desc, doc_id asc),
    * ranked from 1, queries in ascending id order. */
  def merge(parts: Array[Pools], rcand: Int, k: Int): Array[InternalRow] = {
    val pools = new scala.collection.mutable.LongMap[Pool]
    parts.foreach { p =>
      var j = 0
      while (j < p.qids.length) {
        pools.getOrElseUpdate(p.qids(j), new Pool(rcand)).offer(p.approx(j), p.docs(j), p.scores(j))
        j += 1
      }
    }
    val proj = UnsafeProjection.create(Array[DataType](LongType, LongType, DoubleType, LongType))
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    pools.keys.toArray.sorted.foreach { qid =>
      val pool = pools(qid)
      val top = new TopKAgg.Heap(k)
      pool.byApprox.foreach((_, d) => top.offer(pool.exact(d), d))
      top.sortedDesc().iterator.zipWithIndex.foreach { case ((sc, d), r) =>
        out += proj(InternalRow(qid, d, sc, r + 1L)).copy()
      }
    }
    out.toArray
  }
}
