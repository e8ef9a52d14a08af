package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Sort, Window}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.operators.Ann

/** Pins that the benchmark times what a caller receives: for each given
  * registry query, the plan its timed `collect()` executes keeps every
  * aggregate, window, sort and engine kernel (any plan node or expression
  * from the `graft` packages) of the query's own optimized plan. As a
  * control it also reports what `.count()` would have optimized away.
  *
  *   PlanCheck <tables_dir> <index_root> <query>...
  *
  * Prints one line per query and exits non-zero when a timed plan lost a
  * node.
  */
object PlanCheck {

  /** Multiset of the plan features that carry a query's work. */
  def features(plan: LogicalPlan): Map[String, Int] = {
    val out = mutable.ArrayBuffer[String]()
    plan.foreach { node =>
      node match {
        case _: Aggregate => out += "Aggregate"
        case _: Window => out += "Window"
        case s: Sort if s.global => out += "Sort"
        case _ =>
      }
      if (node.getClass.getName.startsWith("graft.")) out += node.getClass.getSimpleName
      node.expressions.foreach(_.foreach { e =>
        if (e.getClass.getName.startsWith("graft.")) out += e.getClass.getSimpleName
      })
    }
    plan.subqueries.foreach(sq => out ++= features(sq).flatMap { case (k, n) => Seq.fill(n)(k) })
    out.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** Features missing from `timed` relative to `reference`. */
  def missing(reference: Map[String, Int], timed: Map[String, Int]): Map[String, Int] =
    reference.collect { case (k, n) if timed.getOrElse(k, 0) < n => k -> (n - timed.getOrElse(k, 0)) }

  /** Optimized plans of every query execution `action` runs. */
  def executedPlans(spark: SparkSession, action: => Unit): Seq[LogicalPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      action
      // listener events arrive asynchronously; wait for the last one
      val limit = System.nanoTime() + 10000000000L
      var last = -1
      while (System.nanoTime() < limit && seen.size != last) { last = seen.size; Thread.sleep(300) }
    } finally spark.listenerManager.unregister(l)
    scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, indexRoot) = args.take(2)
    val spark = GraftSession.build("2")
    spark.conf.set(Ann.IndexRootConf, indexRoot)
    var lost = 0
    for (name <- args.drop(2)) {
      def df: DataFrame = SparkEntry.queries(name)(spark, dir)
      val reference = features(df.queryExecution.optimizedPlan)
      val timed = executedPlans(spark, df.collect())
        .map(features).foldLeft(Map.empty[String, Int]) { (a, b) =>
          (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0) + b.getOrElse(k, 0))).toMap
        }
      val counted = features(df.groupBy().count().queryExecution.optimizedPlan)
      val gone = missing(reference, timed)
      if (gone.nonEmpty) lost += 1
      println(s"plancheck $name reference=${reference.toSeq.sorted.mkString(",")} " +
        s"timed_missing=${gone.toSeq.sorted.mkString(",")} " +
        s"count_missing=${missing(reference, counted).toSeq.sorted.mkString(",")}")
    }
    spark.stop()
    if (lost > 0) sys.exit(1)
  }
}
