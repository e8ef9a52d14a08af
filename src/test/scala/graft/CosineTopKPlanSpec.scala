package graft

import org.apache.spark.sql.functions._

import graft.operators.VectorSearch
import graft.plans.CosineTopK

/** The planned-operator form of the search (logical node + strategy +
  * physical exec + optimizer rule) must (a) actually plan through the
  * custom strategy, (b) produce exactly the kernel's results, and (c)
  * participate in optimization: a query_id filter above the node prunes
  * its query set at plan time. */
class CosineTopKPlanSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Tables(spark, sf0001, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
  }

  private def queries(n: Int): Seq[(Long, Array[Float])] = {
    import spark.implicits._
    corpus.filter($"id" < n).as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
  }

  test("planned operator == BruteForce kernel results") {
    import spark.implicits._
    val qs = queries(15)
    val planned = CosineTopK.topK(corpus, qs, k = 10, excludeSelf = true)
      .select($"query_id", $"rnk", $"doc_id", $"score")
      .collect().map(_.toSeq).toSet
    // compare against the Dataset-kernel path DIRECTLY (VectorSearch.topK
    // itself routes through the planned operator now, which would make
    // this comparison vacuous)
    val kernel = graft.operators.BruteForce.topKFromFrames(
      corpus.toDF("id", "vec"),
      corpus.filter($"id" < 15).toDF("id", "vec"),
      k = 10, excludeSelf = true)
      .select($"query_id", $"rnk", $"doc_id", $"score")
      .collect().map(_.toSeq).toSet
    assert(planned == kernel)
  }

  test("the custom strategy plans the node (CosineCandidatesExec in the plan)") {
    val df = CosineTopK.candidates(corpus, queries(5), k = 3, excludeSelf = false)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("CosineCandidatesExec"), s"not planned by CosineStrategy:\n$plan")
  }

  test("optimizer rule prunes the query set under a query_id filter") {
    import spark.implicits._
    val df = CosineTopK.candidates(corpus, queries(50), k = 3, excludeSelf = false)
      .filter($"query_id" < 7L)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("queries=7"),
      s"queries not pruned from 50 to 7 at plan time:\n$optimized")
    // and results are right: 7 queries × 3 hits
    assert(df.count() == 21)
  }

  test("a SQL query_id filter over cosine_topk moves below the merge and prunes the query set") {
    val df = spark.sql(s"SELECT * FROM cosine_topk('$sf0001', 50, 3) WHERE query_id < 7")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("CosineCandidates [queries=7"),
      s"queries not pruned from 50 to 7 at plan time:\n$optimized")
    val rows = df.collect()
    assert(rows.length == 21 && rows.forall(_.getLong(0) < 7))
    // the same rows as filtering the unpruned search's result
    val unpruned = spark.sql(s"SELECT * FROM cosine_topk('$sf0001', 50, 3)")
      .collect().filter(_.getLong(0) < 7)
    assert(rows.map(_.toSeq).toSet == unpruned.map(_.toSeq).toSet)
  }
}
