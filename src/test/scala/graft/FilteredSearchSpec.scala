package graft

import org.apache.spark.sql.functions._

/** v18 filtered vector search: the metadata predicate must reach the
  * parquet scan (pre-filter), results must respect it, and k must be
  * guaranteed over the filtered universe. */
class FilteredSearchSpec extends SparkSpec {

  import spark.implicits._

  private lazy val result = SparkEntry.queries("v18_filtered_topk")(spark, sf0001)

  test("label predicate is pushed into the parquet scan") {
    val formatted = result.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(
      formatted.contains("PushedFilters") && formatted.contains("label"),
      s"expected label filter pushed to the scan:\n$formatted")
  }

  test("every hit satisfies the predicate and each query gets exactly k") {
    val labels = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val rows = result.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, doc) => labels(doc) % 3 == 0 }, "post-filter leak")
    val perQ = rows.groupBy(_._1).values.map(_.length).toSet
    assert(perQ == Set(10), s"k not guaranteed over filtered universe: $perQ")
    assert(rows.forall { case (q, d) => q != d })
  }

  // ------------------------------------------------------- v19 (ANN path)

  private lazy val annResult = SparkEntry.queries("v19_filtered_ann")(spark, sf0001)

  test("v19: partition pruning AND label pushdown compose on the index scan") {
    import graft.operators.{Ann, VectorSearch}
    // v19's plan with 2 of its 20 queries: at sf0.001 its 20 queries
    // probe all 32 lists between them, and a full read proves no pruning
    val nq = 2
    val queries = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < nq).select($"embedding").as[Array[Float]].collect().toSeq
    val probed = IndexScans.probedLists(queries, Ann.centroidArray(spark, sf0001).toSeq, 8)
    assert(probed.size < Ann.Centroids)
    val search = Ann.search(spark, Ann.Session(sf0001), VectorSearch.queryVectors(spark, sf0001,
        nq),
      k = 10, nProbe = 8, pred = Some($"label" % 3 === 0))
    val read = IndexScans.partitionsRead(search)
    assert(read == probed.size, s"read $read index partitions; the queries probe ${probed.size}")
    val plan = search.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("label"),
      s"label predicate not pushed into the index scan:\n$plan")
  }

  test("v19: every ANN hit satisfies the predicate (no post-filter leak)") {
    val labels = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val rows = annResult.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, doc) => labels(doc) % 3 == 0 }, "predicate leak")
    assert(rows.forall { case (q, d) => q != d })
  }

  test("v19: full-probe filtered ANN equals the exact filtered top-k (v18)") {
    import graft.operators.{Ann, VectorSearch}
    // probing every partition removes the approximation: the filtered ANN
    // must reproduce the exact filtered scan's top-10 for shared queries
    val full = Ann.search(spark, Ann.Session(sf0001), VectorSearch.queryVectors(spark, sf0001, 20),
        k = 10, nProbe = Ann.Centroids, pred = Some($"label" % 3 === 0))
      .select($"query_id", $"doc_id")
    val exact = result.filter($"query_id" < 20).select($"query_id", $"doc_id")
    assert(full.join(exact, Seq("query_id", "doc_id")).count() == exact.count())
  }
}
