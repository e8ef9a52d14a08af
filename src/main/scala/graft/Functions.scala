package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

import graft.functions.{DotProduct, L2NormExpr}

/** SQL-surface registration of the engine's native vector expressions, so
  * `spark.sql("SELECT vec_dot(a, b) ...")` works alongside the Column API.
  */
object Functions {

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("vec_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_norm", exprs => L2NormExpr(exprs(0)), "built-in")
    // collect_top_k(score, id, k) — k must be a foldable integer literal;
    // the shared builder validates and reports clearly if it is not.
    reg.createOrReplaceTempFunction(
      "collect_top_k", graft.functions.TopKAgg.fromExprs, "built-in")
    // kmv_distinct(hash, k) — K-Minimum-Values distinct sketch.
    reg.createOrReplaceTempFunction(
      "kmv_distinct", graft.functions.KmvAgg.fromExprs, "built-in")
    // table-valued entry points: `SELECT * FROM ann_search(...)` /
    // `FROM cosine_topk(...)` expand to the engine's search plans at
    // analysis time.
    val treg = spark.sessionState.tableFunctionRegistry
    treg.createOrReplaceTempFunction("ann_search", annSearchPlan, "built-in")
    treg.createOrReplaceTempFunction("cosine_topk", cosineTopKPlan, "built-in")
    treg.createOrReplaceTempFunction("range_search", rangeSearchPlan, "built-in")
    treg.createOrReplaceTempFunction("parent_search", parentSearchPlan, "built-in")
    treg.createOrReplaceTempFunction("graph_search", graphSearchPlan, "built-in")
    treg.createOrReplaceTempFunction("ivfpq_search", ivfpqSearchPlan, "built-in")
    treg.createOrReplaceTempFunction("binary_search", binarySearchPlan, "built-in")
    treg.createOrReplaceTempFunction("ivfsq_search", ivfsqSearchPlan, "built-in")
  }

  /** Evaluate a TVF's foldable scalar arguments: `name(argNames…)`,
    * arity-checked, null-rejected. Returns the evaluated values. */
  private def tvfArgs(
      name: String,
      argNames: Seq[String],
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[Any] = {
    require(exprs.length == argNames.length,
      s"$name(${argNames.mkString(", ")}) takes ${argNames.length} arguments, got ${exprs.length}")
    argNames.zip(exprs).map { case (what, e) =>
      require(e.foldable, s"$name $what must be a literal, got $e")
      val v = e.eval()
      require(v != null, s"$name $what must not be null")
      v
    }
  }

  private def asInt(name: String, what: String, v: Any): Int = v match {
    case n: java.lang.Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$name $what must be an integer literal, got $other")
  }

  /** Table-function builder for `ann_search(dir, max_query_id, k,
    * n_probe)`: evaluates the four foldable arguments and expands to the
    * ANALYZED logical plan of [[operators.Ann.search]] — the same
    * partition-pruned scan and scoring kernel the Column API produces, so
    * the SQL surface inherits every pushdown and the driver-merged
    * per-query top-k ([[graft.plans.PerQueryTopK]]: one job, no shuffle)
    * rather than re-deriving search semantics in the parser.
    * (The closest public analog is Spark's own range(...) TVF expanding
    * to a logical Range node.) Index build-if-absent and the driver-side
    * probe (one query-vector collect) run at expansion, like any view
    * materialization side effect. */
  private[graft] def annSearchPlan(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val Seq(dir, maxQ, k, nProbe) =
      tvfArgs("ann_search", Seq("dir", "max_query_id", "k", "n_probe"), exprs)
    val s = SparkSession.active
    val d = dir.toString
    operators.Ann
      .search(s, operators.Ann.Session(d),
        operators.VectorSearch.queryVectors(s, d, asInt("ann_search", "max_query_id", maxQ)),
        asInt("ann_search", "k", k),
        asInt("ann_search", "n_probe", nProbe))
      .queryExecution.analyzed
  }

  /** Table-function builder for `cosine_topk(dir, max_query_id, k)` —
    * the EXACT search through the parser: expands to the planned
    * [[graft.plans.CosineTopK]] operator (custom LogicalPlan + Strategy
    * + fused-kernel Exec) under the driver-merged
    * [[graft.plans.PerQueryTopK]], so a SQL user gets the engine's
    * whole-operator plan nodes, the query-pruning rule included: a
    * `WHERE query_id < n` moves below the merge and shrinks the query
    * set. */
  private[graft] def cosineTopKPlan(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val Seq(dir, maxQ, k) = tvfArgs("cosine_topk", Seq("dir", "max_query_id", "k"), exprs)
    operators.VectorSearch
      .topK(SparkSession.active, dir.toString,
        asInt("cosine_topk", "max_query_id", maxQ),
        asInt("cosine_topk", "k", k))
      .queryExecution.analyzed
  }

  private def asDouble(name: String, what: String, v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    // SQL `0.3` parses as a DECIMAL literal → Spark's Decimal, not Number
    case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
    case other => throw new IllegalArgumentException(
      s"$name $what must be a numeric literal, got $other")
  }

  /** Table-function builder for `range_search(dir, max_query_id, tau)` —
    * the no-k-bound radius search through the parser: expands to
    * [[operators.VectorSearch.rangeSearchFrame]]'s zero-shuffle
    * map-side-filter plan. */
  private[graft] def rangeSearchPlan(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val Seq(dir, maxQ, tau) =
      tvfArgs("range_search", Seq("dir", "max_query_id", "tau"), exprs)
    operators.VectorSearch
      .rangeSearchFrame(SparkSession.active, dir.toString,
        asInt("range_search", "max_query_id", maxQ),
        asDouble("range_search", "tau", tau))
      .queryExecution.analyzed
  }

  /** Table-function builder for `parent_search(dir, max_query_id,
    * parent_mod, k)` — parent-document retrieval (v39) through the
    * parser: expands to [[operators.VectorSearch.parentTopK]]'s
    * bounded-window plan over the memoized chunk frame. */
  private[graft] def parentSearchPlan(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val Seq(dir, maxQ, parentMod, k) =
      tvfArgs("parent_search", Seq("dir", "max_query_id", "parent_mod", "k"), exprs)
    operators.VectorSearch
      .parentTopK(SparkSession.active, dir.toString,
        asInt("parent_search", "max_query_id", maxQ),
        asInt("parent_search", "parent_mod", parentMod),
        asInt("parent_search", "k", k))
      .queryExecution.analyzed
  }

  /** Table-function builder for `graph_search(dir, max_query_id, k,
    * n_probe, seed_k)` — graph-refined search over the persisted
    * artifact + graph sidecar (v45) through the parser: expands to
    * [[operators.VectorSearch.graphSidecarSearch]]'s plan (sidecar
    * build-if-absent at expansion, like ann_search's index build). */
  private[graft] def graphSearchPlan(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val Seq(dir, maxQ, k, nProbe, seedK) =
      tvfArgs("graph_search", Seq("dir", "max_query_id", "k", "n_probe", "seed_k"), exprs)
    operators.VectorSearch
      .graphSidecarSearch(SparkSession.active, dir.toString,
        asInt("graph_search", "max_query_id", maxQ),
        asInt("graph_search", "k", k),
        asInt("graph_search", "n_probe", nProbe),
        asInt("graph_search", "seed_k", seedK))
      .queryExecution.analyzed
  }

  /** Table-function builder for `ivfpq_search(dir, max_query_id, k,
    * n_probe)` — the residual-PQ tier (v53) through the parser, its
    * third serving surface after the Column API and the persisted
    * artifacts (v55). Expands to [[operators.Pq.fusedSearch]]: one pass
    * over the probed lists, then the driver-merged per-query top-k. */
  private[graft] def ivfpqSearchPlan(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val Seq(dir, maxQ, k, nProbe) =
      tvfArgs("ivfpq_search", Seq("dir", "max_query_id", "k", "n_probe"), exprs)
    operators.Pq
      .searchIvfPq(SparkSession.active, dir.toString,
        asInt("ivfpq_search", "max_query_id", maxQ),
        asInt("ivfpq_search", "k", k),
        asInt("ivfpq_search", "n_probe", nProbe))
      .queryExecution.analyzed
  }

  /** Table-function builder for `binary_search(dir, max_query_id, k,
    * pool)` — the 1-bit tier (v34) through the parser: one
    * [[operators.QuantScan]] pass keeps the Hamming top-`pool`
    * candidates over packed sign codes and rescores them exactly, then
    * the driver-merged per-query top-k, projected and sorted to
    * (query_id, rnk, doc_id) (`pool` is the tier's recall dial, the
    * bench's `bin_operating_point` knob). Completes the tier's surface
    * pair with the Column API under the shared v34 oracle. */
  private[graft] def binarySearchPlan(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val Seq(dir, maxQ, k, pool) =
      tvfArgs("binary_search", Seq("dir", "max_query_id", "k", "pool"), exprs)
    operators.Compact
      .searchBinary(SparkSession.active, dir.toString,
        asInt("binary_search", "max_query_id", maxQ),
        asInt("binary_search", "k", k),
        asInt("binary_search", "pool", pool))
      .queryExecution.analyzed
  }

  /** Table-function builder for `ivfsq_search(dir, max_query_id, k,
    * n_probe)` — the IVF+SQ8 tier (v27) through the parser: the
    * driver-side probe, then one [[operators.QuantScan]] pass (byte-ADC
    * and exact rescore over the probed lists) and the driver-merged
    * per-query top-k, the same plan the Column API produces. */
  private[graft] def ivfsqSearchPlan(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val Seq(dir, maxQ, k, nProbe) =
      tvfArgs("ivfsq_search", Seq("dir", "max_query_id", "k", "n_probe"), exprs)
    operators.Sq
      .searchIvf(SparkSession.active, dir.toString,
        asInt("ivfsq_search", "max_query_id", maxQ),
        asInt("ivfsq_search", "k", k),
        asInt("ivfsq_search", "n_probe", nProbe))
      .queryExecution.analyzed
  }

  /** Codegen'd dot product (register first — [[GraftSession.build]] does). */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Codegen'd L2 norm. */
  def vecNorm(a: Column): Column = call_function("vec_norm", a)

  /** U(0,1) from a row KEY — the engine-wide deterministic variate (same
    * LCG as v07's layer assignment). A pure function of the key, so any
    * selection built on it is identical under any partitioning and any
    * engine. ONE definition (was triplicated across Sampling/Ann/Pq —
    * the cross-engine constants are load-bearing for oracle parity). */
  def keyLcgU(key: Column): Column = {
    import org.apache.spark.sql.functions.lit
    (((key * lit(1103515245L) + lit(12345L)) % lit(2147483648L)) + lit(1.0)) / lit(2147483649.0)
  }

  /** DuckDB rendering of [[keyLcgU]] — identical arithmetic. */
  def duckKeyLcgU(key: String): String =
    s"((($key * 1103515245 + 12345) % 2147483648) + 1.0) / 2147483649.0"
}
