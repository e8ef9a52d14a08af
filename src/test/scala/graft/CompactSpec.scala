package graft

import org.apache.spark.sql.functions._

import graft.operators.Compact

/** v34 binary (sign-bit) quantization and v35 MRL prefix search: packed
  * popcount kernel vs naive semantics, end-to-end equivalence to an
  * in-test two-stage reimplementation on the fixture, and the plan
  * contract: one scan and one driver-merged top-k, no join. */
class CompactSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  private def frameSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("rnk").cast("long"), col("doc_id").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  private lazy val fixture: Array[(Long, Array[Float])] = {
    import spark.implicits._
    Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
  }

  test("packed XOR+popcount hamming == naive per-component sign disagreement") {
    val rnd = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val dim = 1 + rnd.nextInt(200) // crosses the 64/128 word boundaries
      val a = Array.fill(dim)((rnd.nextFloat() - 0.5f) * (if (rnd.nextBoolean()) 1e-6f else 2f))
      val b = Array.fill(dim)((rnd.nextFloat() - 0.5f) * 2f)
      val naive = (0 until dim).count(i => (a(i) > 0f) != (b(i) > 0f))
      assert(Compact.hamming(Compact.packSigns(a), Compact.packSigns(b)) == naive)
    }
    // exact-zero components are code 0 (x > 0 is strict), like the oracle
    val z = Array(0f, 1f, -1f, 0f)
    assert(Compact.packSigns(z)(0) == 2L)
  }

  test("v34 == naive two-stage (hamming top-R by (hd, id), exact rescore) on the fixture") {
    val naive = fixture.filter(_._1 < 20).flatMap { case (qid, qv) =>
      val qc = Compact.packSigns(qv)
      val cand = fixture
        .filter(_._1 != qid)
        .map { case (id, v) => (id, Compact.hamming(qc, Compact.packSigns(v)), v) }
        .sortBy { case (id, hd, _) => (hd, id) }
        .take(50)
      cand
        .map { case (id, _, v) =>
          var s = 0.0
          var i = 0
          while (i < v.length) { s += qv(i).toDouble * v(i).toDouble; i += 1 }
          (id, s)
        }
        .sortBy { case (id, s) => (-s, id) }
        .take(10)
        .zipWithIndex
        .map { case ((id, _), r) => (qid, (r + 1).toLong, id) }
    }.toSet
    assert(frameSet(q("v34_binary_topk")) == naive)
  }

  test("v35 == naive two-stage (prefix-16 top-R, exact full-dim rescore) on the fixture") {
    def dot(a: Array[Float], b: Array[Float], n: Int): Double = {
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val naive = fixture.filter(_._1 < 20).flatMap { case (qid, qv) =>
      val cand = fixture
        .filter(_._1 != qid)
        .map { case (id, v) => (id, dot(qv, v, 16), v) }
        .sortBy { case (id, s, _) => (-s, id) }
        .take(50)
      cand
        .map { case (id, _, v) => (id, dot(qv, v, v.length)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(10)
        .zipWithIndex
        .map { case ((id, _), r) => (qid, (r + 1).toLong, id) }
    }.toSet
    assert(frameSet(q("v35_mrl_prefix")) == naive)
  }

  /** v34's and v35's executed plans, each after a collect so AQE has
    * settled. */
  private def plans = Seq("v34_binary_topk", "v35_mrl_prefix").map { name =>
    val df = q(name)
    df.collect()
    name -> df.queryExecution.executedPlan
  }

  private def nodes(plan: org.apache.spark.sql.execution.SparkPlan) =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) { case p => p }

  // The candidates no longer join back to the float corpus: the bounded
  // per-call state (queries, scorer tables) ships to the scan in one
  // broadcast and the candidates merge on the driver, so neither side is
  // ever shuffled against the corpus.
  test("v34/v35 plans: no cartesian, no nested-loop join; candidates broadcast") {
    plans.foreach { case (name, plan) =>
      val text = plan.toString
      assert(!text.contains("CartesianProduct"), s"$name has a cartesian")
      assert(!text.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join")
      val exchanges = nodes(plan).collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }
      assert(exchanges.isEmpty, s"$name shuffles:\n$plan")
    }
  }

  test("v34/v35 plans: no join of any kind; one PerQueryTopKExec") {
    plans.foreach { case (name, plan) =>
      val ns = nodes(plan)
      val joins = ns.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      assert(joins.isEmpty, s"$name joins:\n$plan")
      assert(ns.count(_.isInstanceOf[graft.plans.PerQueryTopKExec]) == 1, s"$name:\n$plan")
    }
  }
}
