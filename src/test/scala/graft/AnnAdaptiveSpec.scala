package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, VectorSearch}

/** Selectivity-adaptive filtered ANN (VERDICT r9 next #3): recall
  * against exact filtered search must hold ACROSS selectivities — the
  * regime where a fixed dial silently starves — and the widening rule
  * itself is pinned at its decision boundaries. */
class AnnAdaptiveSpec extends SparkSpec {

  import spark.implicits._

  private val K = 10
  private val MaxQ = 20

  /** Ground truth: full-probe filtered search IS exact over the
    * filtered universe (every partition probed, predicate pre-filtered,
    * exact rescore). */
  private def exactFiltered(pred: Column): DataFrame = search(Ann.Centroids, Some(pred))

  /** The plain probed search of the registry artifact, queries vec_id < MaxQ. */
  private def search(nProbe: Int, pred: Option[Column]): DataFrame =
    Ann.search(spark, Ann.Session(sf0001), VectorSearch.queryVectors(spark, sf0001, MaxQ), K,
      nProbe, pred)

  private def sets(df: DataFrame): Map[Long, Set[Long]] =
    df.select($"query_id", $"doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }

  /** Mean overlap@K of `got` against `exact`, over exact's queries
    * (denominator min(K, |exact universe for q|) so fully-served short
    * result lists score 1.0). */
  private def overlap(got: DataFrame, exact: DataFrame): Double = {
    val g = sets(got)
    val e = sets(exact)
    val per = e.map { case (q, ex) =>
      ex.count(g.getOrElse(q, Set.empty).contains).toDouble / ex.size
    }
    per.sum / per.size
  }

  test("recall vs exact filtered search holds across selectivities") {
    // The adaptive CONTRACT is relative: whatever recall the base dial
    // delivers UNFILTERED (the operating point the user accepted —
    // fixture-scale: ~0.38 at nProbe 4/32 over 500 docs; scale raises
    // it, see the bench sweep) must SURVIVE any predicate. A fixed dial
    // loses it as selectivity rises; the widened/crossover dial holds it.
    val target = overlap(
      search(nProbe = 4, None),
      exactFiltered(lit(1) === 1))
    info(f"unfiltered operating point at base dial: overlap@10 = $target%.4f")
    // selectivity ~1.0, ~0.4, ~0.1, ~0.027 — from no-op to the
    // crossover regime
    val preds: Seq[(String, Column)] = Seq(
      "all" -> (lit(1) === 1),
      "third" -> (col("label") % 3 === 0),
      "tenth" -> (col("label") === 7),
      "selective" -> (col("doc_id") % 37 === 0))
    preds.foreach { case (name, pred) =>
      val o = overlap(
        Ann.adaptiveFilteredSearch(spark, sf0001, MaxQ, K, baseProbe = 4, pred),
        exactFiltered(pred))
      info(f"selectivity '$name': adaptive overlap@10 vs exact-filtered = $o%.4f")
      assert(o >= target - 0.02,
        f"adaptive filtered search fell below the unfiltered operating point at '$name': $o%.4f < $target%.4f")
    }
  }

  test("fixed dial starves at high selectivity; the adaptive dial does not") {
    val pred = col("doc_id") % 37 === 0
    val exact = exactFiltered(pred)
    val fixed = overlap(search(nProbe = 4, Some(pred)), exact)
    val adaptive = overlap(
      Ann.adaptiveFilteredSearch(spark, sf0001, MaxQ, K, baseProbe = 4, pred), exact)
    info(f"selective predicate: fixed nProbe=4 overlap $fixed%.4f vs adaptive $adaptive%.4f")
    assert(fixed < adaptive,
      "the failure mode did not manifest — fixed dial should starve here")
    assert(adaptive >= 0.999, "adaptive must serve exact results past the crossover")
  }

  test("widening rule: integer boundaries") {
    // no filter -> base dial unchanged
    assert(Ann.adaptiveProbes(4, 500, 500) == 4)
    // ~0.42 survivor fraction -> widened but still probing
    assert(Ann.adaptiveProbes(4, 500, 209) == 10)
    // ~1/37 -> capped at C (the exact-fallback crossover)
    assert(Ann.adaptiveProbes(4, 500, 14) == Ann.Centroids)
    // degenerate: empty survivor set must not divide by zero
    assert(Ann.adaptiveProbes(4, 500, 0) == Ann.Centroids)
    // widening is monotone in selectivity
    val dials = Seq(500L, 400L, 250L, 100L, 50L, 10L).map(Ann.adaptiveProbes(4, 500, _))
    assert(dials == dials.sorted, s"dial not monotone: $dials")
  }

  test("widening rule: non-default cap moves the crossover (ADVICE r10 closure)") {
    // uncapped widening for this survivor fraction would be
    // ceil(4·1000/50) = 80 probes; the cap is where the exact-fallback
    // crossover FIRES, so it must track the session's centroid count,
    // not the constant
    assert(Ann.adaptiveProbes(4, 1000, 50) == Ann.Centroids) // default cap: crossover
    assert(Ann.adaptiveProbes(4, 1000, 50, cap = 128) == 80) // wider C: still probing
    assert(Ann.adaptiveProbes(4, 1000, 50, cap = 16) == 16) // narrower C: crosses sooner
    // at a survivor fraction the DEFAULT cap tolerates, a smaller cap
    // still fires the crossover — the boundary genuinely moves
    assert(Ann.adaptiveProbes(4, 1000, 500) == 8)
    assert(Ann.adaptiveProbes(4, 1000, 500, cap = 8) == 8)
    assert(Ann.adaptiveProbes(4, 1000, 500, cap = 6) == 6)
  }
}
