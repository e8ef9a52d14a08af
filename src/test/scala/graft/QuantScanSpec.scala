package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Compact, Pq, QuantScan, Sq}

/** [[QuantScan]] serves every compressed tier. For each scorer (flat PQ,
  * SQ8 flat and IVF, binary, MRL) the kernel must return, bit for bit on
  * the scores, what a plain-Scala separate-stage composition returns:
  * approx score per probed row (self skipped), global top-`rcand` by
  * (approx desc, doc_id asc), exact array-order double dot, top-k by
  * (score desc, doc_id asc) — on any partitioning, under a pre-filter,
  * with rcand < k, with k above the candidate count, and with no
  * queries. */
class QuantScanSpec extends SparkSpec {

  import spark.implicits._

  private def emb = Tables(spark, sf0001, "embeddings")

  private def queries(n: Int): Array[(Long, Array[Float])] =
    emb.filter($"vec_id" < n).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)

  private def dot(a: Array[Float], b: Array[Float], n: Int): Double =
    (0 until n).foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)

  private val labelOk = col("label") % 3 === 0

  /** (query_id, rnk, doc_id, score bits) of the separate-stage
    * composition. `approx(qi)` scores query qi against one row `(doc_id,
    * centroid_id, vec)`; `probed(qi)` says which lists query qi scans. */
  private def reference(
      rows: Seq[(Long, Long, Array[Float])],
      qs: Array[(Long, Array[Float])],
      k: Int,
      rcand: Int,
      probed: Int => Long => Boolean)(
      approx: Int => ((Long, Long, Array[Float])) => Double): Seq[(Long, Long, Long, Long)] =
    qs.indices.flatMap { qi =>
      val (qid, qv) = qs(qi)
      rows
        .filter { case (doc, cid, _) => probed(qi)(cid) && doc != qid }
        .map(r => (approx(qi)(r), r._1, r._3))
        .sortBy { case (a, doc, _) => (-a, doc) }
        .take(rcand)
        .map { case (_, doc, v) => (dot(qv, v, math.min(qv.length, v.length)), doc) }
        .sortBy { case (sc, doc) => (-sc, doc) }
        .take(k)
        .zipWithIndex
        .map { case ((sc, doc), r) => (qid, r + 1L, doc, java.lang.Double.doubleToLongBits(sc)) }
    }.sorted

  private def bits(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select($"query_id", $"rnk", $"doc_id", $"score").as[(Long, Long, Long, Double)]
      .collect().toSeq
      .map { case (q, r, d, sc) => (q, r, d, java.lang.Double.doubleToLongBits(sc)) }
      .sorted

  /** The kernel vs the reference over `frame` (doc_id, centroid_id,
    * codes, label, embedding) for every shape: 1 and 4 partitions, with
    * and without the pre-filter, rcand < k, k above the candidate count,
    * no queries. `nProbe` None scans flat; otherwise each query scans
    * its top-nProbe lists. `approx(qv, doc_id, vec)` is the reference's
    * score of one row. */
  private def check[C: scala.reflect.runtime.universe.TypeTag](
      tier: String,
      frame: DataFrame,
      scorer: Array[(Long, Array[Float])] => QuantScan.Scorer[C],
      nProbe: Option[Int])(
      approx: (Array[Float], Long, Array[Float]) => Double): Unit = {
    val cents = Ann.centroidArray(spark, sf0001)
    for {
      parts <- Seq(1, 4)
      (nq, k, rcand, pred) <- Seq(
        (12, 10, 50, None),
        (12, 20, 7, None), // rcand < k: 7 rows per query
        (12, 5, 30, Some(labelOk)), // the label % 3 = 0 pre-filter
        (4, 5000, 5000, Some(labelOk)), // k above the candidate count
        (0, 10, 50, None)) // no queries
    } {
      val qs = queries(nq)
      val src = pred.foldLeft(frame.repartition(parts))(_ filter _)
      val rows = src.select($"doc_id", $"centroid_id", $"embedding")
        .as[(Long, Long, Array[Float])].collect().toSeq
      val probes = nProbe.map(Ann.probeLists(qs, cents, _))
      val probed: Int => Long => Boolean = qi =>
        probes.fold((_: Long) => true)(p => cid => p.lists.get(cid).exists(_.contains(qi)))
      val want = reference(rows, qs, k, rcand, probed)(qi => r => approx(qs(qi)._2, r._1, r._3))
      val got = bits(QuantScan.search(src, scorer(qs), qs, probes, k, rcand))
      val shape = s"$tier partitions=$parts queries=$nq k=$k rcand=$rcand pred=${pred.isDefined}"
      assert(want.nonEmpty == (nq > 0), shape)
      assert(got == want, shape)
    }
  }

  test("flat PQ: the kernel == ADC -> global trim -> exact rescore, bit for bit") {
    val cb = Pq.codebook(spark, sf0001)
    val frame = Pq.flatFrame(spark, sf0001)
    val codesOf = frame.select($"doc_id", $"codes").as[(Long, Array[Long])].collect().toMap
    val sub = Pq.SubDim
    // lut(m)(code id) = dot(query subspace m, codeword subspace m), one
    // table per query vector (arrays hash by identity)
    val luts = scala.collection.mutable.HashMap.empty[Array[Float], IndexedSeq[Map[Long, Double]]]
    def lut(qv: Array[Float]) = luts.getOrElseUpdate(qv, (0 until qv.length / sub).map { m =>
      cb.map { case (id, cv) =>
        id -> (0 until sub).foldLeft(0.0)((acc, i) => acc + qv(m * sub + i).toDouble * cv(m * sub + i))
      }.toMap
    })
    check("pq", frame.withColumn("centroid_id", lit(0L)), Pq.adcScorer(_, cb, None), None) {
      (qv, doc, _) =>
        val codes = codesOf(doc)
        codes.indices.foldLeft(0.0)((acc, m) => acc + lut(qv)(m)(codes(m)))
    }
  }

  /** Σ qᵢ·(loᵢ + codeᵢ·stepᵢ) over the doc's byte codes. */
  private def sqApprox(lo: Array[Double], hi: Array[Double]) = {
    val st = Sq.steps(lo, hi)
    val codesOf = Sq.frame(spark, sf0001).select($"doc_id", $"codes")
      .as[(Long, Array[Byte])].collect().toMap
    (qv: Array[Float], doc: Long, _: Array[Float]) => {
      val codes = codesOf(doc)
      (0 until math.min(qv.length, codes.length)).foldLeft(0.0) { (acc, i) =>
        acc + qv(i).toDouble * (lo(i) + (codes(i) & 0xFF).toDouble * st(i))
      }
    }
  }

  test("SQ8 flat and IVF: the kernel == ADC -> global trim -> exact rescore, bit for bit") {
    val (lo, hi) = Sq.trainBounds(emb.select($"vec_id", $"embedding").as[(Long, Array[Float])])
    val approx = sqApprox(lo, hi)
    check("sq8", Sq.frame(spark, sf0001), Sq.scorer(_, lo, hi), None)(approx)
    check("ivfsq", Sq.frame(spark, sf0001), Sq.scorer(_, lo, hi), Some(4))(approx)
  }

  private def embFrame = emb.select($"vec_id".as("doc_id"), lit(0L).as("centroid_id"),
    $"label", $"embedding")

  test("binary: the kernel == Hamming top-R -> exact rescore, bit for bit") {
    check("bin", embFrame, new Compact.HammingScorer(_), None) { (qv, _, v) =>
      -qv.indices.count(i => (qv(i) > 0f) != (v(i) > 0f)).toDouble
    }
  }

  test("MRL: the kernel == prefix-16 top-R -> exact full-dim rescore, bit for bit") {
    check("mrl", embFrame, new Compact.PrefixScorer(_), None) { (qv, _, v) =>
      dot(qv, v, math.min(16, math.min(qv.length, v.length)))
    }
  }

  test("every compressed entry point answers an empty query set with no rows") {
    Seq(
      Pq.search(spark, sf0001, maxQueryId = 0, k = 10),
      Sq.search(spark, sf0001, maxQueryId = 0, k = 10),
      Sq.searchIvf(spark, sf0001, maxQueryId = 0, k = 10, nProbe = 4),
      Compact.searchBinary(spark, sf0001, maxQ = 0, k = 10, pool = 50))
      .foreach(df => assert(df.collect().isEmpty))
  }
}
