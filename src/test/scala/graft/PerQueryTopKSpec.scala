package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg
import graft.operators.{Ann, BruteForce, Pq, QuantScan}
import graft.plans.{CosineTopK, PerQueryTopK, PerQueryTopKExec}

/** [[PerQueryTopK]] is the shuffle-free tail of every served search. It
  * must return, bit for bit on the scores, what the compositions it
  * replaced returned: `BruteForce.rerank` over the exact and IVF
  * candidates, and a `groupByKey` with Pq's per-query merge over the
  * IVF+PQ candidates. It must do so for `collect()` (the one-job
  * `executeCollect`) and for every other consumer (`count()`, a join,
  * `.rdd`, which read the merged rows through `doExecute`). A doc
  * offered twice for one query holds one rank, at its best score. */
class PerQueryTopKSpec extends SparkSpec {

  import spark.implicits._

  private def corpus = Tables(spark, sf0001, "embeddings")
    .select($"vec_id".as("id"), $"embedding".as("vec"))

  private def labels = Tables(spark, sf0001, "embeddings")
    .select($"vec_id".as("doc_id"), $"label")

  private def queries(n: Int): Array[(Long, Array[Float])] =
    corpus.filter($"id" < n).as[(Long, Array[Float])].collect().sortBy(_._1)

  /** The IVF tier's scored candidates (query_id, doc_id, score) over the
    * registry artifact. */
  private def ivfCandidates(nq: Int, nProbe: Int): DataFrame = {
    val r = Ann.resolve(spark, Ann.Session(sf0001))
    Ann.scoredOn(spark, queries(nq), r.cents, r.index, nProbe, None).drop("prn")
  }

  /** (query_id, rnk, doc_id, score bits) of a (query_id, doc_id, score,
    * rnk) frame, sorted; collected from the frame's own root. */
  private def bits(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long, Long, Long)] =
    rows.toSeq.map { r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("score")))
    }.sorted

  /** `got` equals `want` through every consumer. */
  private def assertSame(got: DataFrame, want: DataFrame, shape: String): Unit = {
    val expected = bits(want.collect())
    assert(bits(got.collect()) == expected, s"collect: $shape")
    assert(got.count() == expected.size, s"count: $shape")
    val rdd = got.rdd.collect().map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq))
    assert(rdd.toSeq.map(_.toSeq).sortBy(_.toString) ==
      got.collect().toSeq.map(_.toSeq).sortBy(_.toString), s".rdd: $shape")
    assert(bits(got.join(labels, "doc_id").collect()) == bits(want.join(labels, "doc_id").collect()),
      s"join: $shape")
  }

  test("exact candidates: PerQueryTopK == BruteForce.rerank, every consumer, bit for bit") {
    for {
      parts <- Seq(1, 4)
      (nq, k, docs) <- Seq(
        (12, 10, Long.MaxValue),
        (12, 1, Long.MaxValue),
        (5, 20, 8L), // k larger than the candidate count: 7 hits per query
        (0, 10, Long.MaxValue)) // max_query_id 0: no queries, no rows
    } {
      val cands = CosineTopK.candidates(corpus.filter($"id" < docs).repartition(parts),
        queries(nq).toSeq, k, excludeSelf = true)
      val shape = s"bf partitions=$parts queries=$nq k=$k docs=$docs"
      val got = PerQueryTopK.exact(cands, k)
      assertSame(got, BruteForce.rerank(cands, k), shape)
      if (nq > 0) assert(got.count() > 0, shape)
    }
  }

  test("IVF candidates: PerQueryTopK == BruteForce.rerank, every consumer, bit for bit") {
    for {
      parts <- Seq(1, 4)
      (nq, k, nProbe) <- Seq((12, 10, 4), (12, 1, 8), (6, 5000, 2), (0, 10, 4))
    } {
      val cands = ivfCandidates(nq, nProbe).repartition(parts)
      val shape = s"ivf partitions=$parts queries=$nq k=$k nProbe=$nProbe"
      assertSame(PerQueryTopK.exact(cands, k), BruteForce.rerank(cands, k), shape)
    }
  }

  test("IVF+PQ candidates: PerQueryTopK == groupByKey + the per-query merge, bit for bit") {
    val frame = Pq.ivfPqFrame(spark, sf0001)
    val cb = Pq.residCodebook(spark, sf0001)
    val cents = Ann.centroidArray(spark, sf0001)
    val labelOk = col("label") % 3 === 0
    for {
      parts <- Seq(1, 4)
      (nq, k, nProbe, rcand, pred) <- Seq(
        (12, 10, 4, Pq.RCand, None),
        (12, 10, 8, 15, None), // rcand < RCand
        (12, 1, 8, Pq.RCand, None),
        (12, 5, 8, Pq.RCand, Some(labelOk)), // the label % 3 = 0 pre-filter
        (12, 20, Ann.Centroids, 7, Some(labelOk)), // rcand < k: 7 rows per query
        (0, 10, 4, Pq.RCand, None))
    } {
      val src = pred.foldLeft(frame.repartition(parts))(_ filter _)
      val qs = queries(nq)
      val probes = Ann.probeLists(qs, cents, nProbe)
      val cands = QuantScan.candidates(src, Pq.adcScorer(qs, cb, Some(probes.dots)), qs,
        Some(probes), Pq.RCand)
      val shape = s"pq partitions=$parts queries=$nq k=$k nProbe=$nProbe rcand=$rcand " +
        s"pred=${pred.isDefined}"
      assertSame(PerQueryTopK.of(cands, k, rcand), PerQueryTopKSpec.groupMerge(cands, k, rcand), shape)
    }
  }

  test("tied scores and approx: both merges keep doc_id order on every tie") {
    val rnd = new scala.util.Random(20261019L)
    // per query, 60 distinct docs whose approx and exact scores take only
    // a handful of values
    val rows = for {
      q <- 0L until 5L
      d <- rnd.shuffle((0L until 60L).toList)
    } yield (q, d, rnd.nextInt(4) / 4.0, rnd.nextInt(3) / 8.0)
    for {
      parts <- Seq(1, 4)
      (k, rcand) <- Seq((1, 1), (10, 10), (10, 25), (25, 7))
    } {
      val cands = rows.toDF("query_id", "doc_id", "approx", "score").repartition(parts)
      val shape = s"ties partitions=$parts k=$k rcand=$rcand"
      assertSame(PerQueryTopK.of(cands, k, rcand), PerQueryTopKSpec.groupMerge(cands, k, rcand), shape)
      val exact = cands.select($"query_id", $"doc_id", $"score")
      assertSame(PerQueryTopK.exact(exact, k), BruteForce.rerank(exact, k), s"$shape exact")
    }
  }

  test("a doc offered twice for one query holds one rank, at its best score") {
    // per query, 30 distinct docs, then some of them offered again: at
    // the same score, or at a better or worse one
    val rnd = new scala.util.Random(20261020L)
    val base = for {
      q <- 0L until 4L
      d <- 0L until 30L
    } yield (q, d, rnd.nextInt(1000) / 1000.0)
    val equalDups = base.filter(_._2 % 3 == 0)
    val unequalDups = base.filter(_._2 % 4 == 1)
      .map { case (q, d, sc) => (q, d, if (d % 8 == 1) sc + 0.25 else sc - 0.25) }
    for {
      (dups, rows) <- Seq("equal" -> (base ++ equalDups), "unequal" -> (base ++ unequalDups))
      parts <- Seq(1, 4)
      k <- Seq(1, 10, 40) // 40: more than the distinct docs, so every duplicate would show
    } {
      val cands = rnd.shuffle(rows).toDF("query_id", "doc_id", "score").repartition(parts)
      val got = PerQueryTopK.exact(cands, k)
      val want = PerQueryTopKSpec.distinctTopK(rows, k)
      val shape = s"$dups-score duplicates partitions=$parts k=$k"
      assert(bits(got.collect()) == want, s"collect: $shape")
      assert(bits(got.rdd.collect()) == want, s".rdd: $shape")
    }
    // approx and exact apart: the better approx wins and keeps its own
    // exact score
    val twice = Seq((0L, 7L, 0.9, 0.1), (0L, 7L, 0.5, 0.8), (0L, 3L, 0.7, 0.4))
      .toDF("query_id", "doc_id", "approx", "score")
    assert(PerQueryTopK.of(twice, 2, 2).select($"doc_id", $"score").as[(Long, Double)]
      .collect().toSeq == Seq((3L, 0.4), (7L, 0.1)))
  }

  test("PerQueryTopKExec counts candidates in its tasks and merged rows on the driver") {
    val df = spark.sql(s"SELECT * FROM ann_search('$sf0001', 3, 5, 4)")
    val rows = df.collect()
    val exec = new AdaptiveSparkPlanHelper {}.collectFirst(df.queryExecution.executedPlan) {
      case e: PerQueryTopKExec => e
    }.getOrElse(fail(s"no PerQueryTopKExec in\n${df.queryExecution.executedPlan}"))
    val offered = ivfCandidates(3, 4).count()
    assert(rows.length == 15)
    assert(exec.metrics("candidates").value == offered)
    assert(exec.metrics("numOutputRows").value == rows.length)
    val formatted = df.queryExecution.explainString(FormattedMode)
    assert(formatted.contains(s"Metrics: [candidates: $offered, numOutputRows: ${rows.length}]"),
      formatted)
  }
}

object PerQueryTopKSpec {

  /** The one-rank-per-doc contract of the deleted distinct `BruteForce` rerank,
    * in plain Scala: per query, each doc at its best score, the top k by
    * (score desc, doc_id asc), ranked from 1. Rows as [[bits]] gives
    * them: (query_id, rnk, doc_id, score bits), sorted. */
  def distinctTopK(rows: Seq[(Long, Long, Double)], k: Int): Seq[(Long, Long, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (qid, qrows) =>
      qrows.groupBy(_._2).map { case (doc, drs) => (doc, drs.map(_._3).max) }.toSeq
        .sortBy { case (doc, sc) => (-sc, doc) }
        .take(k)
        .zipWithIndex
        .map { case ((doc, sc), r) => (qid, r + 1L, doc, java.lang.Double.doubleToLongBits(sc)) }
    }.sorted

  /** The composition `PerQueryTopK` replaced in the IVF+PQ tier: a
    * `groupByKey(query_id)` shuffle, then per query the top-`rcand` by
    * (approx desc, doc_id asc) and the exact top-k among them by (score
    * desc, doc_id asc), ranked from 1. */
  def groupMerge(cands: DataFrame, k: Int, rcand: Int): DataFrame = {
    import cands.sparkSession.implicits._
    cands.as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        val pool = new TopKAgg.Heap(rcand)
        val exact = scala.collection.mutable.HashMap.empty[Long, Double]
        rows.foreach { case (_, docId, approx, score) =>
          if (pool.offer(approx, docId)) exact(docId) = score
        }
        val top = new TopKAgg.Heap(k)
        pool.foreach((_, docId) => top.offer(exact(docId), docId))
        top.sortedDesc().iterator.zipWithIndex.map { case ((sc, docId), r) => (qid, docId, sc, r + 1L) }
      }
      .toDF("query_id", "doc_id", "score", "rnk")
  }
}
