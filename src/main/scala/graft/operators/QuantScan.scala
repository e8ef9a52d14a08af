package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

import graft.functions.TopKAgg

/** The one quantized-scan kernel every compressed tier serves through:
  * flat PQ and IVF+residual-PQ ([[Pq]]), flat and IVF SQ8 ([[Sq]]), the
  * 1-bit binary and MRL prefix tiers ([[Compact]]). Each tier answers
  * "approximate top-`rcand`, then exact top-k" (FAISS's compressed index
  * plus its refine step) and differs only in its [[Scorer]].
  *
  * One pass over rows of `(doc_id, [centroid_id], codes, embedding)`:
  * each row is scored by the queries that probe its list (every query on
  * a flat tier) into per-query top-`rcand` heaps by (approx desc, doc_id
  * asc), self skipped. Only the rows some heap kept hold on to their
  * float vector; at the end each heap member gets its exact array-order
  * double dot (the `vec_dot` arithmetic). [[graft.plans.PerQueryTopK]]
  * then keeps the global top-`rcand` by approx and returns the exact
  * top-k among them, merged on the driver: one job, no shuffle, no join
  * back to the float corpus. A partition's top-`rcand` holds every
  * global top-`rcand` member it contains, so the answer does not depend
  * on partitioning (REPOSE's partition-local top-k before one merge).
  *
  * Per-call state (the queries, the scorer's tables and the probe lists)
  * ships to the tasks in one broadcast.
  */
object QuantScan {

  /** A tier's approximate score over the `C`-typed codes column of the
    * scanned frame. Built on the driver with its tables (codebook LUTs,
    * SQ8 bounds, packed query signs) and shipped in the call's broadcast;
    * in local mode every task sees the same instance, so a scorer that
    * keeps scratch space returns a private copy from [[forTask]]. */
  abstract class Scorer[C] extends Serializable {

    /** The frame column this scorer reads as a row's codes. */
    def codes: Column

    /** Scores one row for every query probing it: `out(j)` = the approx
      * score of query index `qis(j)` against `codes`. `list` is the row's
      * inverted list (0 on a flat scan). One call per row, so the loop
      * over queries stays inside one monomorphic method. */
    def score(codes: C, list: Long, qis: Array[Int], out: Array[Double]): Unit

    /** The instance one task scores with. */
    def forTask(): Scorer[C] = this
  }

  /** The top-`k` per query: the global top-`rcand` by the scorer's approx
    * score, rescored exactly. `frame` holds `doc_id`, the scorer's codes,
    * `embedding`, and `centroid_id` when `probes` is given; a query
    * scores only the rows of its probed lists, and the scan keeps only
    * the probed lists' rows. With `probes` = None every query scores
    * every row.
    * @return (query_id, doc_id, score DOUBLE, rnk BIGINT) */
  def search[C: TypeTag](
      frame: DataFrame,
      scorer: Scorer[C],
      queries: Array[(Long, Array[Float])],
      probes: Option[Ann.Probes],
      k: Int,
      rcand: Int): DataFrame =
    graft.plans.PerQueryTopK.of(candidates(frame, scorer, queries, probes, rcand), k, rcand)

  /** [[search]]'s candidates before the per-query merge: each partition's
    * per-query top-`rcand` by approx, with their exact scores.
    * @return (query_id, doc_id, approx, score) */
  private[graft] def candidates[C: TypeTag](
      frame: DataFrame,
      scorer: Scorer[C],
      queries: Array[(Long, Array[Float])],
      probes: Option[Ann.Probes],
      rcand: Int): DataFrame = {
    val s = frame.sparkSession
    import s.implicits._
    val (rows, list, lists) = probes match {
      case Some(p) =>
        (frame.filter(col("centroid_id").isin(p.lists.keys.toSeq.sorted: _*)),
          col("centroid_id").cast("long"), p.lists)
      case None => (frame, lit(0L), Map(0L -> queries.indices.toArray))
    }
    val bc = s.sparkContext.broadcast((queries, scorer, lists))
    rows
      .select(col("doc_id").cast("long"), list, scorer.codes.as("codes"), col("embedding"))
      .as[(Long, Long, C, Array[Float])]
      .mapPartitions { it =>
        val (qs, sc, ls) = bc.value
        partition(it, qs, sc.forTask(), ls, rcand)
      }
      .toDF("query_id", "doc_id", "approx", "score")
  }

  /** One partition of the scan. A plain method with a while loop, not a
    * capturing lambda (see CosineCandidatesExec).
    * @return (query_id, doc_id, approx, score) */
  private def partition[C](
      rows: Iterator[(Long, Long, C, Array[Float])],
      qs: Array[(Long, Array[Float])],
      scorer: Scorer[C],
      lists: Map[Long, Array[Int]],
      rcand: Int): Iterator[(Long, Long, Double, Double)] = {
    val nq = qs.length
    if (nq == 0) Iterator.empty
    else {
      val qids = qs.map(_._1)
      val heaps = Array.fill(nq)(new TopKAgg.Heap(rcand))
      val kept = scala.collection.mutable.LongMap.empty[Array[Float]]
      val approx = new Array[Double](nq)
      while (rows.hasNext) {
        val (docId, list, codes, vec) = rows.next()
        val qis = lists.getOrElse(list, Array.emptyIntArray)
        if (qis.nonEmpty) {
          scorer.score(codes, list, qis, approx)
          var keep = false
          var j = 0
          while (j < qis.length) {
            val q = qis(j)
            if (qids(q) != docId && heaps(q).offer(approx(j), docId)) keep = true
            j += 1
          }
          if (keep) kept(docId) = vec
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
      var qi = 0
      while (qi < nq) {
        val (qid, qv) = qs(qi)
        heaps(qi).foreach { (a, docId) =>
          val v = kept(docId)
          val n = math.min(qv.length, v.length)
          var sc = 0.0
          var i = 0
          while (i < n) { sc += qv(i).toDouble * v(i).toDouble; i += 1 }
          out += ((qid, docId, a, sc))
        }
        qi += 1
      }
      out.iterator
    }
  }
}
