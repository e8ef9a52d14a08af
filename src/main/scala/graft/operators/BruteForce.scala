package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The fused brute-force scoring kernel (SURVEY §4.3.1–2): scores every
  * (query, corpus-vector) pair and keeps per-query bounded k-heaps inside
  * each corpus partition, so the shuffle carries only `partitions × q × k`
  * candidate rows instead of the full `q × n` scored cross product — no
  * full sort, no per-query-key skewed shuffle.
  *
  * Mirrors the matrix formulation of the reference
  * (`notebooks/002-brute_force_similarity.py:170-197`: one kernel call
  * scores the whole corpus against a query batch) re-expressed for Spark's
  * execution model: queries are the small side (broadcast to every task as
  * plain primitive arrays), the corpus streams through `mapPartitions`, and
  * the tiny candidate set is re-ranked globally.
  *
  * 100 TB design notes:
  *  - the corpus is never collected, sorted, or shuffled by query key; each
  *    task emits at most q×k rows regardless of partition size;
  *  - accumulation is double, in array order — bitwise-identical to the HOF
  *    oracle form ([[graft.functions.VectorFunctions.dot]]) and DuckDB, so
  *    the kernel is hash-checkable against both;
  *  - ties broken by ascending doc id everywhere (heap AND final re-rank)
  *    for cross-engine determinism.
  */
object BruteForce {

  // The bounded worst-first heap lives in graft.functions.TopKAgg.Heap —
  // ONE implementation of the (score desc, id asc) eviction contract,
  // shared by the kernel and the collect_top_k aggregate.

  /** Top-k-per-query by dot product (cosine on pre-normalized vectors).
    *
    * @param corpus      (id: Long, vec: Array[Float]) — the big side
    * @param queries     (id, vec) pairs — the SMALL side (broadcast)
    * @param k           hits kept per query
    * @param excludeSelf drop corpus rows whose id equals the query id
    * @return (query_id, doc_id, score, rnk) with rnk ∈ [1, k]
    */
  def topK(
      corpus: Dataset[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])],
      k: Int,
      excludeSelf: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val bc = spark.sparkContext.broadcast(queries)

    val candidates = corpus.mapPartitions { rows =>
      // hoist the query tuples into parallel primitive-friendly arrays —
      // the inner loop runs nq × |partition| times and a per-iteration
      // Tuple2 deref is measurable at 1M × 100
      val qs = bc.value
      val nq = qs.length
      val qids = new Array[Long](nq)
      val qvecs = new Array[Array[Float]](nq)
      var t = 0
      while (t < nq) { qids(t) = qs(t)._1; qvecs(t) = qs(t)._2; t += 1 }
      val heaps = Array.fill(nq)(new graft.functions.TopKAgg.Heap(k))
      rows.foreach { case (docId, vec) =>
        var qi = 0
        while (qi < nq) {
          if (!(excludeSelf && qids(qi) == docId)) {
            val qv = qvecs(qi)
            val n = math.min(qv.length, vec.length)
            var s = 0.0
            var i = 0
            while (i < n) { s += qv(i).toDouble * vec(i).toDouble; i += 1 }
            heaps(qi).offer(s, docId)
          }
          qi += 1
        }
      }
      Iterator.range(0, nq).flatMap { qi =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        heaps(qi).foreach((s, id) => out += ((qids(qi), id, s)))
        out.iterator
      }
    }.toDF("query_id", "doc_id", "score")

    rerank(candidates, k)
  }

  /** Global re-rank of a candidate frame (query_id, doc_id, score) via the
    * [[graft.functions.TopKAgg]] bounded-heap aggregate — map-side partial
    * top-k, no per-query window sort (SURVEY §4.3.1). */
  def rerank(candidates: DataFrame, k: Int): DataFrame = {
    import candidates.sparkSession.implicits._
    candidates
      .groupBy($"query_id")
      .agg(graft.functions.TopKAgg.collectTopK($"score", $"doc_id", k).as("topk"))
      .select($"query_id", posexplode($"topk").as(Seq("pos", "hit")))
      .select(
        $"query_id",
        $"hit.id".as("doc_id"),
        $"hit.score".as("score"),
        ($"pos" + 1).cast("long").as("rnk"))
  }

  /** IVF-probed variant of [[topK]]: corpus rows carry a centroid id and
    * each query carries a probe mask over centroids — the expensive dot
    * product runs ONLY when the doc's centroid is probed by the query
    * (the in-memory analog of [[Ann]]'s partition-pruned scan; at nProbe
    * of C centroids, ~nProbe/C of the pairs are scored).
    *
    * @param probes probes(qi)(centroidId) — whether query qi probes it
    */
  def topKProbed(
      corpus: Dataset[(Long, Int, Array[Float])],
      queries: Array[(Long, Array[Float])],
      probes: Array[Array[Boolean]],
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcQ = spark.sparkContext.broadcast(queries)
    val bcP = spark.sparkContext.broadcast(probes)

    val candidates = corpus.mapPartitions { rows =>
      val qs = bcQ.value
      val pr = bcP.value
      val nq = qs.length
      val qids = new Array[Long](nq)
      val qvecs = new Array[Array[Float]](nq)
      var t = 0
      while (t < nq) { qids(t) = qs(t)._1; qvecs(t) = qs(t)._2; t += 1 }
      val heaps = Array.fill(nq)(new graft.functions.TopKAgg.Heap(k))
      rows.foreach { case (docId, cid, vec) =>
        var qi = 0
        while (qi < nq) {
          if (pr(qi)(cid)) {
            val qv = qvecs(qi)
            val n = math.min(qv.length, vec.length)
            var s = 0.0
            var i = 0
            while (i < n) { s += qv(i).toDouble * vec(i).toDouble; i += 1 }
            heaps(qi).offer(s, docId)
          }
          qi += 1
        }
      }
      Iterator.range(0, nq).flatMap { qi =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        heaps(qi).foreach((s, id) => out += ((qids(qi), id, s)))
        out.iterator
      }
    }.toDF("query_id", "doc_id", "score")
    rerank(candidates, k)
  }

  /** Range search (faiss `range_search`): ALL corpus vectors with
    * dot ≥ threshold per query — no k bound, so no heap: the corpus
    * streams through one narrow map-side filter and only qualifying
    * (query, doc, score) rows are ever emitted. At 100 TB this is the
    * cheapest search shape in the engine — zero shuffle, output
    * proportional to the true result set.
    *
    * @return (query_id, doc_id, score)
    */
  def rangeSearch(
      corpus: Dataset[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])],
      threshold: Double,
      excludeSelf: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(queries)
    corpus.mapPartitions { rows =>
      val qs = bc.value
      val nq = qs.length
      val qids = new Array[Long](nq)
      val qvecs = new Array[Array[Float]](nq)
      var t = 0
      while (t < nq) { qids(t) = qs(t)._1; qvecs(t) = qs(t)._2; t += 1 }
      rows.flatMap { case (docId, vec) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var qi = 0
        while (qi < nq) {
          if (!(excludeSelf && qids(qi) == docId)) {
            val qv = qvecs(qi)
            val n = math.min(qv.length, vec.length)
            var s = 0.0
            var i = 0
            while (i < n) { s += qv(i).toDouble * vec(i).toDouble; i += 1 }
            if (s >= threshold) out += ((qids(qi), docId, s))
          }
          qi += 1
        }
        out.iterator
      }
    }.toDF("query_id", "doc_id", "score")
  }

  /** Late-interaction MaxSim top-k (the ColBERT scoring rule): both
    * sides are MULTI-vector — `subDim`-dim sub-vectors packed
    * back-to-back in one array — and the pair score is
    * `Σ_qm max_dm dot(q[qm], d[dm])`: each query sub-vector keeps only
    * its best-matching doc sub-vector. Same execution shape as [[topK]]
    * (queries broadcast, corpus streams, bounded per-query heaps, ties
    * id-asc); per-pair cost is (M_q × M_d) sub-dots instead of one.
    * Sub-dots accumulate in array order (the HOF/DuckDB contract).
    *
    * @return (query_id, doc_id, score, rnk)
    */
  def maxSimTopK(
      corpus: Dataset[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])],
      subDim: Int,
      k: Int,
      excludeSelf: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(queries)
    val candidates = corpus.mapPartitions { rows =>
      val qs = bc.value
      val nq = qs.length
      val qids = new Array[Long](nq)
      val qvecs = new Array[Array[Float]](nq)
      var t = 0
      while (t < nq) { qids(t) = qs(t)._1; qvecs(t) = qs(t)._2; t += 1 }
      val heaps = Array.fill(nq)(new graft.functions.TopKAgg.Heap(k))
      rows.foreach { case (docId, vec) =>
        val md = vec.length / subDim
        var qi = 0
        while (qi < nq) {
          if (!(excludeSelf && qids(qi) == docId)) {
            val qv = qvecs(qi)
            val mq = qv.length / subDim
            var score = 0.0
            var a = 0
            while (a < mq) {
              var best = Double.NegativeInfinity
              var b = 0
              while (b < md) {
                var s = 0.0
                var p = 0
                while (p < subDim) {
                  s += qv(a * subDim + p).toDouble * vec(b * subDim + p).toDouble
                  p += 1
                }
                if (s > best) best = s
                b += 1
              }
              score += best
              a += 1
            }
            heaps(qi).offer(score, docId)
          }
          qi += 1
        }
      }
      Iterator.range(0, nq).flatMap { qi =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        heaps(qi).foreach((s, id) => out += ((qids(qi), id, s)))
        out.iterator
      }
    }.toDF("query_id", "doc_id", "score")
    rerank(candidates, k)
  }

  /** Nearest-centroid assignment (the IVF build step, [[Ann]]): for each
    * corpus vector, the argmax-dot centroid — ties to the smallest
    * centroid id. Same execution shape as [[topK]]: centroids broadcast,
    * corpus streams, NO shuffle at all (narrow map) — the n×C crossJoin +
    * window alternative would shuffle every scored row.
    *
    * @return (id, centroid_id, score)
    */
  def assign(
      corpus: Dataset[(Long, Array[Float])],
      centroids: Array[(Long, Array[Float])]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    // the vector rides along in the output so an index build is ONE
    // narrow pass — no rejoin against the corpus to recover it
    corpus.map { case (id, vec) =>
      val (bestId, bestScore) = nearestCentroid(vec, bc.value)
      (id, bestId, bestScore, vec)
    }.toDF("id", "centroid_id", "score", "vec")
  }

  /** The argmax-dot kernel shared by [[assign]] and the metadata-carrying
    * index build ([[assignTagged]]): (centroid id, score) of the
    * best-dot centroid, ties to the smallest id. */
  private[operators] def nearestCentroid(
      vec: Array[Float],
      cs: Array[(Long, Array[Float])]): (Long, Double) = {
    var bestId = -1L
    var bestScore = Double.NegativeInfinity
    var ci = 0
    while (ci < cs.length) {
      val (cid, cv) = cs(ci)
      val n = math.min(cv.length, vec.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += cv(i).toDouble * vec(i).toDouble; i += 1 }
      if (s > bestScore || (s == bestScore && cid < bestId)) { bestScore = s; bestId = cid }
      ci += 1
    }
    (bestId, bestScore)
  }

  /** Every centroid ranked against `vec`: (centroid id, array-order
    * double dot), dot desc, ties to the smaller id — the v09 probe
    * order, so a probe of width n is the first n entries. Shared by the
    * driver-side search probe ([[Ann.probeLists]]) and the per-row
    * probes of the graph and cluster builds. */
  private[operators] def rankCentroids(
      vec: Array[Float],
      cs: Array[(Long, Array[Float])]): Array[(Long, Double)] =
    cs.map { case (cid, cv) =>
      val n = math.min(cv.length, vec.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += cv(i).toDouble * vec(i).toDouble; i += 1 }
      (cid, s)
    }.sortBy { case (cid, s) => (-s, cid) }

  /** [[assign]] with a metadata column riding along — the build path for
    * a FILTERED index ([[Ann.buildIndex]] carries the corpus `label` into
    * the persisted artifact so search-time predicates push down into the
    * pruned index scan instead of joining the corpus back). Same
    * shuffle-free narrow-map shape.
    *
    * @return (id, centroid_id, tag, vec)
    */
  def assignTagged(
      corpus: Dataset[(Long, Array[Float], Int)],
      centroids: Array[(Long, Array[Float])]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    corpus.map { case (id, vec, tag) =>
      (id, nearestCentroid(vec, bc.value)._1, tag, vec)
    }.toDF("id", "centroid_id", "tag", "vec")
  }

  /** Convenience wrapper over DataFrames with (idCol, vecCol) layout; the
    * query side is collected driver-side — it must be the genuinely small
    * side (≤ thousands of rows), which every SURVEY §2 query guarantees.
    */
  def topKFromFrames(
      corpus: DataFrame,
      queryFrame: DataFrame,
      k: Int,
      excludeSelf: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qs = queryFrame
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
    topK(corpus.select(col("id").cast("long"), col("vec")).as[(Long, Array[Float])], qs, k, excludeSelf)
  }
}
