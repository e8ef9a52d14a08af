package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, QModule, Tables}

/** SQ8 scalar quantization — the third rung of the engine's index
  * compression ladder (raw float32 → SQ8 → PQ), mirroring FAISS's
  * `IndexScalarQuantizer(QT_8bit)`: each dimension is quantized
  * independently to one byte against per-dimension corpus [min, max]
  * bounds, 4× smaller than raw with far smaller quantization error than
  * PQ's 32× (the standard accuracy/size midpoint; reference-capability
  * anchor: the hnswlib/faiss report trees the reference compares against,
  * `notebooks/005-compare_benchmarks.py:32-50`, are exactly this index-
  * family tradeoff study).
  *
  * Spark-first shape (same contracts as [[Pq]]):
  *   - TRAIN is one narrow corpus pass: per-partition [lo, hi] partial
  *     arrays, driver-combined — O(P × dim) at the driver, vectors never
  *     shuffle. min/max are order-free and EXACT on floats, so the
  *     trained bounds are bit-identical on any partitioning and engine
  *     (no Lloyd, no float-mean divergence class at all).
  *   - ENCODE is a narrow map producing one `Array[Byte]` per doc
  *     (dim bytes — 4× compression, no shuffle), with the doc's IVF
  *     assignment, `label` and float vector beside the codes.
  *   - SEARCH is one [[QuantScan]] pass, as for [[Pq]]: asymmetric
  *     distance over the compressed codes (query stays float) into
  *     per-query top-[[RCand]] heaps, exact rescore of their members
  *     only, then the driver-merged global top-[[RCand]] (partitioning-
  *     independent candidate boundary) and the final top-k. The flat
  *     tier is the IVF frame with every list probed.
  *
  * Cross-engine determinism: the oracle replays the IDENTICAL pipeline in
  * SQL — same bounds (exact min/max), same encode expression
  * `floor((x-lo)/step + 0.5)` with `step = (hi-lo)/255`, same ADC score
  * `Σ qᵢ·(loᵢ + codeᵢ·stepᵢ)` accumulated in array order on both engines
  * (the [[BruteForce]] kernel contract), same global RCand boundary with
  * doc_id ties, same exact rescore.
  */
object Sq extends QModule {

  /** Quantization levels per dimension (one byte). */
  val Levels = 255

  /** ADC candidates per query fed to the exact rescore (v13's bound). */
  val RCand = 50

  private def corpusDs(s: SparkSession, d: String): Dataset[(Long, Array[Float])] = {
    import s.implicits._
    Tables(s, d, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .as[(Long, Array[Float])]
  }

  private def corpusDsTagged(s: SparkSession, d: String): Dataset[(Long, Array[Float], Int)] = {
    import s.implicits._
    Tables(s, d, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"), $"label")
      .as[(Long, Array[Float], Int)]
  }

  /** Per-dimension [lo, hi] corpus bounds: per-partition partial min/max
    * arrays, combined at the driver — one narrow pass, O(P × dim) driver
    * traffic. Exact (min/max of the same float set) on any partitioning. */
  def trainBounds(corpus: Dataset[(Long, Array[Float])]): (Array[Double], Array[Double]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val partials: Array[(Array[Double], Array[Double])] = corpus
      .mapPartitions { rows =>
        var lo: Array[Double] = null
        var hi: Array[Double] = null
        rows.foreach { case (_, vec) =>
          if (lo == null) {
            lo = Array.fill(vec.length)(Double.PositiveInfinity)
            hi = Array.fill(vec.length)(Double.NegativeInfinity)
          }
          var i = 0
          while (i < vec.length) {
            val x = vec(i).toDouble
            if (x < lo(i)) lo(i) = x
            if (x > hi(i)) hi(i) = x
            i += 1
          }
        }
        if (lo == null) Iterator.empty else Iterator.single((lo, hi))
      }
      .collect()
    require(partials.nonEmpty, "SQ8 training requires a non-empty corpus")
    val dim = partials(0)._1.length
    val lo = Array.fill(dim)(Double.PositiveInfinity)
    val hi = Array.fill(dim)(Double.NegativeInfinity)
    partials.foreach { case (plo, phi) =>
      var i = 0
      while (i < dim) {
        if (plo(i) < lo(i)) lo(i) = plo(i)
        if (phi(i) > hi(i)) hi(i) = phi(i)
        i += 1
      }
    }
    (lo, hi)
  }

  /** Per-dimension quantization step, the SAME double expression the
    * oracle uses: (hi-lo)/255, 0 for constant dimensions. */
  def steps(lo: Array[Double], hi: Array[Double]): Array[Double] = {
    val st = new Array[Double](lo.length)
    var i = 0
    while (i < lo.length) {
      st(i) = if (hi(i) == lo(i)) 0.0 else (hi(i) - lo(i)) / Levels.toDouble
      i += 1
    }
    st
  }

  /** Encode one vector component — shared by [[encode]] and the spec.
    * Bounds-trained inputs always land in [0, 255]; the `min` guards the
    * float-roundoff edge at hi exactly like the oracle's `least`. The
    * `max` clamps components BELOW the trained lo to code 0 — unused on
    * bounds-trained input, but this method is public and the persisted
    * index invites encoding NEW vectors against stale bounds, where an
    * unclamped negative would wrap when narrowed to Byte (ADVICE r8). */
  def encodeComponent(x: Double, lo: Double, step: Double): Int =
    if (step == 0.0) 0
    else math.max(0.0, math.min(math.floor((x - lo) / step + 0.5), Levels.toDouble)).toInt

  private def encodeVec(vec: Array[Float], lo: Array[Double], st: Array[Double]): Array[Byte] = {
    val codes = new Array[Byte](vec.length)
    var i = 0
    while (i < vec.length) {
      codes(i) = encodeComponent(vec(i).toDouble, lo(i), st(i)).toByte
      i += 1
    }
    codes
  }

  /** Narrow-map SQ8 encode: (doc_id, codes byte[dim]) — 4× compression,
    * no shuffle. */
  def encode(
      corpus: Dataset[(Long, Array[Float])],
      lo: Array[Double],
      hi: Array[Double]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((lo, steps(lo, hi)))
    corpus
      .map { case (id, vec) => (id, encodeVec(vec, bc.value._1, bc.value._2)) }
      .toDF("doc_id", "codes")
  }

  /** The trained bounds, memoized per session × dir. */
  private def bounds(s: SparkSession, d: String): (Array[Double], Array[Double]) =
    graft.Memo.cachedValue(s, s"sq-bounds:$d")(trainBounds(corpusDs(s, d)))

  /** The memoized SQ8 frame (doc_id, centroid_id, codes, label,
    * embedding), built in one narrow map: each corpus vector's argmax-dot
    * centroid ([[BruteForce.nearestCentroid]] — the [[Ann]] assignment
    * contract, ties to the smallest centroid id), its byte codes, its
    * `label` (a predicate over the encoded rows is a declarative filter
    * the scan prunes, v48) and its float vector for the exact rescore.
    * No join between the build artifacts, no shuffle. */
  private[graft] def frame(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"sq-assigned:$d") {
      import s.implicits._
      val (lo, hi) = bounds(s, d)
      val bc = s.sparkContext.broadcast((Ann.centroidArray(s, d), lo, steps(lo, hi)))
      corpusDsTagged(s, d)
        .map { case (id, vec, tag) =>
          val (cents, l, st) = bc.value
          (id, BruteForce.nearestCentroid(vec, cents)._1, encodeVec(vec, l, st), tag, vec)
        }
        .toDF("doc_id", "centroid_id", "codes", "label", "embedding")
    }

  /** The SQ8 scorer of [[QuantScan]]: approx = `Σ qᵢ·(loᵢ + codeᵢ·stepᵢ)`
    * accumulated in array order — the identical float-op sequence the
    * oracle's unnest dot runs. */
  private final class Sq8Scorer(qvecs: Array[Array[Float]], lo: Array[Double], st: Array[Double])
      extends QuantScan.Scorer[Array[Byte]] {
    def codes: org.apache.spark.sql.Column = col("codes")
    def score(codes: Array[Byte], list: Long, qis: Array[Int], out: Array[Double]): Unit = {
      var j = 0
      while (j < qis.length) {
        val qv = qvecs(qis(j))
        val n = math.min(qv.length, codes.length)
        var s = 0.0
        var i = 0
        while (i < n) {
          s += qv(i).toDouble * (lo(i) + (codes(i) & 0xFF).toDouble * st(i))
          i += 1
        }
        out(j) = s
        j += 1
      }
    }
  }

  /** The SQ8 scorer for `queries` under bounds [lo, hi]. */
  private[graft] def scorer(queries: Array[(Long, Array[Float])], lo: Array[Double],
      hi: Array[Double]): QuantScan.Scorer[Array[Byte]] =
    new Sq8Scorer(queries.map(_._2), lo, steps(lo, hi))

  /** Flat SQ8 search: every query scores every encoded doc, global
    * top-[[RCand]] by approx, exact rescore of that set only, top-k —
    * the [[frame]] with every list probed. Same contract as [[Pq.search]].
    * @return (query_id, doc_id, score, rnk) */
  def search(s: SparkSession, d: String, maxQueryId: Int, k: Int): DataFrame = {
    val (lo, hi) = bounds(s, d)
    val queries = VectorSearch.queryVectors(s, d, maxQueryId)
    QuantScan.search(frame(s, d), scorer(queries, lo, hi), queries, None, k, RCand)
  }

  // --------------------------------------------------- IVF composition
  /** IVF + SQ8 search — the composition the kernel bench times
    * ([[VectorBlocks.ivfsqSearch]]) at registry scale under the oracle
    * gate: probe the top-nProbe [[Ann]] centroids per query (same probe
    * arithmetic and ties as v09), then one [[QuantScan]] pass over ONLY
    * the probed lists' rows: byte-ADC, global RCand trim, exact rescore,
    * top-k. `pred` prunes the frame's rows BEFORE the kernel — the
    * pre-filter discipline (k and the RCand trim stay guaranteed over
    * the filtered universe within the probe set), with no join back to
    * the float corpus. */
  def searchIvf(s: SparkSession, d: String, maxQueryId: Int, k: Int, nProbe: Int,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (lo, hi) = bounds(s, d)
    val queries = VectorSearch.queryVectors(s, d, maxQueryId)
    QuantScan.search(pred.foldLeft(frame(s, d))(_ filter _), scorer(queries, lo, hi), queries,
      Some(Ann.probeLists(queries, Ann.centroidArray(s, d), nProbe)), k, RCand)
  }

  // ----------------------------------------------------- K4: persistence
  /** K4 for the SQ8 tier (mirrors [[Pq.buildPersistedIndex]]): trained
    * bounds + the in-session [[frame]] (byte codes beside the float
    * vectors) written once as parquet under the same configurable
    * Hadoop-FS root ([[Ann.IndexRootConf]]), build-if-absent. Parquet
    * round-trips the double bounds, binary codes and float vectors
    * exactly, so persisted serving is bit-identical to the in-session
    * pipeline (v26 shares v23's oracle). The `_refine` suffix keeps a
    * codes-only artifact from being read. Returns the artifact's
    * location. */
  def buildPersistedIndex(s: SparkSession, d: String): String = {
    val path = Ann.artifactPath(s, d, s"sq${Levels}_refine")
    graft.PathLocks.withLock(path) { // see Ann.buildIndex's race note
      val (fs, success) = Ann.hfs(s, s"$path/codes/_SUCCESS")
      if (!fs.exists(success)) {
        val spark = s
        import spark.implicits._
        val (lo, hi) = bounds(s, d)
        lo.zip(hi).zipWithIndex.map { case ((l, h), i) => (i, l, h) }.toSeq
          .toDF("dim", "lo", "hi")
          .write.mode("overwrite").parquet(s"$path/bounds")
        frame(s, d).write.mode("overwrite").parquet(s"$path/codes")
      }
    }
    path
  }

  // Declared artifact read schemas (round 17, same rationale as
  // Ann.IndexSchema): the writers are in this object, so the schemas are
  // engine constants; declaring them skips the serial driver
  // footer-inference pass per read (tools/ReadProbe: 78–93 → 10–16 ms).
  private def ddl(str: String) = org.apache.spark.sql.types.StructType.fromDDL(str)
  private val BoundsSchema = ddl("dim INT, lo DOUBLE, hi DOUBLE")
  private val SqCodesSchema = ddl(
    "doc_id BIGINT, centroid_id BIGINT, codes BINARY, label INT, embedding ARRAY<FLOAT>")

  /** SQ8 search served from the PERSISTED index artifacts only. */
  def searchPersisted(s: SparkSession, d: String, maxQueryId: Int, k: Int): DataFrame = {
    import s.implicits._
    val path = buildPersistedIndex(s, d)
    val bs = s.read.schema(BoundsSchema).parquet(s"$path/bounds")
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    val queries = VectorSearch.queryVectors(s, d, maxQueryId)
    QuantScan.search(s.read.schema(SqCodesSchema).parquet(s"$path/codes"),
      scorer(queries, bs.map(_._2), bs.map(_._3)), queries, None, k, RCand)
  }

  // ------------------------------------------------------------ oracle SQL
  /** Shared CTE chain: exact per-dim bounds, the encode expression, and
    * decoded vectors rebuilt in dimension order so the ADC dot unnests
    * in the same array order the kernel accumulates in. Dim is 64 on the
    * fixtures (like v13's oracle). */
  private val duckEncodeCtes: String =
    s"""st AS (
      SELECT u.i AS i, min(CAST(u.x AS DOUBLE)) AS lo, max(CAST(u.x AS DOUBLE)) AS hi
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS x, unnest(generate_series(1, 64)) AS i) u
      GROUP BY u.i),
    stp AS (
      SELECT i, lo, hi,
             CASE WHEN hi = lo THEN 0.0 ELSE (hi - lo) / ${Levels}.0 END AS step
      FROM st),
    en AS (
      SELECT e.vec_id AS doc_id, u.i AS i, s.lo, s.step,
             CASE WHEN s.step = 0.0 THEN 0
                  ELSE CAST(least(floor((CAST(u.x AS DOUBLE) - s.lo) / s.step + 0.5),
                                  ${Levels}.0) AS INT) END AS code
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS x, unnest(generate_series(1, 64)) AS i) u
      JOIN stp s ON s.i = u.i),
    decv AS (
      SELECT doc_id, list(lo + code * step ORDER BY i) AS dv
      FROM en GROUP BY doc_id)"""

  /** Shared tail: global RCand boundary over an `approx(query_id,
    * doc_id, ascore)` CTE, exact rescore, top-k display. */
  private def duckTail(k: Int): String =
    s"""cand AS (
      SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY ascore DESC, doc_id) AS arn
        FROM approx)
      WHERE arn <= $RCand),
    rescored AS (
      SELECT cand.query_id, cand.doc_id,
             (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
              FROM (SELECT unnest(qq.qe) AS x, unnest(ee.embedding) AS y) zz) AS score
      FROM cand
      JOIN q qq ON qq.query_id = cand.query_id
      JOIN embeddings ee ON ee.vec_id = cand.doc_id)
    SELECT query_id, rnk, doc_id, round(score, 4) AS score FROM (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
      FROM rescored)
    WHERE rnk <= $k ORDER BY query_id, rnk"""

  /** The full flat-SQ pipeline in DuckDB (v23/v26). */
  private def duckSqSearch(maxQueryId: Int, k: Int): String =
    s"""WITH $duckEncodeCtes,
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $maxQueryId),
    approx AS (
      SELECT q.query_id, d.doc_id,
             (SELECT sum(CAST(x AS DOUBLE) * y)
              FROM (SELECT unnest(q.qe) AS x, unnest(d.dv) AS y) zz) AS ascore
      FROM q, decv d WHERE d.doc_id <> q.query_id),
    ${duckTail(k)}"""

  /** The IVF+SQ composition in DuckDB (v27/v48): [[Ann.duckCentAssign]]'s
    * centroid set + assignment, the v09 probe contract (top-nProbe by
    * dot desc, centroid_id ties), ADC restricted to probed inverted
    * lists, then the shared trim/rescore tail. `predSql` (over alias
    * `em`, the candidate's embeddings row) mirrors the engine's
    * pre-filter on the encoded rows — applied BEFORE the ADC ranking
    * and the RCand trim, exactly where the engine applies it. */
  private[graft] def duckIvfSqSearch(maxQueryId: Int, k: Int, nProbe: Int,
      predSql: String = "TRUE"): String =
    s"""WITH ${Ann.duckCentAssign},
    $duckEncodeCtes,
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $maxQueryId),
    probed AS (
      SELECT query_id, qe, centroid_id FROM (
        SELECT q.query_id, q.qe, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                                            FROM (SELECT unnest(q.qe) AS x, unnest(c.ce) AS y) zz) DESC,
                                           c.centroid_id) AS prn
        FROM q, cent c)
      WHERE prn <= $nProbe),
    approx AS (
      SELECT p.query_id, a.doc_id,
             (SELECT sum(CAST(x AS DOUBLE) * y)
              FROM (SELECT unnest(p.qe) AS x, unnest(dv.dv) AS y) zz) AS ascore
      FROM probed p JOIN assign a USING (centroid_id)
      JOIN decv dv ON dv.doc_id = a.doc_id
      JOIN embeddings em ON em.vec_id = a.doc_id
      WHERE a.doc_id <> p.query_id AND ($predSql)),
    ${duckTail(k)}"""

  // ---------------------------------------------------------------- v23
  /** SQ8 search end to end for queries vec_id < 10, top-10 — the
    * compression-ladder midpoint under the same oracle discipline as
    * v13/v17. */
  private val v23 = Q(
    "v23_sq8_topk",
    (s, d) => {
      import s.implicits._
      search(s, d, maxQueryId = 10, k = 10)
        .select($"query_id", $"rnk", $"doc_id", round($"score", 4).as("score"))
        .orderBy($"query_id", $"rnk")
    },
    Some(duckSqSearch(maxQueryId = 10, k = 10)))

  // ---------------------------------------------------------------- v26
  /** K4 persistence for the SQ8 tier under the oracle gate: search served
    * entirely from the persisted bounds + codes parquet (build-if-absent,
    * Hadoop-FS root) — same parameters and oracle as v23, because
    * persisted serving must be bit-identical to the in-session
    * pipeline. */
  private val v26 = Q(
    "v26_sq_persisted",
    (s, d) => {
      import s.implicits._
      searchPersisted(s, d, maxQueryId = 10, k = 10)
        .select($"query_id", $"rnk", $"doc_id", round($"score", 4).as("score"))
        .orderBy($"query_id", $"rnk")
    },
    Some(duckSqSearch(maxQueryId = 10, k = 10)))

  // ---------------------------------------------------------------- v27
  /** IVF + SQ8 end to end under the oracle gate: the composition the
    * kernel bench times ([[VectorBlocks.ivfsqSearch]]) — probe, then one
    * pass of pruned byte-ADC and exact rescore, then the driver merge —
    * with nProbe 4 of [[Ann.Centroids]] partitions. */
  private val v27 = Q(
    "v27_ivfsq_topk",
    (s, d) => {
      import s.implicits._
      searchIvf(s, d, maxQueryId = 10, k = 10, nProbe = 4)
        .select($"query_id", $"rnk", $"doc_id", round($"score", 4).as("score"))
        .orderBy($"query_id", $"rnk")
    },
    Some(duckIvfSqSearch(maxQueryId = 10, k = 10, nProbe = 4)))

  // ---------------------------------------------------------------- v62
  /** The IVF+SQ8 tier through the SQL PARSER — `ivfsq_search(dir, maxQ,
    * k, nProbe)` (VERDICT r12 next #7). Same parameters and oracle as
    * v27: both surfaces are the same plan and must hash-match. */
  private val v62 = Q(
    "v62_sql_ivfsq_search",
    (s, d) => s.sql(
      s"""SELECT query_id, rnk, doc_id, round(score, 4) AS score
          FROM ivfsq_search('$d', 10, 10, 4)
          ORDER BY query_id, rnk"""),
    Some(duckIvfSqSearch(maxQueryId = 10, k = 10, nProbe = 4)))

  // ---------------------------------------------------------------- v48
  /** FILTERED compressed-tier search — the metadata predicate composed
    * with IVF+SQ8 (v48; round 12). At 100 TB the float tier is too big
    * to serve filters from — the predicate has to run against the
    * compressed scan tier, which is exactly this composition: the label
    * rides in the encoded frame ([[frame]]), the
    * predicate prunes the encoded rows BEFORE the ADC kernel (k and the
    * RCand trim guaranteed over the filtered universe within the probe
    * set — the v19 pre-filter discipline), and the exact rescore only
    * ever sees surviving candidates. nProbe widened to 8 (vs v27's 4),
    * the standard filtered-dial compensation for thinned lists. The
    * oracle replays the same pre-ADC filter position — a post-filtered
    * trim (RCand over unfiltered candidates) would hash-mismatch. */
  private val v48 = Q(
    "v48_filtered_ivfsq",
    (s, d) => {
      import s.implicits._
      searchIvf(s, d, maxQueryId = 10, k = 10, nProbe = 8,
          pred = Some(col("label") % 3 === 0))
        .select($"query_id", $"rnk", $"doc_id", round($"score", 4).as("score"))
        .orderBy($"query_id", $"rnk")
    },
    Some(duckIvfSqSearch(maxQueryId = 10, k = 10, nProbe = 8,
      predSql = "em.label % 3 = 0")))

  override def all: Seq[Q] = Seq(v23, v26, v27, v48, v62)
}
