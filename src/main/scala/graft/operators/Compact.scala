package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, QModule, Tables}

/** Compact-representation retrieval: the two candidate-generation rungs
  * below SQ8/PQ on the compression ladder.
  *
  *   - v34 — BINARY (sign-bit) quantization: 1 bit/dim (64-dim fixtures
  *     → 8 B/doc, 32× under raw float), Hamming distance by XOR+popcount
  *     over packed longs, exact top-k rescore of the Hamming top-R. The
  *     production shape of every "binary quantization" tier in serving
  *     stacks (FAISS `IndexBinaryFlat`; the reference's float pipeline
  *     `002-brute_force_similarity.py:170-197` is the rescore stage here).
  *   - v35 — Matryoshka (MRL) prefix search: rank by the dot product of
  *     the first [[PrefixDim]] components only (the front-loaded prefix
  *     of an MRL-trained embedding), then exact full-dimension rescore —
  *     "adaptive retrieval". At 100 TB the first pass reads a PrefixDim/
  *     dim slice of the bytes (a columnar scan of a truncated column),
  *     which is the whole point of MRL embeddings.
  *
  * Both run as one [[QuantScan]] pass over the `embeddings` table, each
  * with its own scorer: per-query top-R heaps by the cheap score, the
  * exact full-dimension rescore of their members in the same pass, then
  * the driver-merged global top-R and exact top-k. Nothing corpus-sized
  * shuffles; no join, no cartesian, no window sort.
  */
object Compact extends QModule {

  /** Queries = vec_id < MaxQ, like v03. */
  private val MaxQ = 20

  /** Hamming candidates per query fed to the exact rescore. */
  private val BqRescore = 50

  /** MRL prefix length (front dims of the embedding) and its candidate
    * count. 16 of 64 dims = a 4× cheaper (and 4× smaller) first pass. */
  private val PrefixDim = 16
  private val MrlRescore = 50

  private val K = 10

  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  private def duckDot(a: String, b: String): String =
    s"(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($a) AS x, unnest($b) AS y) zz)"

  /** Pack sign bits (x > 0) into words, dim bits → ceil(dim/64) longs.
    * Bit i of word i/64 is set iff component i is strictly positive —
    * the same `x > 0.0` predicate the oracle applies per component, so
    * Hamming(codes) ≡ count of sign disagreements exactly (integer
    * arithmetic; no float-accumulation divergence class at all). */
  private[graft] def packSigns(v: Array[Float]): Array[Long] = {
    val words = new Array[Long]((v.length + 63) >>> 6)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0.0f) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    words
  }

  /** XOR+popcount Hamming distance over packed sign codes. */
  private[graft] def hamming(a: Array[Long], b: Array[Long]): Int = {
    var h = 0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { h += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    h
  }

  /** The binary scorer of [[QuantScan]]: approx = −Hamming(query signs,
    * row signs), so the kernel's (approx desc, doc_id asc) order is
    * exactly the oracle's `ORDER BY hd, doc_id`. Its codes are the row's
    * float vector, whose signs it packs once per row. */
  private[graft] final class HammingScorer(queries: Array[(Long, Array[Float])])
      extends QuantScan.Scorer[Array[Float]] {
    private val qcodes = queries.map(q => packSigns(q._2))
    def codes: org.apache.spark.sql.Column = col("embedding")
    def score(vec: Array[Float], list: Long, qis: Array[Int], out: Array[Double]): Unit = {
      val code = packSigns(vec)
      var j = 0
      while (j < qis.length) { out(j) = -hamming(qcodes(qis(j)), code).toDouble; j += 1 }
    }
  }

  /** The MRL scorer of [[QuantScan]]: approx = the dot of the first
    * [[PrefixDim]] components, double accumulation in array order. Its
    * codes are the sliced column — at scale a scan of a PrefixDim-
    * truncated column, dim/PrefixDim× less I/O. */
  private[graft] final class PrefixScorer(queries: Array[(Long, Array[Float])])
      extends QuantScan.Scorer[Array[Float]] {
    private val qvecs = queries.map(_._2)
    def codes: org.apache.spark.sql.Column = slice(col("embedding"), 1, PrefixDim)
    def score(prefix: Array[Float], list: Long, qis: Array[Int], out: Array[Double]): Unit = {
      var j = 0
      while (j < qis.length) {
        val qv = qvecs(qis(j))
        val n = math.min(qv.length, prefix.length)
        var s = 0.0
        var i = 0
        while (i < n) { s += qv(i).toDouble * prefix(i).toDouble; i += 1 }
        out(j) = s
        j += 1
      }
    }
  }

  /** The two-stage search over the `embeddings` table: the scorer's
    * top-`pool` candidates per query (GLOBAL, so the boundary is the
    * oracle's `crn <= pool` on any partitioning), exact top-`k` rescore,
    * as (query_id, rnk, doc_id) rows in rank order. `pred` pre-filters
    * the scan BEFORE the heaps — a declarative filter Catalyst pushes
    * into the parquet read — so the pool is guaranteed over the
    * filtered universe. */
  private def twoStage(
      s: SparkSession, d: String, maxQ: Int, k: Int, pool: Int,
      pred: Option[org.apache.spark.sql.Column],
      scorer: Array[(Long, Array[Float])] => QuantScan.Scorer[Array[Float]]): DataFrame = {
    val queries = VectorSearch.queryVectors(s, d, maxQ)
    val corpus = pred.foldLeft(emb(s, d))(_ filter _)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    QuantScan.search(corpus, scorer(queries), queries, None, k, pool)
      .select(col("query_id"), col("rnk"), col("doc_id"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The v34 two-stage binary search with the dial exposed: Hamming
    * top-`pool` candidates, exact top-`k` rescore — v43's bin tier
    * cells (the pool is the tier's recall dial, exactly like the 1M
    * bench's `bin_operating_point`). `pred` (v50) pre-filters the
    * Hamming scan, completing the filtered matrix on the 1-bit tier. */
  private[graft] def searchBinary(
      s: SparkSession, d: String, maxQ: Int, k: Int, pool: Int,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame =
    twoStage(s, d, maxQ, k, pool, pred, new HammingScorer(_))

  /** The v35 MRL prefix search: prefix-dot top-[[MrlRescore]], exact
    * top-[[K]] rescore; `pred` pre-filters the prefix scan (v52). */
  private def searchPrefix(
      s: SparkSession, d: String, pred: Option[org.apache.spark.sql.Column]): DataFrame =
    twoStage(s, d, MaxQ, K, MrlRescore, pred, new PrefixScorer(_))

  /** [[searchBinary]] as DuckDB SQL, parameterized like the engine call
    * — self-contained WITH block, embeddable as a subquery (the Pq/Sq
    * oracle pattern). `predSql` is over alias `c`, the candidate's
    * embeddings row, applied BEFORE the Hamming ranking — the engine's
    * pre-filter position. */
  private[operators] def duckBinSearch(maxQ: Int, k: Int, pool: Int,
      predSql: String = "TRUE"): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $maxQ),
      ham AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               (SELECT count(*) FROM (SELECT unnest(q.qe) AS x, unnest(c.embedding) AS y) zz
                WHERE (x > 0) <> (y > 0)) AS hd
        FROM q, embeddings c WHERE c.vec_id <> q.query_id AND ($predSql)),
      cand AS (
        SELECT query_id, doc_id FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY hd, doc_id) AS crn
          FROM ham)
        WHERE crn <= $pool),
      resc AS (
        SELECT c.query_id, c.doc_id,
               ${duckDot("q.qe", "dd.embedding")} AS score
        FROM cand c
        JOIN q ON q.query_id = c.query_id
        JOIN embeddings dd ON dd.vec_id = c.doc_id),
      rr AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM resc)
    SELECT query_id, rnk, doc_id FROM rr WHERE rnk <= $k ORDER BY query_id, rnk"""

  // ---------------------------------------------------------------- v34
  /** Binary-quantized search: Hamming top-[[BqRescore]] candidates over
    * 1-bit sign codes, exact top-[[K]] rescore. */
  private val v34 = Q(
    "v34_binary_topk",
    (s, d) => searchBinary(s, d, MaxQ, K, BqRescore),
    Some(duckBinSearch(MaxQ, K, BqRescore)))

  // ---------------------------------------------------------------- v61
  /** The binary tier through the SQL PARSER — `binary_search(dir, maxQ,
    * k, pool)` (VERDICT r12 next #7: binary and SQ8 were the two tiers
    * still missing their TVF surface). Same parameters and oracle as
    * v34: identical results through both surfaces IS the contract. */
  private val v61 = Q(
    "v61_sql_binary_search",
    (s, d) => s.sql(
      s"""SELECT query_id, rnk, doc_id
          FROM binary_search('$d', $MaxQ, $K, $BqRescore)
          ORDER BY query_id, rnk"""),
    Some(duckBinSearch(MaxQ, K, BqRescore)))

  // ---------------------------------------------------------------- v50
  /** FILTERED binary search (round 12): the predicate pre-filters the
    * packed Hamming scan — pushed into the parquet read, excluded rows
    * never packed or scored, the candidate pool guaranteed over the
    * filtered universe — then the exact rescore sees only surviving
    * candidates. With v18/v19/v42/v47/v48/v49 this completes the
    * filtered-search matrix across every serving tier (exact, float
    * IVF, adaptive, graph, IVF+SQ8, flat PQ, 1-bit binary): a user can
    * compose a tenant/metadata predicate with ANY representation the
    * engine serves. */
  private val v50 = Q(
    "v50_filtered_binary",
    (s, d) => searchBinary(s, d, MaxQ, K, BqRescore,
      pred = Some(col("label") % 3 === 0)),
    Some(duckBinSearch(MaxQ, K, BqRescore, predSql = "c.label % 3 = 0")))

  // ---------------------------------------------------------------- v35
  /** Matryoshka prefix search: first pass ranks by the dot of the first
    * [[PrefixDim]] components (the SLICED column — at scale a scan of a
    * PrefixDim-truncated column, dim/PrefixDim× less I/O), exact
    * full-dim rescore of the top-[[MrlRescore]]. */
  private val v35 = Q(
    "v35_mrl_prefix",
    (s, d) => searchPrefix(s, d, None),
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $MaxQ),
      pref AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot(s"list_slice(q.qe, 1, $PrefixDim)", s"list_slice(c.embedding, 1, $PrefixDim)")} AS pscore
        FROM q, embeddings c WHERE c.vec_id <> q.query_id),
      cand AS (
        SELECT query_id, doc_id FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY pscore DESC, doc_id) AS crn
          FROM pref)
        WHERE crn <= $MrlRescore),
      resc AS (
        SELECT c.query_id, c.doc_id,
               ${duckDot("q.qe", "dd.embedding")} AS score
        FROM cand c
        JOIN q ON q.query_id = c.query_id
        JOIN embeddings dd ON dd.vec_id = c.doc_id),
      rr AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM resc)
    SELECT query_id, rnk, doc_id FROM rr WHERE rnk <= $K ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- v52
  /** FILTERED MRL prefix search (round 12): the predicate pre-filters
    * the SLICED prefix scan — excluded rows are never prefix-scored, so
    * the [[MrlRescore]] candidate pool is guaranteed over the filtered
    * universe and the exact full-dimension rescore sees survivors only
    * (the v48/v49/v50 pre-filter discipline on the MRL tier). With this
    * the filtered matrix covers literally every representation the
    * engine serves: exact, float IVF, adaptive, graph, IVF+SQ8, flat
    * PQ, 1-bit binary, AND the MRL prefix tier. At 100 TB the filter
    * prunes the already-4×-cheaper truncated-column scan — predicate
    * and prefix cheapness compose. */
  private val v52 = Q(
    "v52_filtered_mrl",
    (s, d) => searchPrefix(s, d, Some(col("label") % 3 === 0)),
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $MaxQ),
      pref AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot(s"list_slice(q.qe, 1, $PrefixDim)", s"list_slice(c.embedding, 1, $PrefixDim)")} AS pscore
        FROM q, embeddings c
        WHERE c.vec_id <> q.query_id AND c.label % 3 = 0),
      cand AS (
        SELECT query_id, doc_id FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY pscore DESC, doc_id) AS crn
          FROM pref)
        WHERE crn <= $MrlRescore),
      resc AS (
        SELECT c.query_id, c.doc_id,
               ${duckDot("q.qe", "dd.embedding")} AS score
        FROM cand c
        JOIN q ON q.query_id = c.query_id
        JOIN embeddings dd ON dd.vec_id = c.doc_id),
      rr AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM resc)
    SELECT query_id, rnk, doc_id FROM rr WHERE rnk <= $K ORDER BY query_id, rnk"""))

  override def all: Seq[Q] = Seq(v34, v35, v50, v52, v61)
}
