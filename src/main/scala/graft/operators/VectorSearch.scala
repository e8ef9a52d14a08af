package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QModule, Tables}
import graft.functions.VectorFunctions._

/** The vector-search core of SURVEY.md §2: brute-force cosine top-k (X1 +
  * T1 + W1), retrieval-quality metrics Recall@K / Precision@K / MRR
  * (J6 + A1-A3 + A9), vector scalar functions (F7/F8), and the HNSW
  * layer-assignment analysis (V6 + A8 + F9).
  *
  * Ground truth: the driver's `embeddings` table carries a `label` column;
  * we treat "same label" as the qrels relevance relation, which gives a
  * deterministic, SQL-expressible oracle (the reference's qrels are an
  * external file, `000:122-128`; the metric MATH is what is being
  * verified, mirroring `utils.py:15-110`).
  *
  * Scale notes (100 TB design): the query side is always the small side →
  * broadcast; the corpus side streams. Top-k runs on the fused kernel
  * with per-partition bounded heaps ([[graft.plans.CosineTopK]]) and
  * merges per query on the driver ([[graft.plans.PerQueryTopK]]), so no
  * full sort and no shuffle ever happens; the crossJoin+window form
  * survives as [[topKWindow]], the plan-level oracle the kernel is
  * cross-checked against in tests.
  */
object VectorSearch extends QModule {

  /** DuckDB double-precision dot product of two list columns via parallel
    * unnest — mirrors [[graft.functions.VectorFunctions.dot]] exactly
    * (double accumulation in list order). */
  private[operators] def duckDot(a: String, b: String): String =
    s"(SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest($a) AS x, unnest($b) AS y) zz)"

  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  /** The registry's query set, driver-held: (vec_id, embedding) for
    * vec_id < maxQueryId, sorted by id. One collect per call — every
    * search tier probes or scores these arrays. */
  private[graft] def queryVectors(
      s: SparkSession, d: String, maxQueryId: Int): Array[(Long, Array[Float])] = {
    import s.implicits._
    emb(s, d).filter($"vec_id" < maxQueryId).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
  }

  // ---------------------------------------------------------------- v01
  /** F8: L2 norms of all embeddings (the normalize-once trick's input,
    * `004:193-196`). */
  private val v01 = Q(
    "v01_l2_norm",
    (s, d) => {
      import s.implicits._
      emb(s, d)
        .select($"vec_id", round(l2Norm($"embedding"), 4).as("norm"))
        .orderBy($"vec_id")
    },
    Some("""SELECT vec_id,
      round(sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                  FROM (SELECT unnest(embedding) AS x) zz)), 4) AS norm
    FROM embeddings ORDER BY vec_id"""))

  // ---------------------------------------------------------------- v02
  /** F7: pairwise cosine similarity for a small id block. */
  private val v02 = Q(
    "v02_cosine_pairs",
    (s, d) => {
      import s.implicits._
      val a = emb(s, d).filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qe"))
      val b = emb(s, d).filter($"vec_id" < 10).select($"vec_id".as("did"), $"embedding".as("de"))
      a.crossJoin(b)
        .filter($"qid" < $"did")
        .select(
          $"qid",
          $"did",
          round(dot($"qe", $"de") / (l2Norm($"qe") * l2Norm($"de")), 4).as("cos"))
        .orderBy($"qid", $"did")
    },
    Some(s"""SELECT a.vec_id AS qid, b.vec_id AS did,
      round(${duckDot("a.embedding", "b.embedding")}
        / (sqrt(${duckDot("a.embedding", "a.embedding")})
           * sqrt(${duckDot("b.embedding", "b.embedding")})), 4) AS cos
    FROM embeddings a, embeddings b
    WHERE a.vec_id < 5 AND b.vec_id < 10 AND a.vec_id < b.vec_id
    ORDER BY qid, did"""))

  // ---------------------------------------------------------------- v03
  /** X1 + T1 + W1: brute-force cosine top-10 per query (the reference's
    * canonical query, `002:170-197`). Queries = vec_id < 20 (broadcast
    * side); corpus = all embeddings; self-match excluded; ties broken by
    * doc_id for determinism. Scores are equal-rank ties only at double
    * precision, so rank/doc_id are hash-stable across engines. */
  private val v03 = Q(
    "v03_brute_topk",
    // query_id < 20 ⊂ the shared (maxQ=100, k=100) frame → filter, don't
    // rescan (top-10 is a rank prefix of the top-100 frame).
    (s, d) => searchFrame(s, d).filter(col("query_id") < 20 && col("rnk") <= 10)
      .select(col("query_id"), col("rnk"), col("doc_id")),
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM scored)
    SELECT query_id, rnk, doc_id FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  /** Top-k search frame: (query_id, doc_id, score, rnk) for queries with
    * vec_id < maxQueryId, top-k by dot product (embeddings are
    * pre-normalized so dot ≡ cosine; asserted in tests). Executes as
    * one job: the fused candidate kernel, then the driver-merged
    * per-query top-k. */
  def topK(s: SparkSession, d: String, maxQueryId: Int, k: Int): DataFrame = {
    import s.implicits._
    val corpus = emb(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
    val qs = queryVectors(s, d, maxQueryId).toSeq
    // the planned-operator form (CosineCandidates node + strategy + exec,
    // under PerQueryTopK) — same kernel arithmetic as BruteForce.topK
    // (equivalence tested), but visible to Catalyst: EXPLAIN shows the
    // nodes and the PruneCosineQueries rule can shrink the query set
    graft.plans.CosineTopK.topK(corpus, qs, k, excludeSelf = true)
  }

  /** The naive crossJoin + window-sort plan (round-1 execution path), kept
    * as the in-engine oracle the kernel is equivalence-tested against —
    * NOT used by any registry entry (it shuffles and sorts all q×n scored
    * rows; scale-killer per SURVEY §4.3). */
  def topKWindow(s: SparkSession, d: String, maxQueryId: Int, k: Int): DataFrame = {
    import s.implicits._
    val e = emb(s, d)
    val q = e.filter($"vec_id" < maxQueryId).select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("doc_id"), $"embedding".as("de"))
    val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id".asc)
    broadcast(q)
      .crossJoin(c)
      .filter($"query_id" =!= $"doc_id")
      .select($"query_id", $"doc_id", dot($"qe", $"de").as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= k)
  }

  /** Retrieval depth of the shared frame — the reference retrieves 100
    * per query (`002:29` top_k=100) and evaluates recall up to K=100. */
  val FrameK = 100

  /** Recall K set {1,5,10,20,50,100} and precision K set {1,5,10} — the
    * reference's full k_values (`002:29`, `utils.py:15-82`), so the
    * engine's report is row-for-row comparable to
    * `reports/brute_force/brute_force_20251002_132738.json:10-23`. */
  val RecallKs = Seq(1, 5, 10, 20, 50, 100)
  val PrecisionKs = Seq(1, 5, 10)

  /** Memoized top-[[FrameK]] frame for the canonical query population
    * (vec_id < 100), shared by v03–v06 and the sweep: Verify/Bench run
    * registry entries as independent jobs in ONE session, so without this
    * each metric query would pay the full corpus scan again (VERDICT r1,
    * perf item 3). Session-scoped with eviction via [[graft.Memo]]
    * (ADVICE r2). Callers needing the top-10 view filter `rnk <= 10`. */
  def searchFrame(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"vsearch-top$FrameK:$d")(topK(s, d, maxQueryId = 100, k = FrameK))

  /** Relevance ground truth: same-label pairs (excluding self), with the
    * per-query relevant count (reference: flattened qrels `000:238-255`;
    * ALL judged docs count as relevant — the grade-0 quirk of `002:313`).
    * Memoized for the canonical population (it feeds v04–v06, v10, the
    * timed sweep, and both report-loop entries in one session). */
  def relevant(s: SparkSession, d: String, maxQueryId: Int): DataFrame = {
    def build: DataFrame = {
      import s.implicits._
      val e = emb(s, d).select($"vec_id", $"label")
      val q = e.filter($"vec_id" < maxQueryId).select($"vec_id".as("query_id"), $"label")
      q.join(e.select($"vec_id".as("doc_id"), $"label"), Seq("label"))
        .filter($"query_id" =!= $"doc_id")
        .select($"query_id", $"doc_id")
    }
    if (maxQueryId == 100) graft.Memo.cached(s, s"rel100:$d")(build) else build
  }

  private val duckRelevant =
    """rel AS (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id
        FROM embeddings q JOIN embeddings c ON q.label = c.label AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 100)"""

  private val duckRanked =
    s"""q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM scored),
      topk AS (SELECT query_id, doc_id, rnk FROM ranked WHERE rnk <= 100)"""

  /** J6 hit frame + per-query relevant counts, for queries vec_id < 100,
    * k = 10: one row per (query, retrieved doc) with hit flag + rnk. */
  private[graft] def hitFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = searchFrame(s, d)
    val rel = relevant(s, d, maxQueryId = 100)
    val nRel = rel.groupBy($"query_id").agg(count(lit(1)).as("n_rel"))
    k.join(rel.withColumn("hit", lit(1)), Seq("query_id", "doc_id"), "left_outer")
      .na.fill(0, Seq("hit"))
      .join(nRel, Seq("query_id"), "inner") // inner: skip queries w/o relevant (utils.py:37-38)
  }

  /** Public metric frames over the shared brute-force hit frame — used by
    * v04–v06 AND the engine-written reports ([[graft.sources.ReportLoop]]). */
  def metricsRecall(s: SparkSession, d: String): DataFrame =
    Metrics.recallAtK(hitFrame(s, d), RecallKs)
  def metricsPrecision(s: SparkSession, d: String): DataFrame =
    Metrics.precisionAtK(hitFrame(s, d), PrecisionKs)
  def metricsMrr(s: SparkSession, d: String): DataFrame =
    Metrics.mrr(hitFrame(s, d))

  /** All three metric families in one aggregation pass — the report
    * writers' frame (round 17; values bit-identical to the standalone
    * frames, see [[Metrics.combined]]). */
  def metricsCombined(s: SparkSession, d: String): DataFrame =
    Metrics.combined(hitFrame(s, d), RecallKs, PrecisionKs)

  // ---------------------------------------------------------------- v04
  /** A1 Recall@K over the FULL reference K set {1,5,10,20,50,100}
    * (`002:29`, utils.py:15-46): per query |topK ∩ rel| / |rel|, then
    * unweighted mean over queries (A9 two-level). */
  private val v04 = Q(
    "v04_recall",
    (s, d) => metricsRecall(s, d),
    Some {
      val hSums = RecallKs.map(k =>
        s"sum(CASE WHEN hit = 1 AND rnk <= $k THEN 1 ELSE 0 END) AS h$k").mkString(",\n               ")
      val hAvgs = RecallKs.map(k =>
        s"round(avg(CAST(h$k AS DOUBLE) / n_rel), 4) AS recall_$k").mkString(",\n           ")
      s"""WITH $duckRanked, $duckRelevant,
      nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY query_id),
      hits AS (
        SELECT t.query_id, t.rnk, CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS hit, n.n_rel
        FROM topk t
        LEFT JOIN rel r ON t.query_id = r.query_id AND t.doc_id = r.doc_id
        JOIN nrel n ON t.query_id = n.query_id),
      per_q AS (
        SELECT query_id, n_rel,
               $hSums
        FROM hits GROUP BY query_id, n_rel)
    SELECT $hAvgs,
           count(*) AS n_queries
    FROM per_q"""
    })

  // ---------------------------------------------------------------- v05
  /** A2 Precision@K ∈ {1,5,10} (utils.py:49-82, the reference's own
    * precision K set): per query |topK ∩ rel| / min(K, retrieved) —
    * denominator is the ACTUAL retrieved count (utils.py:77-79). */
  private val v05 = Q(
    "v05_precision",
    (s, d) => metricsPrecision(s, d),
    Some(s"""WITH $duckRanked, $duckRelevant,
      hits AS (
        SELECT t.query_id, t.rnk, CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS hit
        FROM topk t
        LEFT JOIN rel r ON t.query_id = r.query_id AND t.doc_id = r.doc_id
        WHERE t.query_id IN (SELECT query_id FROM rel)),
      per_q AS (
        SELECT query_id,
               sum(CASE WHEN hit = 1 AND rnk <= 1 THEN 1 ELSE 0 END) AS h1,
               sum(CASE WHEN hit = 1 AND rnk <= 5 THEN 1 ELSE 0 END) AS h5,
               sum(CASE WHEN hit = 1 AND rnk <= 10 THEN 1 ELSE 0 END) AS h10,
               sum(CASE WHEN rnk <= 1 THEN 1 ELSE 0 END) AS d1,
               sum(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END) AS d5,
               sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) AS d10
        FROM hits GROUP BY query_id)
    SELECT round(avg(CAST(h1 AS DOUBLE) / d1), 4) AS precision_1,
           round(avg(CAST(h5 AS DOUBLE) / d5), 4) AS precision_5,
           round(avg(CAST(h10 AS DOUBLE) / d10), 4) AS precision_10
    FROM per_q"""))

  // ---------------------------------------------------------------- v06
  /** A3 MRR (utils.py:85-110): per query 1/rank of first relevant hit in
    * the FULL retrieved list (top-[[FrameK]], like the reference's
    * k=100 retrieval), else 0; unweighted mean. */
  private val v06 = Q(
    "v06_mrr",
    (s, d) => metricsMrr(s, d),
    Some(s"""WITH $duckRanked, $duckRelevant,
      hits AS (
        SELECT t.query_id, t.rnk, CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS hit
        FROM topk t
        LEFT JOIN rel r ON t.query_id = r.query_id AND t.doc_id = r.doc_id
        WHERE t.query_id IN (SELECT query_id FROM rel)),
      per_q AS (
        SELECT query_id, min(CASE WHEN hit = 1 THEN rnk END) AS first_hit
        FROM hits GROUP BY query_id)
    SELECT round(avg(coalesce(1.0 / first_hit, 0.0)), 4) AS mrr,
           count(*) AS n_queries
    FROM per_q"""))

  // ---------------------------------------------------------------- v07
  /** V6 + F9 + A8: HNSW layer assignment floor(-ln(U) · 1/ln(M)) over
    * M ∈ {4,8,16,32,64}, N=5000 (reference `006:45-69`; seed-exact parity
    * with Python RNG is out of contract, so U comes from a shared LCG on
    * the node id — deterministic and identical in both engines). */
  private val v07 = Q(
    "v07_layer_assignment",
    (s, d) => {
      import s.implicits._
      val ms = Seq(4, 8, 16, 32, 64).toDF("m")
      val u = ((($"id" * 1103515245L + 12345L) % 2147483648L) + 1.0) / 2147483649.0
      s.range(5000)
        .toDF("id")
        .crossJoin(broadcast(ms))
        .withColumn("layer", floor(-log(u) / log($"m".cast("double"))).cast("long"))
        .groupBy($"m", $"layer")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("pct", round($"cnt" * 100.0 / 5000.0, 4))
        .orderBy($"m", $"layer")
    },
    Some("""WITH nodes AS (SELECT unnest(range(0, 5000)) AS id),
      ms AS (SELECT unnest([4, 8, 16, 32, 64]) AS m),
      u AS (SELECT id, m,
              (((id * 1103515245 + 12345) % 2147483648) + 1.0) / 2147483649.0 AS uu
            FROM nodes, ms),
      layers AS (SELECT m, CAST(floor(-ln(uu) / ln(CAST(m AS DOUBLE))) AS BIGINT) AS layer FROM u)
    SELECT m, layer, count(*) AS cnt, round(count(*) * 100.0 / 5000.0, 4) AS pct
    FROM layers GROUP BY m, layer ORDER BY m, layer"""))

  // ---------------------------------------------------------------- v11
  /** F8 in its ingest role: the normalize-once trick (`004:187-196`) as a
    * registry query — L2-normalize each embedding, emit the first
    * component of the unit vector and its norm (≡ 1). On pre-normalized
    * fixtures this is near-identity, which is exactly the invariant worth
    * checking at ingest. */
  private val v11 = Q(
    "v11_normalize",
    (s, d) => {
      import s.implicits._
      emb(s, d)
        .select($"vec_id", l2Normalize($"embedding").as("unit"))
        .select(
          $"vec_id",
          round(element_at($"unit", 1), 6).as("e0"),
          round(l2Norm($"unit"), 6).as("unit_norm"))
        .orderBy($"vec_id")
    },
    Some(s"""SELECT vec_id,
      round(embedding[1] / sqrt(${duckDot("embedding", "embedding")}), 6) AS e0,
      CAST(1.0 AS DOUBLE) AS unit_norm
    FROM embeddings ORDER BY vec_id"""))

  // ---------------------------------------------------------------- v14
  /** The SQL SURFACE end-to-end: the same top-k search written as plain
    * `spark.sql` text over a temp view, through the engine's registered
    * `vec_dot` (codegen'd Catalyst expression) and `collect_top_k`
    * (bounded-heap aggregate) SQL functions — the "a user can just write
    * SQL" claim under the oracle gate, not only in unit tests.
    *
    * Plan note: ad-hoc SQL with a `<>` join plans as a broadcast
    * nested-loop over the 10-query side — the declarative fallback for
    * one-off SQL, bounded here by the query filter. The API path
    * (v03) runs the fused kernel; this entry exists to pin the FUNCTION
    * semantics across the parser, not to be the scale path. */
  private val v14 = Q(
    "v14_sql_surface",
    (s, d) => {
      emb(s, d).createOrReplaceTempView("graft_emb")
      s.sql("""
        SELECT query_id, CAST(pos + 1 AS BIGINT) AS rnk, hit.id AS doc_id
        FROM (
          SELECT q.vec_id AS query_id,
                 collect_top_k(vec_dot(q.embedding, c.embedding), c.vec_id, 10) AS topk
          FROM graft_emb q JOIN graft_emb c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 10
          GROUP BY q.vec_id)
        LATERAL VIEW posexplode(topk) t AS pos, hit
        ORDER BY query_id, rnk""")
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM scored)
    SELECT query_id, rnk, doc_id FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- v16
  /** The EXACT search through the SQL parser end to end: `SELECT … FROM
    * cosine_topk(dir, maxQ, k)` — a table-valued function expanding at
    * analysis time to the planned [[graft.plans.CosineTopK]] operator
    * (custom LogicalPlan + Strategy + fused-kernel Exec), the companion
    * of v15's ann_search TVF. Same parameters and oracle as v03:
    * identical results through both surfaces is the contract. */
  private val v16 = Q(
    "v16_sql_cosine_topk",
    (s, d) => s.sql(
      s"SELECT query_id, rnk, doc_id FROM cosine_topk('$d', 20, 10) ORDER BY query_id, rnk"),
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM scored)
    SELECT query_id, rnk, doc_id FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- v18
  /** FILTERED vector search — the classic vector-database feature every
    * production deployment needs (tenant / language / label predicates
    * composed with top-k): exact cosine top-10 over the subset of the
    * corpus with `label % 3 = 0`, queries unrestricted (vec_id < 20).
    * Spark-first composition: the predicate is an ordinary `filter` on
    * the corpus frame BEFORE the planned [[graft.plans.CosineTopK]]
    * operator, so Catalyst pushes it into the parquet scan
    * (`PushedFilters` — pinned in FilteredSearchSpec) and the kernel
    * never scores a filtered-out row: a pre-filter, not the lossy
    * post-filter (searching top-k first and filtering after can return
    * < k rows — the standard filtered-ANN pitfall). k is guaranteed over
    * the filtered universe. At 100 TB the same shape rides partition
    * pruning / zone maps for free because the filter is declarative. */
  private val v18 = Q(
    "v18_filtered_topk",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val corpus = e.filter($"label" % 3 === 0)
        .select($"vec_id".as("id"), $"embedding".as("vec"))
      val qs = queryVectors(s, d, 20).toSeq
      graft.plans.CosineTopK.topK(corpus, qs, k = 10, excludeSelf = true)
        .select($"query_id", $"rnk", $"doc_id")
        .orderBy($"query_id", $"rnk")
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.label % 3 = 0 AND c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM scored)
    SELECT query_id, rnk, doc_id FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- v22
  /** DIVERSIFIED top-k — result diversification by source metadata (at
    * most `cap` hits per (query, label)), the search-quality feature
    * that stops one dominant cluster/domain from filling the page.
    * Spark-first shape: TWO bounded-heap aggregations, zero window
    * sorts —
    *  1. per (query_id, label): keep the `cap` best candidates; the
    *     declarative `collect_top_k` aggregate does map-side partial
    *     heaps, so the q×n scored cross product NEVER shuffles — each
    *     partition emits at most q × L × cap candidate rows;
    *  2. per query: keep the k best survivors (same aggregate).
    * Both heaps share the (score desc, doc_id asc) eviction contract,
    * so the result is deterministic and exactly mirrors the oracle's
    * two-window SQL. At 100 TB the shuffle is bounded by
    * partitions × q × L × cap — independent of corpus size. */
  private val v22 = Q(
    "v22_diverse_topk",
    (s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val q = e.filter($"vec_id" < 20)
        .select($"vec_id".as("query_id"), $"embedding".as("qe"))
      val scored = e
        .select($"vec_id".as("doc_id"), $"label", $"embedding")
        .crossJoin(broadcast(q))
        .filter($"doc_id" =!= $"query_id")
        .select($"query_id", $"doc_id", $"label",
          graft.Functions.vecDot($"qe", $"embedding").as("score"))
      val capped = scored
        .groupBy($"query_id", $"label")
        .agg(graft.functions.TopKAgg.collectTopK($"score", $"doc_id", 2).as("topk"))
        .select($"query_id", posexplode($"topk").as(Seq("pos", "hit")))
        .select($"query_id", $"hit.id".as("doc_id"), $"hit.score".as("score"))
      BruteForce.rerank(capped, 10)
        .select($"query_id", $"rnk", $"doc_id")
        .orderBy($"query_id", $"rnk")
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id, c.label,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.vec_id <> q.query_id),
      capped AS (
        SELECT query_id, doc_id, score FROM (
          SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id, label ORDER BY score DESC, doc_id) AS lrnk
          FROM scored)
        WHERE lrnk <= 2),
      ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM capped)
    SELECT query_id, rnk, doc_id FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- v24
  /** Range search (faiss `range_search`): every corpus vector with
    * cosine ≥ 0.3 of each query (vec_id < 10) — the no-k-bound search
    * shape. Executes on [[BruteForce.rangeSearch]]: one narrow map-side
    * filter over the corpus, zero shuffle, output proportional to the
    * true result set. Scores at full precision both sides; displayed at
    * 4 dp. */
  private val RangeTau = 0.3

  /** Raw range-search frame (query_id, doc_id, score) for queries with
    * vec_id < maxQueryId — the entry point shared by v24 and the
    * `range_search(...)` table-valued function. */
  def rangeSearchFrame(s: SparkSession, d: String, maxQueryId: Int, tau: Double): DataFrame = {
    import s.implicits._
    val corpus = emb(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
      .as[(Long, Array[Float])]
    val qs = queryVectors(s, d, maxQueryId)
    BruteForce.rangeSearch(corpus, qs, tau, excludeSelf = true)
  }

  private val v24 = Q(
    "v24_range_search",
    (s, d) => {
      import s.implicits._
      rangeSearchFrame(s, d, maxQueryId = 10, tau = RangeTau)
        .select($"query_id", $"doc_id", round($"score", 4).as("score"))
        .orderBy($"query_id", $"doc_id")
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.vec_id <> q.query_id)
    SELECT query_id, doc_id, round(score, 4) AS score
    FROM scored WHERE score >= $RangeTau ORDER BY query_id, doc_id"""))

  // ---------------------------------------------------------------- v31
  /** Range search through the SQL parser: `SELECT … FROM
    * range_search(dir, maxQ, tau)` — the TVF companion of v15/v16 for
    * the no-k-bound shape, expanding at analysis time to
    * [[rangeSearchFrame]]'s zero-shuffle plan. Same parameters and
    * oracle as v24: identical results through both surfaces is the
    * contract. */
  private val v31 = Q(
    "v31_sql_range_search",
    (s, d) => s.sql(
      s"""SELECT query_id, doc_id, round(score, 4) AS score
          FROM range_search('$d', 10, $RangeTau) ORDER BY query_id, doc_id"""),
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.vec_id <> q.query_id)
    SELECT query_id, doc_id, round(score, 4) AS score
    FROM scored WHERE score >= $RangeTau ORDER BY query_id, doc_id"""))

  // ---------------------------------------------------------------- v25
  /** Late-interaction (ColBERT) MaxSim top-10: the multi-vector scoring
    * rule `Σ_qm max_dm dot(q[qm], d[dm])` over [[MaxSimSubDim]]-dim
    * sub-vectors — on the fixture, the 64-dim embedding read as 8 token
    * sub-vectors (real per-token embeddings plug into the identical
    * kernel shape). Executes on [[BruteForce.maxSimTopK]]; the oracle
    * replays the same two-level max/sum in SQL. Queries vec_id < 10. */
  private val MaxSimSubDim = 8

  /** v25 oracle score: `Σ_qm greatest_dm subdot(qm, dm)` where every
    * sub-dot is the same ORDERED correlated unnest subquery as
    * [[duckDot]], over 1-based-inclusive list slices — a hash-aggregate
    * sub-dot (GROUP BY pair sum) would leave DuckDB's summation order
    * unpinned, breaking the array-order accumulation contract the kernel
    * documents (ADVICE r8). 8×8 generated subqueries; `def` so the
    * interpolation never captures init-order zeros. */
  private def maxSimScoreSql: String = {
    val nSub = 64 / MaxSimSubDim
    (0 until nSub).map { qm =>
      val qs = s"q.embedding[${qm * MaxSimSubDim + 1}:${(qm + 1) * MaxSimSubDim}]"
      (0 until nSub).map { dm =>
        val ds = s"e.embedding[${dm * MaxSimSubDim + 1}:${(dm + 1) * MaxSimSubDim}]"
        duckDot(qs, ds)
      }.mkString("greatest(", ", ", ")")
    }.mkString(" + ")
  }

  private val v25 = Q(
    "v25_maxsim_topk",
    (s, d) => {
      import s.implicits._
      val corpus = emb(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
        .as[(Long, Array[Float])]
      val qs = queryVectors(s, d, 10)
      BruteForce.maxSimTopK(corpus, qs, MaxSimSubDim, k = 10, excludeSelf = true)
        .select($"query_id", $"rnk", $"doc_id", round($"score", 4).as("score"))
        .orderBy($"query_id", $"rnk")
    },
    Some(s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      sc AS (
        SELECT q.vec_id AS query_id, e.vec_id AS doc_id, $maxSimScoreSql AS score
        FROM q, embeddings e WHERE e.vec_id <> q.vec_id),
      ranked AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM sc)
    SELECT query_id, rnk, doc_id, round(score, 4) AS score
    FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- v28
  /** Cursor pagination (`search_after`): page 2 of each query's results,
    * addressed by the page-1 boundary (score, doc_id) cursor rather than
    * an offset — the stateless serving API every vector DB exposes
    * (offset pagination re-ranks k+offset per page; a cursor filter
    * keeps each page top-k). The cursor set is q bounded rows; hits
    * after the cursor in the (score desc, doc_id asc) total order are
    * re-ranked with the bounded heap. The oracle is the rank-window
    * formulation (rows 11..20 re-ranked 1..10) — equal by the total
    * order, which is the correctness claim. Filters the shared memoized
    * search frame: no rescan. */
  private val PageK = 10

  private val v28 = Q(
    "v28_search_after",
    (s, d) => {
      import s.implicits._
      val frame = searchFrame(s, d).filter($"query_id" < 10)
      // the cursor is CLIENT state in a real search_after call: collect
      // the q bounded page-1 boundaries and re-enter them as literals
      // (also sidesteps self-joining the custom plan node's output)
      val cursors = frame.filter($"rnk" === PageK)
        .select($"query_id", $"score", $"doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSeq.toDF("query_id", "cs", "cd")
      val page2 = frame
        .join(broadcast(cursors), Seq("query_id"))
        .filter($"score" < $"cs" || ($"score" === $"cs" && $"doc_id" > $"cd"))
        .select($"query_id", $"doc_id", $"score")
      BruteForce.rerank(page2, PageK)
        .select($"query_id", $"rnk", $"doc_id")
        .orderBy($"query_id", $"rnk")
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM scored)
    SELECT query_id, rnk - $PageK AS rnk, doc_id
    FROM ranked WHERE rnk > $PageK AND rnk <= ${2 * PageK}
    ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- v29
  /** Facet counts over search hits: per query, the label distribution of
    * its top-10 — the filtered-aggregation feature of production vector
    * DBs (and the instant view of result diversity v22 caps). Hit set is
    * q×k bounded → broadcast into the corpus-side label join; one
    * integer census. */
  private val v29 = Q(
    "v29_facet_counts",
    (s, d) => {
      import s.implicits._
      val hits = searchFrame(s, d)
        .filter($"query_id" < 20 && $"rnk" <= 10)
        .select($"query_id", $"doc_id")
      emb(s, d).select($"vec_id".as("doc_id"), $"label")
        .join(broadcast(hits), Seq("doc_id"))
        .groupBy($"query_id", $"label")
        .agg(count(lit(1)).as("n_hits"))
        .orderBy($"query_id", $"label")
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM scored)
    SELECT r.query_id, e.label, count(*) AS n_hits
    FROM ranked r JOIN embeddings e ON e.vec_id = r.doc_id
    WHERE r.rnk <= 10
    GROUP BY r.query_id, e.label ORDER BY r.query_id, e.label"""))

  // ---------------------------------------------------------------- v30
  /** Distributed kNN-graph build (every vector's top-[[KnnK]] neighbors
    * — the input of graph-ANN index builds and graph-based dedup): the
    * ONLY registry search where the query side is the whole corpus, so
    * the driver-broadcast query pattern is structurally unavailable at
    * scale. Shape: each vector emits nProbe probe rows against its
    * top-scoring [[Ann]] centroids (map-side vs the broadcast
    * config-bounded centroid set), which EQUI-JOIN the centroid-keyed
    * assignment — a shuffle join on centroid_id touching ~nProbe/C of
    * all pairs — then one bounded-heap top-k per vector. No broadcast of
    * either big side, no cartesian; cost scales with Σ probe-list sizes.
    * Approximation contract: a neighbor outside the probed lists is
    * invisible — IDENTICALLY in the oracle, which replays the same probe
    * sets. */
  private val KnnK = 3
  private val KnnProbe = 2

  /** Corpus-wide kNN-graph frame `(src, rnk, dst)` — memoized: v30
    * surfaces it directly and v33's graph-refined search expands over
    * it, and a Verify session must not pay the probe-join twice. Build
    * shape documented at [[v30]]. */
  def knnGraph(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"knn-graph:$d") {
      import s.implicits._
      val cents = Ann.centroidArray(s, d)
      val corpus = emb(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
        .as[(Long, Array[Float])]
      val bcC = s.sparkContext.broadcast(cents)
      // probe rows: (id, vec, centroid_id) × KnnProbe — map-side, the
      // same array-order dot + (score desc, cid asc) order as the oracle
      val probes = corpus.flatMap { case (id, vec) =>
        BruteForce.rankCentroids(vec, bcC.value)
          .take(KnnProbe)
          .map { case (cid, _) => (id, vec, cid) }
      }.toDF("id", "vec", "centroid_id")
      val assigned = corpus.map { case (id, vec) =>
        (id, BruteForce.nearestCentroid(vec, bcC.value)._1, vec)
      }.toDF("nbr_id", "centroid_id", "nvec")
      val scored = probes
        .join(assigned, Seq("centroid_id"))
        .filter($"id" =!= $"nbr_id")
        .select(
          $"id".as("query_id"),
          $"nbr_id".as("doc_id"),
          graft.Functions.vecDot($"vec", $"nvec").as("score"))
      BruteForce.rerank(scored, KnnK)
        .select($"query_id".as("src"), $"rnk", $"doc_id".as("dst"))
    }

  /** Oracle CTEs replaying [[knnGraph]]: per-doc top-[[KnnProbe]] probe
    * rows, probe-join against the primary assignment, per-src top-
    * [[KnnK]] ranked edges. Requires [[Ann.duckCentAssign]]'s cent/assign
    * CTEs in scope. Shared by the v30 and v33 oracles; a `def` so the
    * interpolated knobs can never capture init-order zeros. */
  private def duckGraphEdges: String =
    s"""gpr AS (
        SELECT id, centroid_id FROM (
          SELECT e.vec_id AS id, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY ${duckDot("e.embedding", "c.ce")} DESC,
                                             c.centroid_id) AS prn
          FROM embeddings e, cent c)
        WHERE prn <= $KnnProbe),
      gsc AS (
        SELECT gpr.id AS src, a.doc_id AS dst,
               ${duckDot("qe.embedding", "ne.embedding")} AS score
        FROM gpr JOIN assign a USING (centroid_id)
        JOIN embeddings qe ON qe.vec_id = gpr.id
        JOIN embeddings ne ON ne.vec_id = a.doc_id
        WHERE a.doc_id <> gpr.id),
      edge AS (
        SELECT src, dst, rnk FROM (
          SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rnk
          FROM gsc)
        WHERE rnk <= $KnnK)"""

  private val v30 = Q(
    "v30_knn_graph",
    (s, d) => {
      import s.implicits._
      knnGraph(s, d)
        .filter($"src" < 50) // display slice; the graph is built corpus-wide
        .select($"src".as("query_id"), $"rnk", $"dst".as("doc_id"))
        .orderBy($"query_id", $"rnk")
    },
    Some(s"""WITH ${Ann.duckCentAssign},
      $duckGraphEdges
    SELECT src AS query_id, rnk, dst AS doc_id FROM edge
    WHERE src < 50 ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- v33
  /** Graph-refined ANN search (VERDICT r8 next #3): one-hop neighbor
    * expansion over IVF candidates — the bulk-synchronous answer to
    * HNSW's greedy graph walk (`003-hnswlib_demo.py:324-329`). A narrow
    * IVF search (nProbe = [[GraphNProbe]]) seeds each query with its
    * top-[[GraphSeedK]] candidates; the [[knnGraph]] contributes every
    * seed's [[KnnK]] graph neighbors; the union is EXACT-rescored and
    * re-ranked. A true neighbor living in an unprobed partition becomes
    * reachable through a probed doc it neighbors — refined recall ≥
    * plain IVF at the same probe count BY CONSTRUCTION (superset
    * candidates, exact rescore), and strictly above wherever the corpus
    * is graph-navigable (doc-doc similarity predicts query relevance —
    * KernelBenchSpec pins the strict lift on a ring-manifold corpus and
    * documents why the bench's cluster-mixture corpus, whose
    * within-list order is query-private noise, cannot reward ANY graph
    * expansion; the bench sweep publishes the measured per-level
    * numbers either way).
    *
    * Plan shape: the candidate frame is QUERY-BOUNDED (≤ q·k·(1+g)
    * rows), so it broadcasts into the corpus-sided vector fetch — the
    * corpus itself never shuffles, broadcasts, or cartesians; the only
    * corpus-sized work is the memoized graph build (v30's probe-join)
    * and the partition-pruned seed search it shares with v09. */
  private val GraphSeedK = 10
  private val GraphNProbe = 1

  /** The registry graph's serving degree — v43's cross-tier cost model
    * charges the persisted sidecar (KnnK edges × 24 B) to the graph
    * tier's bytes-per-doc budget side. */
  private[operators] def knnDegree: Int = KnnK

  /** v33's pipeline with the dial exposed (round 12: the graph tier
    * joins v43's cross-tier autotune): seed with an nProbe-dial IVF
    * search, expand each seed one hop over the memoized [[knnGraph]],
    * exact-rescore the union. Returns (query_id, rnk, doc_id). */
  private[operators] def graphRefined(
      s: SparkSession, d: String, maxQ: Int, k: Int, nProbe: Int): DataFrame = {
    import s.implicits._
    val seeds = Ann.search(s, Ann.Session(d), queryVectors(s, d, maxQ), k = k, nProbe = nProbe)
      .select($"query_id", $"doc_id")
    val expanded = seeds.as("s")
      .join(knnGraph(s, d).as("g"), col("s.doc_id") === col("g.src"))
      .select(col("s.query_id").as("query_id"), col("g.dst").as("doc_id"))
    val cand = seeds.union(expanded).distinct()
      .filter($"query_id" =!= $"doc_id")
    val qv = emb(s, d).filter($"vec_id" < maxQ)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val scored = emb(s, d)
      .select($"vec_id".as("doc_id"), $"embedding".as("de"))
      .join(broadcast(cand), Seq("doc_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select($"query_id", $"doc_id", graft.Functions.vecDot($"qe", $"de").as("score"))
    BruteForce.rerank(scored, k)
      .select($"query_id", $"rnk", $"doc_id")
      .orderBy($"query_id", $"rnk")
  }

  private val v33 = Q(
    "v33_graph_refined",
    (s, d) => graphRefined(s, d, maxQ = 20, k = GraphSeedK, nProbe = GraphNProbe),
    Some(duckGraphRefined))

  /** v33's oracle, shared with v45: persisted-sidecar serving must be
    * row-identical to the in-session memoized-graph pipeline (the
    * v13 → v17 persistence-parity discipline). A `def` so interpolated
    * knobs never capture init-order zeros. */
  private def duckGraphRefined: String = s"""WITH ${Ann.duckCentAssign},
      $duckGraphEdges
    SELECT query_id, rnk, doc_id
    FROM (${duckGraphRefinedCand(20, GraphSeedK, GraphNProbe)})
    ORDER BY query_id, rnk"""

  /** [[graphRefined]] as an embeddable subquery over alias-free outer
    * CTEs — requires [[Ann.duckCentAssign]]'s cent/assign AND
    * [[duckGraphEdges]]'s edge CTEs in scope (v43 hoists both once and
    * replays every graph cell against them, the Pq/Sq/Compact
    * parameterized-oracle pattern). A `def` so interpolated knobs can
    * never capture init-order zeros. */
  private[operators] def duckGraphRefinedCand(maxQ: Int, k: Int, nProbe: Int): String =
    s"""WITH seeds AS (${Ann.duckSearch(maxQ, k, nProbe)}),
      cand AS (
        SELECT query_id, doc_id FROM seeds
        UNION
        SELECT s.query_id, e.dst AS doc_id
        FROM seeds s JOIN edge e ON e.src = s.doc_id),
      resc AS (
        SELECT c.query_id, c.doc_id,
               ${duckDot("q.embedding", "dd.embedding")} AS score
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.query_id
        JOIN embeddings dd ON dd.vec_id = c.doc_id
        WHERE c.doc_id <> c.query_id),
      rr AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM resc)
    SELECT query_id, doc_id, rnk FROM rr WHERE rnk <= $k"""

  /** [[duckGraphEdges]] for cross-module oracle composition (v43). */
  private[operators] def duckGraphEdgesSql: String = duckGraphEdges

  // ---------------------------------------------------------------- v45
  /** Graph-refined search served from the PERSISTED artifact + graph
    * SIDECAR (VERDICT r9 next #2's machinery under the oracle gate):
    * the registry index grows its `_centroids` sidecar and a
    * build-if-absent `_graph` built by [[Ann.buildGraphAt]] over the
    * artifact's own partitioning (same probe width, degree, and tie
    * orders as the memoized [[knnGraph]] — probe 2, degree 3 — so the
    * persisted adjacency IS the in-session one), then
    * [[Ann.graphRefinedSearch]] serves v33's exact parameters from
    * disk alone. Same oracle as v33, because persisted serving must be
    * row-identical to the in-session pipeline. Tombstones unmasked:
    * this is the v09-style plain view (v21's persistent tombstones are
    * masked only where a search asks for it). */
  /** The v45 plan as a reusable surface (also the `graph_search` SQL
    * TVF's expansion): ensure the `_centroids` + `_graph` sidecars on
    * the registry artifact (build-if-absent), then serve
    * [[Ann.graphRefinedSearch]] from disk alone.
    * @return (query_id, doc_id, score, rnk), like [[Ann.search]] */
  def graphSidecarSearch(
      s: SparkSession, d: String, maxQueryId: Int, k: Int, nProbe: Int,
      seedK: Int, pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val path = Ann.ensureCentroidSidecar(s, d)
    graft.PathLocks.withLock(s"$path/_graph") { // Ann.buildIndex race note
      val gdone = new org.apache.hadoop.fs.Path(s"$path/_graph/_SUCCESS")
      val fs = gdone.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(gdone)) Ann.buildGraphAt(s, path)
    }
    Ann.graphRefinedSearch(s, Ann.Latest(path), queryVectors(s, d, maxQueryId), k = k,
      nProbe = nProbe, seedK = seedK, pred = pred)
  }

  private val v45 = Q(
    "v45_graph_sidecar_search",
    (s, d) => {
      import s.implicits._
      graphSidecarSearch(s, d, maxQueryId = 20, k = GraphSeedK,
          nProbe = GraphNProbe, seedK = GraphSeedK)
        .select($"query_id", $"rnk", $"doc_id")
        .orderBy($"query_id", $"rnk")
    },
    Some(duckGraphRefined))

  // ---------------------------------------------------------------- v46
  /** The graph-refined search through the SQL PARSER end to end (the
    * v15/v41 TVF discipline): `FROM graph_search(dir, maxQ, k, nProbe,
    * seedK)` expands at analysis time to [[graphSidecarSearch]]'s plan
    * — SQL users get the engine's persisted-sidecar plan, not a
    * parser-side reimplementation. Same parameters and oracle as
    * v33/v45: identical results through all three surfaces IS the
    * contract under gate. */
  private val v46 = Q(
    "v46_sql_graph_search",
    (s, d) => s.sql(
      s"""SELECT query_id, rnk, doc_id
          FROM graph_search('$d', 20, $GraphSeedK, $GraphNProbe, $GraphSeedK)
          ORDER BY query_id, rnk"""),
    Some(duckGraphRefined))

  // ---------------------------------------------------------------- v47
  /** FILTERED graph-refined search — the metadata predicate composed
    * with the graph tier (the v18/v19/v42 filtered-search family
    * extended to the serving surface it was missing; every production
    * vector database needs filters on its graph tier too). Both stages
    * pre-filter ([[Ann.graphRefinedSearch]]'s `pred` doc): seeds from
    * the filtered universe through the pruned probe scan at a widened
    * dial (nProbe [[FilteredGraphNProbe]] — the v19 discipline: a
    * selective predicate thins each probed list), one-hop expansion
    * over the UNFILTERED persisted `_graph` sidecar (edges encode
    * corpus geometry, not tenancy — one sidecar serves every
    * predicate), and the exact rescore re-applies the predicate so an
    * edge leading out of the filtered universe is never served. The
    * oracle replays seed filter, shared graph, and rescore filter
    * identically — a lost rescue, a leaked unfiltered doc, or a wrong
    * widening all hash-mismatch. */
  private val FilteredGraphNProbe = 2

  private val v47 = Q(
    "v47_filtered_graph_search",
    (s, d) => {
      import s.implicits._
      graphSidecarSearch(s, d, maxQueryId = 20, k = GraphSeedK,
          nProbe = FilteredGraphNProbe, seedK = GraphSeedK,
          pred = Some(col("label") % 3 === 0))
        .select($"query_id", $"rnk", $"doc_id")
        .orderBy($"query_id", $"rnk")
    },
    Some(s"""WITH ${Ann.duckCentAssign},
      $duckGraphEdges,
      seeds AS (${Ann.duckSearch(20, GraphSeedK, FilteredGraphNProbe, "e.label % 3 = 0")}),
      cand AS (
        SELECT query_id, doc_id FROM seeds
        UNION
        SELECT s.query_id, e.dst AS doc_id
        FROM seeds s JOIN edge e ON e.src = s.doc_id),
      resc AS (
        SELECT c.query_id, c.doc_id,
               ${duckDot("q.embedding", "dd.embedding")} AS score
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.query_id
        JOIN embeddings dd ON dd.vec_id = c.doc_id
        WHERE c.doc_id <> c.query_id AND dd.label % 3 = 0),
      rr AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM resc)
    SELECT query_id, rnk, doc_id FROM rr
    WHERE rnk <= $GraphSeedK ORDER BY query_id, rnk"""))

  // ---------------------------------------------------------------- v39
  /** PARENT-document retrieval (grouped top-k): chunks are what gets
    * embedded and searched, documents are what gets returned — the
    * parent-aggregation serving pattern of every chunked-RAG stack
    * (LangChain "parent document retriever"; also how a passage-level
    * index serves doc-level results). Chunk → parent is the fixed
    * `doc_id div [[ParentMod]]` mapping on the fixture (at scale: a
    * metadata column carried like `label`); a parent's score is its BEST
    * chunk, and parents rank by that chunk's GLOBAL rank — rank-order
    * comparison, not float comparison, so selection is deterministic in
    * both engines. Dedup-then-rank is two bounded windows over the
    * memoized top-[[FrameK]] frame: ≤ FrameK rows per query ever enter a
    * window, nothing rescans the corpus. */
  private val ParentMod = 8
  private val ParentK = 5

  /** Parent aggregation over the memoized chunk search frame — the v39
    * body, public so the `parent_search` SQL TVF expands to the same
    * plan. */
  def parentTopK(
      s: SparkSession, d: String, maxQueryId: Int, parentMod: Int, parentK: Int): DataFrame = {
    import s.implicits._
    val wBest = Window.partitionBy($"query_id", $"parent_id").orderBy($"rnk")
    val wParent = Window.partitionBy($"query_id").orderBy($"rnk")
    searchFrame(s, d)
      .filter($"query_id" < maxQueryId)
      .withColumn("parent_id", expr(s"doc_id div $parentMod"))
      .withColumn("crn", row_number().over(wBest))
      .filter($"crn" === 1)
      .withColumn("prnk", row_number().over(wParent))
      .filter($"prnk" <= parentK)
      .select($"query_id", $"prnk", $"parent_id", $"doc_id".as("best_doc"))
      .orderBy($"query_id", $"prnk")
  }

  private def duckParentSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               ${duckDot("q.qe", "c.embedding")} AS score
        FROM q, embeddings c WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM scored),
      top AS (SELECT * FROM ranked WHERE rnk <= $FrameK),
      best AS (
        SELECT query_id, doc_id // $ParentMod AS parent_id, doc_id, rnk,
               row_number() OVER (PARTITION BY query_id, doc_id // $ParentMod
                                  ORDER BY rnk) AS crn
        FROM top),
      parents AS (
        SELECT query_id, parent_id, doc_id AS best_doc,
               row_number() OVER (PARTITION BY query_id ORDER BY rnk) AS prnk
        FROM best WHERE crn = 1)
    SELECT query_id, prnk, parent_id, best_doc FROM parents
    WHERE prnk <= $ParentK ORDER BY query_id, prnk"""

  private val v39 = Q(
    "v39_parent_topk",
    (s, d) => parentTopK(s, d, maxQueryId = 20, parentMod = ParentMod, parentK = ParentK),
    Some(duckParentSql))

  // ---------------------------------------------------------------- v41
  /** v39 through the SQL PARSER: `FROM parent_search(dir, maxQ,
    * parent_mod, k)` expands at analysis time to the SAME bounded-window
    * plan over the memoized chunk frame ([[graft.Functions
    * .parentSearchPlan]]) — identical results through both surfaces IS
    * the contract under gate (same oracle as v39). */
  private val v41 = Q(
    "v41_sql_parent_search",
    (s, d) => s.sql(
      s"SELECT query_id, prnk, parent_id, best_doc " +
      s"FROM parent_search('$d', 20, $ParentMod, $ParentK) ORDER BY query_id, prnk"),
    Some(duckParentSql))

  override def all: Seq[Q] =
    Seq(v01, v02, v03, v04, v05, v06, v07, v11, v14, v16, v18, v22, v24, v25, v28, v29, v30, v31, v33, v39, v41, v45, v46, v47)
}
