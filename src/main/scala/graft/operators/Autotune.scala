package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QModule}

/** CROSS-TIER operating-point selection (VERDICT r9 next #7) — the full
  * faiss `OperatingPoints` decision (`004-faiss_demo.py:300-334`
  * explores one index's dial by hand; production faiss autotune picks
  * across index TYPES): given a recall target AND a byte budget, choose
  * WHICH tier and WHICH dial — not just a dial within one method. v36
  * answers "what nProbe for ≥95% of exact on IVF"; v43 answers "IVF at
  * 256 B/doc, IVF+SQ8 at 64, or flat PQ at 8 — and at what dial — for
  * this (target, budget)".
  *
  * Candidate cells (tier × dial), all served from the session's
  * persisted/memoized artifacts:
  *  - `ivf`   (float, 4·dim B/doc): nProbe ∈ [[IvfDials]]
  *  - `ivfsq` (8-bit, dim B/doc):   nProbe ∈ [[SqDials]]
  *  - `pq`    (dim/[[Pq.SubDim]] B/doc, flat ADC): rescore pool ∈
  *    [[PqDials]]
  *  - `bin`   (1 bit/dim → ⌈dim/8⌉ B/doc, flat Hamming): rescore pool ∈
  *    [[BinDials]] (VERDICT r10 next #5 / r11 next #4 — the tier with
  *    the best measured cold-scan economics joins the decision table)
  *  - `graph` (float + persisted edge sidecar, 4·dim + degree·24
  *    B/doc): seed nProbe ∈ [[GraphDials]] (round 12 — every
  *    representation the engine serves is a cell; admitted only by the
  *    512-B budget rung, where its edges can buy a recall target the
  *    float probes alone can't reach at the cost)
  *  - `ivfpq` (residual PQ over IVF lists, dim/[[Pq.SubDim]] B/doc,
  *    PROBED): nProbe ∈ [[IvfPqDials]] (v53 joined the registry in
  *    round 12 and its tier joins the table with it) — the only 8-B
  *    cell whose cost scales with the dial instead of paying all
  *    [[Ann.Centroids]] lists, which is exactly why IndexIVFPQ is the
  *    production default: at the tightest byte budget it underbids the
  *    flat 8-B tiers whenever its probed recall meets the target
  *
  * Declared COST MODEL (scan-dominated, corpus-size-free integers so
  * both engines rank cells identically): `cost = bytes_per_doc ×
  * effective probes`, where probed tiers scan dial of [[Ann.Centroids]]
  * lists and the flat tiers (pq, bin) scan all of them; the bounded
  * exact-rescore tail is tier-independent and excluded (the cold-scan
  * bench leg measures the same model's byte side empirically). At the
  * 8-B budget the bin and pq tiers tie EXACTLY (both 8 B/doc × C): the
  * deterministic (…, tier, dial) tie-break resolves it — bin first
  * lexically, and between two bin pools the smaller (cheaper rescore
  * tail) wins; AutotuneSpec pins the tie.
  *
  * Selection per (target‰, budget): among cells with `bytes_per_doc ≤
  * budget`, the cheapest whose overlap@10 meets the target — the v36
  * all-integer contract (`100·osum ≥ target‰·nq`) so the pick is
  * bit-deterministic; when NO cell under the budget meets the target,
  * fall back to the highest-osum cell under the budget (the best the
  * budget can buy — v36's widest-probe fallback generalized). Ties
  * break (cost, bytes, tier, dial) ascending everywhere. Monotonicity
  * in the target at fixed budget — chosen osum and qualifying cost
  * never decrease — is pinned in AutotuneSpec.
  */
object Autotune extends QModule {

  /** Fixture embedding dim (the Sq oracle's documented constant). */
  private val Dim = 64

  val IvfDials = Seq(4, 16, 32)
  val SqDials = Seq(4, 16, 32)
  val PqDials = Seq(10, 50)
  val BinDials = Seq(10, 50)
  val GraphDials = Seq(1, 4)
  val IvfPqDials = Seq(4, 16, 32)
  val Targets = Seq(800, 900, 950, 990)
  val Budgets = Seq(512, 256, 64, 8)

  /** Index bytes per document for a tier — the budget side. The graph
    * tier (round 12) stores the FLOAT corpus plus the persisted edge
    * sidecar ([[VectorSearch.knnDegree]] edges × 24 B (src, dst,
    * score)): graph buys recall with BYTES, not scan — its scan cost
    * at a dial equals plain ivf's, so under the (cost, bytes, …)
    * tie-break ivf wins whenever it already meets the target and the
    * graph cell is only chosen when the edges BUY a target the budget's
    * float probes alone can't reach. */
  def bytesOf(tier: String): Int = tier match {
    case "ivf" => 4 * Dim
    case "ivfsq" => Dim
    case "pq" => Dim / Pq.SubDim
    case "bin" => (Dim + 7) / 8
    case "graph" => 4 * Dim + VectorSearch.knnDegree * 24
    case "ivfpq" => Dim / Pq.SubDim
  }

  /** Scan-cost units for a cell — the declared cost model. The graph
    * cell scans dial float lists exactly like ivf; the one-hop edge
    * fetch and the widened exact-rescore tail are query-bounded
    * (≤ k·(1+degree) rows, corpus-size-free) and excluded like every
    * tier's rescore tail. */
  def costOf(tier: String, dial: Int): Long = tier match {
    case "ivf" => bytesOf("ivf").toLong * dial
    case "ivfsq" => bytesOf("ivfsq").toLong * dial
    case "pq" => bytesOf("pq").toLong * Ann.Centroids
    case "bin" => bytesOf("bin").toLong * Ann.Centroids
    case "graph" => bytesOf("ivf").toLong * dial
    case "ivfpq" => bytesOf("ivfpq").toLong * dial
  }

  /** All (tier, dial) cells in display order. */
  def cells: Seq[(String, Int)] =
    IvfDials.map("ivf" -> _) ++ SqDials.map("ivfsq" -> _) ++
      IvfPqDials.map("ivfpq" -> _) ++
      PqDials.map("pq" -> _) ++ BinDials.map("bin" -> _) ++
      GraphDials.map("graph" -> _)

  private val MaxQ = 10
  private val K = 10

  private val v43 = Q(
    "v43_cross_tier_tune",
    (s, d) => {
      import s.implicits._
      val exact10 = VectorSearch.searchFrame(s, d)
        .filter($"rnk" <= 10 && $"query_id" < MaxQ)
        .select($"query_id", $"doc_id", lit(1).as("in_exact"))
      // Overlapped construction (round 16, guide §2.6): the 16 cell
      // frames' EAGER prep (build-if-absent index loads, centroid/
      // codebook collects) ran sequentially on the driver — fn-time was
      // ~60% of the query's wall. Constructions run one thread per TIER
      // (Spark job submission is thread-safe and FIFO back-fills the
      // tail), grouped so no two concurrent threads build the same
      // tier's persisted artifact; within a tier, dials stay sequential.
      // Frame ORDER is restored to `cells` order, so the unioned output
      // is byte-identical to the sequential form.
      val byTier = cells.groupBy(_._1)
      val tierOrder = cells.map(_._1).distinct
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tierOrder.size)
      val futs = tierOrder.map { t =>
        t -> pool.submit(new java.util.concurrent.Callable[Seq[DataFrame]] {
          def call(): Seq[DataFrame] = byTier(t).map { case (tier, dial) =>
            val f = tier match {
              case "ivf" =>
                Ann.search(s, Ann.Session(d), VectorSearch.queryVectors(s, d, MaxQ), K, dial)
              case "ivfsq" => Sq.searchIvf(s, d, MaxQ, K, dial)
              case "pq" => Pq.search(s, d, MaxQ, K, dial)
              case "bin" => Compact.searchBinary(s, d, MaxQ, K, dial)
              case "graph" => VectorSearch.graphRefined(s, d, MaxQ, K, dial)
              case "ivfpq" => Pq.searchIvfPq(s, d, MaxQ, K, dial)
            }
            f.select($"query_id", $"doc_id", $"rnk")
              .withColumn("tier", lit(tier)).withColumn("dial", lit(dial))
          }
        })
      }.toMap
      val frames =
        try tierOrder.flatMap { t =>
          try futs(t).get()
          catch { // surface the real failure, not the Future wrapper
            case e: java.util.concurrent.ExecutionException =>
              // a failed tier tears down its siblings (ADVICE r16 low):
              // without the cancel, the other tiers' eager collects keep
              // running on non-daemon threads after v43 already failed
              futs.values.foreach(_.cancel(true))
              throw e.getCause
          }
        } finally { pool.shutdownNow(); () }
      val po = frames.reduce(_ unionByName _)
        .join(exact10, Seq("query_id", "doc_id"), "left_outer")
        .na.fill(0, Seq("in_exact"))
        .groupBy($"tier", $"dial", $"query_id")
        .agg(sum(when($"in_exact" === 1 && $"rnk" <= 10, 1L).otherwise(0L)).as("o10"))
        .groupBy($"tier", $"dial")
        .agg(sum($"o10").as("osum"), count(lit(1)).as("nq"))
      val meta = cells.map { case (t, dl) => (t, dl, bytesOf(t), costOf(t, dl)) }
        .toDF("tier", "dial", "bytes_per_doc", "cost_units")
      val stats = po.join(meta, Seq("tier", "dial"))
      val tb = Targets.toDF("target_pm").crossJoin(Budgets.toDF("budget_b"))
      val scored = tb.join(stats, $"bytes_per_doc" <= $"budget_b")
        .withColumn("ok",
          when(lit(100L) * $"osum" >= $"target_pm".cast("long") * $"nq", 1).otherwise(0))
      val wSel = Window.partitionBy($"target_pm", $"budget_b")
        .orderBy(
          $"ok".desc,
          when($"ok" === 1, $"cost_units").otherwise(-$"osum").asc,
          $"cost_units".asc, $"bytes_per_doc".asc, $"tier".asc, $"dial".asc)
      scored
        .withColumn("rn", row_number().over(wSel))
        .filter($"rn" === 1)
        .select($"target_pm", $"budget_b", $"tier", $"dial", $"osum", $"nq")
        .orderBy($"target_pm", $"budget_b")
    },
    Some {
      def cellSql(tier: String, dial: Int): String = {
        val inner = tier match {
          case "ivf" => s"SELECT query_id, doc_id, rnk FROM (${Ann.duckSearch(MaxQ, K, dial)})"
          case "ivfsq" => Sq.duckIvfSqSearch(MaxQ, K, dial)
          case "pq" => Pq.duckPqSearchCand(MaxQ, K, dial)
          case "bin" => Compact.duckBinSearch(MaxQ, K, dial)
          case "graph" => VectorSearch.duckGraphRefinedCand(MaxQ, K, dial)
          case "ivfpq" => Pq.duckIvfPqSearch(MaxQ, K, dial, Pq.RCand)
        }
        s"SELECT '$tier' AS tier, $dial AS dial, query_id, doc_id, rnk FROM ($inner)"
      }
      val cellUnion = cells.map { case (t, dl) => cellSql(t, dl) }
        .mkString("(", ") UNION ALL (", ")")
      val metaValues = cells
        .map { case (t, dl) => s"('$t', $dl, ${bytesOf(t)}, ${costOf(t, dl)})" }
        .mkString(", ")
      s"""WITH ${Ann.duckCentAssign},
        ${VectorSearch.duckGraphEdgesSql},
        exq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $MaxQ),
        exact_scored AS (
          SELECT q.query_id, c.vec_id AS doc_id,
                 (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                  FROM (SELECT unnest(q.qe) AS x, unnest(c.embedding) AS y) zz) AS score
          FROM exq q, embeddings c WHERE c.vec_id <> q.query_id),
        exact10 AS (
          SELECT query_id, doc_id FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
            FROM exact_scored)
          WHERE rnk <= 10),
        cells AS ($cellUnion),
        perq AS (
          SELECT c.tier, c.dial, c.query_id,
                 sum(CASE WHEN x.doc_id IS NOT NULL AND c.rnk <= 10 THEN 1 ELSE 0 END) AS o10
          FROM cells c
          LEFT JOIN exact10 x ON c.query_id = x.query_id AND c.doc_id = x.doc_id
          GROUP BY 1, 2, 3),
        po AS (
          SELECT tier, dial, CAST(sum(o10) AS BIGINT) AS osum, count(*) AS nq
          FROM perq GROUP BY tier, dial),
        meta AS (SELECT * FROM (VALUES $metaValues) AS m(tier, dial, bytes_per_doc, cost_units)),
        stats AS (SELECT po.*, m.bytes_per_doc, m.cost_units
                  FROM po JOIN meta m ON po.tier = m.tier AND po.dial = m.dial),
        tb AS (SELECT t.target_pm, b.budget_b
               FROM (SELECT unnest([${Targets.mkString(", ")}]) AS target_pm) t,
                    (SELECT unnest([${Budgets.mkString(", ")}]) AS budget_b) b),
        sc AS (
          SELECT tb.target_pm, tb.budget_b, s.tier, s.dial, s.osum, s.nq,
                 s.bytes_per_doc, s.cost_units,
                 CASE WHEN 100 * s.osum >= tb.target_pm * s.nq THEN 1 ELSE 0 END AS ok
          FROM tb JOIN stats s ON s.bytes_per_doc <= tb.budget_b),
        r AS (
          SELECT *, row_number() OVER (
            PARTITION BY target_pm, budget_b
            ORDER BY ok DESC,
                     CASE WHEN ok = 1 THEN cost_units ELSE -osum END,
                     cost_units, bytes_per_doc, tier, dial) AS rn
          FROM sc)
      SELECT target_pm, budget_b, tier, dial, osum, nq
      FROM r WHERE rn = 1 ORDER BY target_pm, budget_b"""
    })

  // -------------------------------------------------------------- v51
  /** SAMPLED recall estimation with confidence bounds (round 12) — the
    * 100 TB tuning path. v36/v43 compute exact ground truth for EVERY
    * query; at production scale that exact pass per query over the
    * corpus is the one unaffordable step of the tuning loop. v51
    * estimates each tier's recall@10 from a deterministic LCG-sampled
    * query subset ([[graft.Functions.keyLcgU]] < [[SampleRate]] over
    * the first [[SampleMaxQ]] ids — the engine's seeded-sampling seam,
    * q28's), pays the exact pass ONLY for the sample (one corpus scan
    * against the broadcast sample, [[BruteForce.topK]] — cost ∝
    * |sample|·n, independent of the real query-log size), and reports
    * a 95% WILSON interval per tier so the consumer sees the
    * estimate's width, not a false point value. Trials are the 10·nq
    * per-position indicators (the naive binomial; clustering by query
    * widens true intervals somewhat — the declared caveat). Estimate
    * and bounds are integer-derived doubles with identical expression
    * structure in both engines, rounded at 4 — the oracle replays them
    * bit-for-bit. */
  private val SampleMaxQ = 40
  private val SampleRate = 0.5
  val SampleCells = Seq(("ivf", 4), ("ivfsq", 4), ("pq", 50))

  private val v51 = Q(
    "v51_sampled_recall",
    (s, d) => {
      import s.implicits._
      val embT = graft.Tables(s, d, "embeddings")
      val sampleP = graft.Functions.keyLcgU($"query_id") < SampleRate
      val qarr = embT
        .select($"vec_id".as("query_id"), $"embedding")
        .filter($"query_id" < SampleMaxQ)
        .filter(sampleP)
        .as[(Long, Array[Float])]
        .collect()
        .sortBy(_._1)
      val corpus = embT.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      val exact10 = BruteForce.topK(corpus, qarr, K, excludeSelf = true)
        .select($"query_id", $"doc_id", lit(1).as("in_exact"))
      val frames = SampleCells.map { case (tier, dial) =>
        val f = tier match {
          case "ivf" =>
            Ann.search(s, Ann.Session(d), VectorSearch.queryVectors(s, d, SampleMaxQ), K, dial)
          case "ivfsq" => Sq.searchIvf(s, d, SampleMaxQ, K, dial)
          case "pq" => Pq.search(s, d, SampleMaxQ, K, dial)
        }
        f.filter(sampleP)
          .select($"query_id", $"doc_id", $"rnk")
          .withColumn("tier", lit(tier)).withColumn("dial", lit(dial))
      }
      val po = frames.reduce(_ unionByName _)
        .join(exact10, Seq("query_id", "doc_id"), "left_outer")
        .na.fill(0, Seq("in_exact"))
        .groupBy($"tier", $"dial", $"query_id")
        .agg(sum(when($"in_exact" === 1 && $"rnk" <= 10, 1L).otherwise(0L)).as("o10"))
        .groupBy($"tier", $"dial")
        .agg(sum($"o10").as("osum"), count(lit(1)).as("nq"))
      // Wilson 95%: mirror the oracle's expression structure exactly —
      // all inputs are integers, so both engines round the same double
      val n = ($"nq" * 10).cast("double")
      val p = $"osum" / n
      val z2 = lit(3.8416)
      val denom = lit(1.0) + z2 / n
      val center = p + z2 / (lit(2.0) * n)
      val rad = lit(1.96) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
      po.select(
          $"tier", $"dial", $"nq", $"osum",
          round(p, 4).as("est"),
          round((center - rad) / denom, 4).as("lo95"),
          round((center + rad) / denom, 4).as("hi95"))
        .orderBy($"tier", $"dial")
    },
    Some {
      def cellSql(tier: String, dial: Int): String = {
        val inner = tier match {
          case "ivf" => s"SELECT query_id, doc_id, rnk FROM (${Ann.duckSearch(SampleMaxQ, K, dial)})"
          case "ivfsq" => Sq.duckIvfSqSearch(SampleMaxQ, K, dial)
          case "pq" => Pq.duckPqSearchCand(SampleMaxQ, K, dial)
        }
        s"""SELECT '$tier' AS tier, $dial AS dial, t.query_id, t.doc_id, t.rnk
            FROM ($inner) t JOIN smp ON smp.query_id = t.query_id"""
      }
      val cellUnion = SampleCells.map { case (t, dl) => cellSql(t, dl) }
        .mkString("(", ") UNION ALL (", ")")
      s"""WITH ${Ann.duckCentAssign},
        smp AS (SELECT vec_id AS query_id FROM embeddings
                WHERE vec_id < $SampleMaxQ
                  AND ${graft.Functions.duckKeyLcgU("vec_id")} < $SampleRate),
        exq AS (SELECT e.vec_id AS query_id, e.embedding AS qe
                FROM embeddings e JOIN smp ON smp.query_id = e.vec_id),
        exact_scored AS (
          SELECT q.query_id, c.vec_id AS doc_id,
                 (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                  FROM (SELECT unnest(q.qe) AS x, unnest(c.embedding) AS y) zz) AS score
          FROM exq q, embeddings c WHERE c.vec_id <> q.query_id),
        exact10 AS (
          SELECT query_id, doc_id FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
            FROM exact_scored)
          WHERE rnk <= $K),
        cells AS ($cellUnion),
        perq AS (
          SELECT c.tier, c.dial, c.query_id,
                 sum(CASE WHEN x.doc_id IS NOT NULL AND c.rnk <= $K THEN 1 ELSE 0 END) AS o10
          FROM cells c
          LEFT JOIN exact10 x ON c.query_id = x.query_id AND c.doc_id = x.doc_id
          GROUP BY 1, 2, 3),
        po AS (
          SELECT tier, dial, CAST(sum(o10) AS BIGINT) AS osum, count(*) AS nq
          FROM perq GROUP BY tier, dial),
        w AS (
          SELECT tier, dial, nq, osum,
                 osum / CAST(nq * 10 AS DOUBLE) AS p,
                 CAST(nq * 10 AS DOUBLE) AS n
          FROM po)
      SELECT tier, dial, nq, osum,
             round(p, 4) AS est,
             round((p + 3.8416 / (2.0 * n)
                    - 1.96 * sqrt(p * (1.0 - p) / n + 3.8416 / (4.0 * n * n)))
                   / (1.0 + 3.8416 / n), 4) AS lo95,
             round((p + 3.8416 / (2.0 * n)
                    + 1.96 * sqrt(p * (1.0 - p) / n + 3.8416 / (4.0 * n * n)))
                   / (1.0 + 3.8416 / n), 4) AS hi95
      FROM w ORDER BY tier, dial"""
    })

  override def all: Seq[Q] = Seq(v43, v51)
}
