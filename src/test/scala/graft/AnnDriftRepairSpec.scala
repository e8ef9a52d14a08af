package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.operators.Ann

/** Planted-drift repair (VERDICT r10 next #4 / r11 next #1): the
  * lifecycle loop v44 monitors and [[Ann.repairDrifted]] actuates.
  * Build an artifact, freeze its training snapshot
  * ([[Ann.writeDriftBase]]), push skewed adds through [[Ann.addVectors]]
  * so exactly the gaining lists cross the per-mille share threshold,
  * then repair — and pin the whole contract:
  *
  *  - [[Ann.driftFrameAt]] flags EXACTLY the planted lists before, and
  *    is clean after;
  *  - frozen lists keep their file sets byte-identical and their
  *    `_drift_base` rows untouched; a live list with NO base row that
  *    stays under the threshold is NOT swept into the rebase (ADVICE
  *    r11 low — only repaired + this-call-minted lists advance);
  *  - search over the repaired artifact at full probe width stays
  *    row-identical to exact brute force (no doc lost, duplicated, or
  *    stranded in an unprobeable list);
  *  - a list that outgrew its share splits into k>1 sub-lists whose
  *    centroids rank FIRST for the arrived distribution (probe
  *    reachability at nProbe=1);
  *  - the repair rewrite expires stale snapshot manifests and
  *    re-manifests, so as-of-latest sees exactly the live file set
  *    (VERDICT r11 next #6: every centroid rewrite enforces the
  *    manifest-expiry invariant as-of reads depend on).
  */
class AnnDriftRepairSpec extends SparkSpec {

  private val dim = 16

  private def unit(axis: Int): Array[Float] =
    Array.tabulate(dim)(i => if (i == axis) 1.0f else 0.0f)

  /** Unit vector near `axis` with a deterministic tilt toward `tilt`
    * (tilt dims ≥ 5 never collide with the centroid axes 0-4). */
  private def near(axis: Int, tilt: Int, w: Float): Array[Float] = {
    val v = unit(axis)
    v(tilt) = w
    val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x)).toFloat
    v.map(_ / n)
  }

  private def listFiles(path: String, cid: Long): Seq[(String, Long)] = {
    val dir = new java.io.File(s"$path/centroid_id=$cid")
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-"))
      .map(f => (f.getName, f.lastModified()))
      .sortBy(_._1).toSeq
  }

  private def driftRows(path: String): Map[Long, (Long, Long, Int)] = {
    import spark.implicits._
    Ann.driftFrameAt(spark, path)
      .as[(Long, Long, Long, Int)].collect()
      .map { case (cid, nb, nf, d) => cid -> (nb, nf, d) }.toMap
  }

  private def baseRows(path: String): Map[Long, Long] = {
    import spark.implicits._
    spark.read.parquet(s"$path/_drift_base")
      .select(col("centroid_id").cast("long"), col("n_base"))
      .as[(Long, Long)].collect().toMap
  }

  /** Driver-side exact top-k, matching the engine's (score desc, doc_id
    * asc) order — the oracle for full-probe search equality. */
  private def exactTopK(
      corpus: Seq[(Long, Array[Float])],
      q: Array[Float], k: Int): Seq[Long] =
    corpus.map { case (id, v) =>
      (id, v.zip(q).foldLeft(0.0) { case (a, (x, y)) => a + x.toDouble * y.toDouble })
    }.sortBy { case (id, sc) => (-sc, id) }.take(k).map(_._1)

  test("in-place repair: flags exactly the drifted list, frozen lists byte-identical, unflagged base-less list not swept") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_driftrepair").toString + "/idx"
    // 5 axis centroids; base corpus populates lists 0-3 only (list 4
    // starts EMPTY — no _drift_base row will exist for it)
    val cents = Array.tabulate(5)(c => (c.toLong, unit(c)))
    val base =
      (0 until 10).map(i => (i.toLong, near(0, 8 + i % 4, 0.3f), i % 3)) ++
        (0 until 663).map(i => (100L + i, near(1, 8 + i % 4, 0.25f), i % 3)) ++
        (0 until 663).map(i => (1000L + i, near(2, 8 + i % 4, 0.25f), i % 3)) ++
        (0 until 664).map(i => (2000L + i, near(3, 8 + i % 4, 0.25f), i % 3))
    Ann.writeIndexArtifact(spark, path, spark.createDataset(base), cents)
    Ann.writeDriftBase(spark, path)

    // skewed adds: 20 into list 0 (10 -> 30: share 0.5% -> 1.48%, over
    // the 5‰ gate) and 6 into the previously-empty list 4 (nb=0, nf=6 —
    // UNDER the gate: 1000·6 < 5·2026)
    Ann.addVectors(spark, path, spark.createDataset(
      (0 until 20).map(i => (5000L + i, near(0, 12 + i % 4, 0.3f), i % 3)) ++
        (0 until 6).map(i => (6000L + i, near(4, 8 + i % 4, 0.3f), i % 3))))

    val before = driftRows(path)
    assert(before(0L) == ((10L, 30L, 1)), s"list 0 should be flagged: ${before(0L)}")
    assert(before(4L) == ((0L, 6L, 0)), s"base-less list 4 must stay under the gate: ${before(4L)}")
    Seq(1L, 2L, 3L).foreach(cid =>
      assert(before(cid)._3 == 0, s"list $cid wrongly flagged: ${before(cid)}"))

    val frozenBefore = Seq(1L, 2L, 3L).map(cid => cid -> listFiles(path, cid)).toMap
    val baseBefore = baseRows(path)
    assert(!baseBefore.contains(4L))

    val repaired = Ann.repairDrifted(spark, path)
    assert(repaired == Seq(0L), s"expected only list 0 repaired, got $repaired")

    // frozen lists: file sets (names AND mtimes) byte-identical
    Seq(1L, 2L, 3L).foreach(cid =>
      assert(listFiles(path, cid) == frozenBefore(cid), s"frozen list $cid files changed"))
    // _drift_base: repaired list re-based to current count; frozen rows
    // untouched; the unflagged base-less list NOT swept in (ADVICE r11)
    val baseAfter = baseRows(path)
    assert(baseAfter(0L) == 30L)
    Seq(1L, 2L, 3L).foreach(cid => assert(baseAfter(cid) == baseBefore(cid)))
    assert(!baseAfter.contains(4L),
      s"unflagged base-less list 4 was swept into the rebase: $baseAfter")
    // monitor clean after repair (list 4 still nb=0 but under the gate)
    val after = driftRows(path)
    after.foreach { case (cid, row) =>
      assert(row._3 == 0, s"list $cid still flagged post-repair: $row")
    }
    // repaired centroid kept its id (k=1 re-centers in place)
    val cids = spark.read.parquet(s"$path/_centroids")
      .select(col("centroid_id").cast("long")).as[Long].collect().sorted.toSeq
    assert(cids == Seq(0L, 1L, 2L, 3L, 4L), s"centroid ids changed: $cids")

    // idempotent: a clean monitor means a second repair is a no-op
    val baseSnapshot = baseRows(path)
    assert(Ann.repairDrifted(spark, path).isEmpty,
      "second repair on a clean monitor must repair nothing")
    assert(baseRows(path) == baseSnapshot, "no-op repair changed _drift_base")

    // search at full probe width stays row-identical to exact
    val corpus = spark.read.parquet(path)
      .select(col("doc_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    assert(corpus.length == 2026 && corpus.map(_._1).distinct.length == 2026)
    val qvs = Seq(
      (90000L, near(0, 12, 0.3f)), (90001L, near(1, 9, 0.2f)), (90002L, near(4, 8, 0.3f)))
    val got = Ann.search(spark, Ann.Latest(path), qvs.toArray, k = 5, nProbe = 5,
        maskTombstones = true)
      .select(col("query_id"), col("rnk"), col("doc_id"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (qid, rows) => qid -> rows.sortBy(_._2).map(_._3).toSeq }
    qvs.foreach { case (qid, qv) =>
      assert(got(qid) == exactTopK(corpus, qv, 5),
        s"full-probe search != exact for query $qid")
    }
  }

  test("k>1 split mints probe-reachable sub-lists; repair expires stale manifests and re-manifests") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_driftsplit").toString + "/idx"
    // 4 balanced lists of 50, then a 650-doc pileup in list 0's region
    // arriving in 3 genuine sub-clusters
    val cents = Array.tabulate(4)(c => (c.toLong, unit(c)))
    val base = (0 until 4).flatMap(c =>
      (0 until 50).map(i => (c * 1000L + i, near(c, 8 + i % 4, 0.25f), i % 3)))
    Ann.writeIndexArtifact(spark, path, spark.createDataset(base), cents)
    Ann.writeDriftBase(spark, path)
    val v1 = Ann.snapshotIndex(spark, path)
    assert(v1 == 1)

    Ann.addVectors(spark, path, spark.createDataset(
      (0 until 600).map(i => (10000L + i, near(0, 5 + i % 3, 0.35f + 0.01f * (i % 5)), i % 3))))

    // every list's share moved > 5‰ (0 gained 4x; 1-3 halved twice over)
    val before = driftRows(path)
    assert(before.values.forall(_._3 == 1), s"expected all lists flagged: $before")
    assert(before(0L)._2 == 650L)

    val repaired = Ann.repairDrifted(spark, path)
    assert(repaired.sorted == Seq(0L, 1L, 2L, 3L))

    // list 0 outgrew its share: ceil(650 / (800/4)) = 4 sub-lists minted,
    // the original id retired from disk and quantizer alike
    val cids = spark.read.parquet(s"$path/_centroids")
      .select(col("centroid_id").cast("long")).as[Long].collect().sorted.toSeq
    assert(!cids.contains(0L), s"split list 0 still in _centroids: $cids")
    assert(cids.count(_ >= 4L) == 4, s"expected 4 minted sub-lists: $cids")
    assert(!new java.io.File(s"$path/centroid_id=0").exists())

    // no doc lost or duplicated across the split
    val docs = spark.read.parquet(path).select(col("doc_id")).as[Long].collect()
    assert(docs.length == 800 && docs.distinct.length == 800)

    // monitor clean; _drift_base advanced for every repaired/minted list
    val after = driftRows(path)
    after.foreach { case (cid, row) => assert(row._3 == 0, s"$cid still flagged: $row") }
    val baseAfter = baseRows(path)
    assert(baseAfter.filter(_._1 >= 4L).values.sum == 650L)
    Seq(1L, 2L, 3L).foreach(cid => assert(baseAfter(cid) == 50L))

    // probe reachability: the arrived distribution has its own
    // centroid(s) — an nProbe=1 search for a hot-cluster query resolves
    // to hot-cluster members without probing anything else
    val q = Array((90000L, near(0, 5, 0.35f)))
    val top = Ann.search(spark, Ann.Latest(path), q, k = 3, nProbe = 1, maskTombstones = true)
      .select(col("doc_id")).as[Long].collect()
    assert(top.nonEmpty && top.forall(_ >= 10000L),
      s"nProbe=1 hot-cluster search returned non-hot docs: ${top.toSeq}")

    // the repair rewrote every partition: v1's manifest is stale and must
    // be EXPIRED, with a fresh post-repair snapshot re-manifesting the
    // live state (numbering monotone past the expired version)
    val versions = Ann.snapshotVersions(spark, path)
    assert(versions == Seq(2), s"expected v1 expired + v2 re-manifested, got $versions")
    val asOf = Ann.resolve(spark, Ann.Version(path, 2)).index
      .select(col("doc_id")).as[Long].collect()
    assert(asOf.sorted.toSeq == docs.sorted.toSeq, "as-of latest != live file set")
  }

  test("streaming ingest with the drift loop closed: skewed stream self-heals, search stays exact") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = Files.createTempDirectory("graft_driftstream").toString + "/idx"
    // balanced seed: 4 lists of 50, training snapshot frozen at seed time
    val cents = Array.tabulate(4)(c => (c.toLong, unit(c)))
    val base = (0 until 4).flatMap(c =>
      (0 until 50).map(i => (c * 1000L + i, near(c, 8 + i % 4, 0.25f), i % 3)))
    Ann.writeIndexArtifact(spark, path, spark.createDataset(base), cents)
    Ann.writeDriftBase(spark, path)

    // the stream pours 600 docs into list 0's region, 4 micro-batches of
    // 150; checkEvery=2 -> the monitor ticks at batch ids 1 and 3, and
    // the FIRST tick already sees list 0 at 350/500 vs base 50/200 —
    // repair fires mid-stream, later batches assign against the
    // repaired (split) quantizer immediately
    val hot = (0 until 600).map(i =>
      (10000L + i, near(0, 5 + i % 3, 0.35f + 0.01f * (i % 5)), i % 3))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float], Int)]
    val q = Ann.ingestStreamWithRepair(spark, path, stream.toDS(), checkEvery = 2)
    try {
      hot.grouped(150).foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()

    // the loop closed: monitor clean at end-of-stream with NO manual
    // repair call anywhere
    driftRows(path).foreach { case (cid, row) =>
      assert(row._3 == 0, s"list $cid still drifted after self-healing stream: $row")
    }
    // the hot region got its own quantizer resolution (list 0 split)
    val cids = spark.read.parquet(s"$path/_centroids")
      .select(col("centroid_id").cast("long")).as[Long].collect().sorted.toSeq
    assert(!cids.contains(0L) && cids.exists(_ >= 4L),
      s"hot list was never split by the in-stream repair: $cids")
    // nothing lost or duplicated across appends + repairs
    val docs = spark.read.parquet(path).select(col("doc_id")).as[Long].collect()
    assert(docs.length == 800 && docs.distinct.length == 800)
    // and search at full probe width is still row-identical to exact
    val corpus = spark.read.parquet(path)
      .select(col("doc_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val qvs = Seq((90000L, near(0, 5, 0.35f)), (90001L, near(2, 9, 0.2f)))
    val got = Ann.search(spark, Ann.Latest(path), qvs.toArray, k = 5, nProbe = cids.length,
        maskTombstones = true)
      .select(col("query_id"), col("rnk"), col("doc_id"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (qid, rows) => qid -> rows.sortBy(_._2).map(_._3).toSeq }
    qvs.foreach { case (qid, qv) =>
      assert(got(qid) == exactTopK(corpus, qv, 5),
        s"post-self-heal full-probe search != exact for query $qid")
    }
  }

  test("rebalance (the other centroid rewrite) also expires stale manifests") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_rebalmanifest").toString + "/idx"
    val cents = Array.tabulate(4)(c => (c.toLong, unit(c)))
    val hot = (0 until 240).map(i => (i.toLong, near(0, 5 + i % 3, 0.35f), i % 4))
    val cold = (0 until 180).map(i => (1000L + i, near(1 + i % 3, 8 + i % 4, 0.2f), i % 4))
    Ann.writeIndexArtifact(spark, path, spark.createDataset(hot ++ cold), cents)
    assert(Ann.snapshotIndex(spark, path) == 1)
    val r = Ann.rebalanceIndex(spark, path, tau = 2.0)
    assert(r.splitLists == Seq(0L))
    // the split rewrote list 0's files: v1 expired, v2 re-manifested —
    // an as-of read can never pair the NEW quantizer with the OLD files
    val versions = Ann.snapshotVersions(spark, path)
    assert(versions == Seq(2), s"expected v1 expired + v2 re-manifested, got $versions")
    val live = spark.read.parquet(path).select(col("doc_id")).as[Long].collect().sorted.toSeq
    val asOf = Ann.resolve(spark, Ann.Version(path, 2)).index
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(asOf == live)
  }
}
