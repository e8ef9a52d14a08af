package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Faults}

/** Exhaustive fault-point crash sweep (VERDICT r12 next #5): instead of
  * hand-crafting the crash states someone thought of, enumerate ALL of
  * them mechanically. Every destructive FS boundary inside upsert,
  * compaction (both kinds) and merge calls `Faults.point()`; the sweep
  * arms k = 0, 1, 2, … so each run dies between a different pair of
  * filesystem operations, then RETRIES the verb (the crash-then-retry
  * contract every recovery routine implements) and asserts the final
  * state equals the crash-free oracle AND `Ann.fsck` comes back green.
  * The sweep ends when an armed run completes without firing — i.e.
  * every fault point of the verb (including those inside nested verbs
  * and recovery paths taken by the retry) has been crashed at least
  * once. Any future `Faults.point()` added to a verb is swept for free.
  */
class AnnCrashSweepSpec extends SparkSpec {

  import spark.implicits._

  private lazy val s2 = {
    val s = spark.newSession()
    Functions.register(s)
    s.conf.set(Ann.IndexRootConf,
      java.nio.file.Files.createTempDirectory("graft_sweep_root").toString)
    s
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private def rm(p: String): Unit = { fs.delete(new org.apache.hadoop.fs.Path(p), true); () }

  // tiny deterministic corpus (AnnMergeSpec's shape): verbs run in ~1 s,
  // so the full sweep stays test-suite-sized
  private val dim = 8
  private def unit(axis: Int): Array[Float] =
    Array.tabulate(dim)(i => if (i == axis) 1.0f else 0.0f)
  private def dvec(id: Long): Array[Float] = {
    val v = unit((id % 2).toInt)
    v(2 + (id % 3).toInt) = 0.2f + 0.01f * (id % 5)
    val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x)).toFloat
    v.map(_ / n)
  }
  private val cents = Array(0L -> unit(0), 1L -> unit(1))
  private def rows(ids: Range): Seq[(Long, Array[Float], Int)] =
    ids.map(i => (i.toLong, dvec(i.toLong), (i % 3)))

  private def mkArtifact(path: String, ids: Range): Unit =
    Ann.writeIndexArtifact(spark, path, spark.createDataset(rows(ids)), cents)

  /** (doc_id -> first embedding element) of the live tombstone-masked
    * rows — enough to distinguish updated from stale vectors. */
  private def state(path: String): Map[Long, Float] = {
    val tomb = Ann.tombstonesAt(s2, path).select($"doc_id").distinct()
    s2.read.parquet(path)
      .join(tomb, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"embedding").as[(Long, Array[Float])]
      .collect().map { case (id, v) => id -> v.head }.toMap
  }

  private def assertFsckGreen(path: String, ctx: String): Unit = {
    val bad = Ann.fsck(s2, path).filterNot(_.ok)
    assert(bad.isEmpty, s"$ctx: fsck red: ${bad.map(c => c.check -> c.detail)}")
  }

  // ----------------------------------------- reader contract AT the crash

  /** Probe-path serve snapshot (doc_id -> score for one fixed query)
    * through the REAL serving plan — quantizer probe → scored candidates
    * → tombstone mask → top-k (`Ann.search` over a `Latest` ref) —
    * with every list probed and k over the corpus size, so the map IS
    * the served universe plus the exact vector each doc is served with
    * (the fixtures flip vectors on update, so score changes pin version
    * identity). */
  /** A served (doc_id -> score) map that FAILS LOUDLY on duplicate
    * ranks: collect().toMap would silently merge a doc served at two
    * ranks (r14 review #2 — exactly the torn state the probes exist to
    * catch). */
  private def servedMap(rows: Array[(Long, Double)], ctx: String): Map[Long, Double] = {
    val dups = rows.groupBy(_._1).filter(_._2.length > 1).keys
    assert(dups.isEmpty, s"$ctx: docs served at MULTIPLE ranks: ${dups.take(5)}")
    rows.toMap
  }

  /** The one probe query, driver-held, so a serve snapshot runs no
    * query-vector collect. */
  private val probeQuery = Array((9000000L, Array.fill(dim)((1.0 / math.sqrt(dim)).toFloat)))

  private def serveState(path: String): Map[Long, Double] = {
    import s2.implicits._
    servedMap(Ann.search(s2, Ann.Latest(path), probeQuery, k = 4000, nProbe = 64,
        maskTombstones = true)
      .select($"doc_id", $"score").as[(Long, Double)].collect(), s"serve($path)")
  }

  /** Same snapshot through the graph-refined serving path. */
  private def graphServeState(path: String): Map[Long, Double] = {
    import s2.implicits._
    servedMap(Ann.graphRefinedSearch(s2, Ann.Latest(path), probeQuery, k = 4000, nProbe = 64,
        seedK = 4000, maskTombstones = true)
      .select($"doc_id", $"score").as[(Long, Double)].collect(), s"graphServe($path)")
  }

  /** What a CONCURRENT READER may serve at a crash state (VERDICT r13
    * next #6) — per-verb, the strongest claim the verb's choreography
    * supports:
    *
    *  - [[ServeIdentical]]: the masked view is INVARIANT across the verb
    *    (compactions: survivors ≡ masked originals, tombstones cleared
    *    only after the swap) — every crash state serves exactly it;
    *  - [[ServeOldOrNew]]: one commit point (the quantizer swap): every
    *    crash state serves the complete pre-verb or complete post-verb
    *    world, never a mixture;
    *  - [[ServePerDoc]]: verbs whose commit is per-doc-atomic (append:
    *    each doc absent→new; upsert: old→absent→new, the composed
    *    delete+insert's sub-commits): UNTOUCHED docs are served
    *    bit-identically at every state; a touched doc is served at its
    *    old version, its new version, or (allowAbsent) not at all —
    *    never both versions, never a torn vector;
    *  - [[ServeSkip]]: construction verbs whose dest is not a serving
    *    surface until they return (merge; serving cutover is the alias
    *    verb's job, pinned by v57).
    */
  private sealed trait ReaderContract
  private case object ServeIdentical extends ReaderContract
  private case object ServeOldOrNew extends ReaderContract
  private case class ServePerDoc(touched: Set[Long], allowAbsent: Boolean)
    extends ReaderContract
  private case object ServeSkip extends ReaderContract

  private def checkServe(
      ctx: String, serve: Map[Long, Double],
      old: Map[Long, Double], nw: Map[Long, Double], c: ReaderContract): Unit = c match {
    case ServeSkip => ()
    case ServeIdentical =>
      assert(serve == nw,
        s"$ctx: reader torn — serve diverged from the invariant masked view " +
          s"(missing=${(nw.keySet -- serve.keySet).take(5)}, " +
          s"extra=${(serve.keySet -- nw.keySet).take(5)})")
    case ServeOldOrNew =>
      assert(serve == old || serve == nw,
        s"$ctx: reader torn — serve is neither the old nor the new world " +
          s"(vsOld missing=${(old.keySet -- serve.keySet).take(5)} " +
          s"extra=${(serve.keySet -- old.keySet).take(5)}; " +
          s"vsNew missing=${(nw.keySet -- serve.keySet).take(5)} " +
          s"extra=${(serve.keySet -- nw.keySet).take(5)})")
    case ServePerDoc(touched, allowAbsent) =>
      (old.keySet ++ nw.keySet ++ serve.keySet).foreach { id =>
        if (!touched(id))
          assert(serve.get(id) == old.get(id),
            s"$ctx: reader torn — UNTOUCHED doc $id served ${serve.get(id)} " +
              s"instead of ${old.get(id)}")
        else {
          val allowed: Set[Option[Double]] =
            Set(old.get(id), nw.get(id)) ++ (if (allowAbsent) Set(None) else Set.empty)
          assert(allowed.contains(serve.get(id)),
            s"$ctx: reader torn — touched doc $id served ${serve.get(id)}, " +
              s"allowed ${allowed}")
        }
      }
  }

  /** Sweep one verb: `fixture` builds a fresh artifact set, `verb` is
    * the mutation under test (idempotent under retry by contract),
    * `expected` is the crash-free final state of `artifact(root)`, and
    * `fingerprint` captures any extra deterministic final-state facet
    * (e.g. the post-split quantizer ids) on the crash-free run and is
    * re-asserted after every crash + retry. Returns the number of
    * fault points crashed. */
  private def sweep(
      name: String)(fixture: () => String)(verb: String => Unit)(
      expected: Map[Long, Float], artifact: String => String = identity,
      fingerprint: String => Any = _ => (),
      reader: ReaderContract = ServeOldOrNew,
      graphReader: Boolean = false): Int = {
    // dry run: verify the crash-free oracle, capture the fingerprint AND
    // the reader contract's two worlds (pre-verb / post-verb serve)
    val (fp0, serveOld, serveNew, gOld, gNew) = {
      val root = fixture()
      val so = if (reader == ServeSkip) Map.empty[Long, Double]
        else serveState(artifact(root))
      val go = if (graphReader) graphServeState(artifact(root))
        else Map.empty[Long, Double]
      verb(root)
      assert(state(artifact(root)) == expected, s"$name: crash-free run != oracle")
      assertFsckGreen(artifact(root), s"$name crash-free")
      val sn = if (reader == ServeSkip) Map.empty[Long, Double]
        else serveState(artifact(root))
      val gn = if (graphReader) graphServeState(artifact(root))
        else Map.empty[Long, Double]
      if (reader == ServeIdentical)
        assert(so == sn, s"$name: ServeIdentical contract mis-declared — " +
          "the crash-free verb itself changed the masked serve")
      val fp = fingerprint(artifact(root))
      rm(root)
      (fp, so, sn, go, gn)
    }
    var k = 0
    var done = false
    while (!done) {
      assert(k < 200, s"$name: runaway sweep — $k fault points and counting")
      val root = fixture()
      Faults.arm(k)
      val crashed =
        try { verb(root); false }
        catch { case _: Faults.InjectedCrash => true }
      val pointsThisRun = Faults.hits
      Faults.disarm()
      if (!crashed) {
        // k exceeded the verb's point count: every boundary was swept
        assert(state(artifact(root)) == expected, s"$name: unfired run $k != oracle")
        done = true
      } else {
        // READER AT THE CRASH STATE (VERDICT r13 next #6), BEFORE any
        // retry runs: a concurrent reader must serve per the verb's
        // declared contract — old or new, never torn — and fsck must
        // complete (report, not crash) on the wounded artifact
        if (reader != ServeSkip) {
          checkServe(s"$name crash@$k (pre-retry reader)",
            serveState(artifact(root)), serveOld, serveNew, reader)
          if (graphReader)
            checkServe(s"$name crash@$k (pre-retry graph reader)",
              graphServeState(artifact(root)), gOld, gNew, reader)
          Ann.fsck(s2, artifact(root)) // must not throw at any crash state
        }
        // the crash-then-retry contract: the SAME verb, re-invoked,
        // must converge — whatever boundary the crash hit
        verb(root)
        assert(state(artifact(root)) == expected,
          s"$name: state after crash@$k + retry != oracle (points hit: $pointsThisRun)")
        assert(fingerprint(artifact(root)) == fp0,
          s"$name: fingerprint after crash@$k + retry diverged from crash-free run")
        assertFsckGreen(artifact(root), s"$name crash@$k + retry")
      }
      rm(root)
      k += 1
    }
    info(s"$name: swept ${k - 1} fault points")
    k - 1
  }

  test("upsert converges from a crash at every fault point") {
    var n = 0
    val fixture = () => {
      val root = s"/tmp/graft_sweep_upsert_${System.nanoTime()}_$n"
      n += 1
      mkArtifact(root, 0 until 60)
      // graph sidecar so the graph-refined reader runs at every crash
      // state too (VERDICT r13 next #6 names it): endpoints are doc_ids,
      // all of which stay alive through the upsert (updates keep ids)
      Ann.buildGraphAt(s2, root)
      root
    }
    // mixed batch: updates (ids 0-19, re-submitted with a flipped first
    // element) + inserts (ids 60-79)
    val batch = (0 until 20).map(i => (i.toLong, dvec(i.toLong).map(-_), 9)) ++
      rows(60 until 80)
    val expected = (20 until 60).map(i => i.toLong -> dvec(i.toLong).head).toMap ++
      (0 until 20).map(i => i.toLong -> -dvec(i.toLong).head).toMap ++
      (60 until 80).map(i => i.toLong -> dvec(i.toLong).head).toMap
    // reader contract: upsert IS the composed delete+insert — an
    // untouched doc is served identically at every crash state; a batch
    // doc serves its old version, its new version, or (between the
    // delete sub-commit and the insert sub-commit) is absent — never
    // both versions, never a torn vector
    val touched = ((0 until 20) ++ (60 until 80)).map(_.toLong).toSet
    val swept = sweep("upsert")(fixture)(root =>
      Ann.upsertVectors(s2, root, spark.createDataset(batch)))(expected,
      reader = ServePerDoc(touched, allowAbsent = true), graphReader = true)
    assert(swept >= 8, s"upsert sweep covered only $swept points — instrumentation lost?")
  }

  test("tombstone compaction converges from a crash at every fault point") {
    var n = 0
    val fixture = () => {
      val root = s"/tmp/graft_sweep_compact_${System.nanoTime()}_$n"
      n += 1
      mkArtifact(root, 0 until 60)
      Ann.snapshotIndex(s2, root) // so the re-manifest path is exercised
      Ann.deleteFromIndexAt(s2, root, col("doc_id") % 4 === 1)
      root
    }
    val expected = (0 until 60).filter(_ % 4 != 1)
      .map(i => i.toLong -> dvec(i.toLong).head).toMap
    // reader contract: compaction never changes the masked view — the
    // survivors it swaps in ARE the masked originals, and tombstones are
    // cleared only after every swap completed
    val swept = sweep("compactIndexAt")(fixture)(root =>
      Ann.compactIndexAt(s2, root))(expected, reader = ServeIdentical)
    assert(swept >= 6, s"compaction sweep covered only $swept points")
  }

  test("small-file compaction converges from a crash at every fault point") {
    var n = 0
    val fixture = () => {
      val root = s"/tmp/graft_sweep_filecompact_${System.nanoTime()}_$n"
      n += 1
      mkArtifact(root, 0 until 40)
      // fragment both lists past the threshold with 5 tiny appends
      (0 until 5).foreach { b =>
        Ann.addVectors(s2, root, spark.createDataset(rows(40 + b * 4 until 44 + b * 4)))
      }
      Ann.snapshotIndex(s2, root)
      root
    }
    val expected = (0 until 60).map(i => i.toLong -> dvec(i.toLong).head).toMap
    val swept = sweep("compactSmallFilesAt")(fixture)(root =>
      Ann.compactSmallFilesAt(s2, root, maxFilesPerList = 3))(expected,
      reader = ServeIdentical)
    assert(swept >= 6, s"file-compaction sweep covered only $swept points")
  }

  test("a crashed reclaim healed by a NON-compaction verb still finishes the compaction") {
    // the sweep retries the verb that crashed; this pins the
    // heterogeneous-heal path (round-13 self-review finding): a
    // compaction dies mid-swap, and the NEXT verb is a streaming-style
    // append — recovery must not just roll the swap forward but FINISH
    // the reclaim (clear the applied tombstones), or fsck's
    // tombstones ⊆ live gate stays red on a healthy artifact
    val root = s"/tmp/graft_sweep_heteroheal_${System.nanoTime()}"
    try {
      mkArtifact(root, 0 until 60)
      Ann.deleteFromIndexAt(s2, root, col("doc_id") % 4 === 1)
      // crash right after the survivors write completed, before the swap
      Faults.arm(1)
      intercept[Faults.InjectedCrash] { Ann.compactIndexAt(s2, root) }
      Faults.disarm()
      Ann.addVectors(s2, root, spark.createDataset(rows(60 until 70)))
      assert(Ann.tombstonesAt(s2, root).isEmpty,
        "recovery via a non-compaction verb left applied tombstones behind")
      val expected = ((0 until 60).filter(_ % 4 != 1) ++ (60 until 70))
        .map(i => i.toLong -> dvec(i.toLong).head).toMap
      assert(state(root) == expected, "heterogeneous heal lost or resurrected rows")
      assertFsckGreen(root, "non-compaction heal")
    } finally rm(root)
  }

  test("a GRAPH verb over a crashed compaction heals the swap BEFORE re-manifesting") {
    // ADVICE r14 #1: the graph verbs healed via the lightweight
    // marker-only healPendingRemanifest, which re-manifested WITHOUT
    // rolling a crashed add-first swap forward — the fresh snapshot
    // then pinned BOTH the old and the minted copy of every survivor,
    // and the snapshot serving path returned each duplicated doc at two
    // ranks. Mini-sweep: at EVERY crash state of compactIndexAt, the
    // first post-crash touch is buildGraphAt (a graph verb, not a data
    // mutator); after it, the live state must be healed (no duplicate
    // doc_ids, reclaim finished) and the newest snapshot must hold each
    // doc exactly once.
    def dupDocs(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.groupBy($"doc_id").count().filter($"count" > 1)
        .select($"doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSeq.sorted
    val expected = (0 until 60).filter(_ % 4 != 1)
      .map(i => i.toLong -> dvec(i.toLong).head).toMap
    var k = 0
    var done = false
    var sawDuplicatedCrashState = false
    while (!done) {
      assert(k < 200, "runaway graph-heal sweep")
      val root = s"/tmp/graft_graphheal_${System.nanoTime()}_$k"
      try {
        mkArtifact(root, 0 until 60)
        Ann.snapshotIndex(s2, root) // so stale manifests exist to expire
        Ann.deleteFromIndexAt(s2, root, col("doc_id") % 4 === 1)
        Faults.arm(k)
        val crashed =
          try { Ann.compactIndexAt(s2, root); false }
          catch { case _: Faults.InjectedCrash => true }
        Faults.disarm()
        if (!crashed) done = true
        else {
          if (dupDocs(s2.read.parquet(root)).nonEmpty) sawDuplicatedCrashState = true
          // did the crash leave anything for the heal to roll? (a crash
          // BEFORE the survivors write leaves only pending tombstones —
          // a healthy state the graph verb rightly does not reclaim)
          val rollable =
            fs.exists(new org.apache.hadoop.fs.Path(
              s"${root}_compacting/_SUCCESS")) ||
              fs.exists(new org.apache.hadoop.fs.Path(s"$root/_remanifest_pending"))
          // the graph verb is the FIRST thing to touch the wound
          Ann.buildGraphAt(s2, root)
          assert(dupDocs(s2.read.parquet(root)).isEmpty,
            s"crash@$k: graph verb left the live state duplicated (swap not rolled)")
          if (rollable)
            assert(Ann.tombstonesAt(s2, root).isEmpty,
              s"crash@$k: graph verb's heal rolled the swap but left the reclaim unfinished")
          assert(state(root) == expected, s"crash@$k: healed state != oracle")
          // (a crash INSIDE the dead verb's remanifest can legitimately
          // leave zero manifests — all expired, the fresh one never
          // written; time-travel history is a casualty of that crash,
          // not of the heal — so the dup pin applies to whatever
          // newest manifest exists)
          Ann.snapshotVersions(s2, root).lastOption.foreach { latest =>
            assert(dupDocs(Ann.resolve(s2, Ann.Version(root, latest)).index).isEmpty,
              s"crash@$k: newest snapshot pins a doc twice (re-manifested before the roll)")
          }
          assertFsckGreen(root, s"graph-verb heal crash@$k")
        }
      } finally rm(root)
      k += 1
    }
    // the sweep must have exercised the state the ADVICE names (old +
    // minted copies both live) — if no k produces it, the pin is vacuous
    assert(sawDuplicatedCrashState,
      "no crash state had a duplicated survivor — the mid-swap window moved?")
  }

  // planted-skew helpers for the resharding sweeps (AnnRebalanceSpec's
  // fixture shape at dim 8)
  private def near(axis: Int, tilt: Int, w: Float): Array[Float] = {
    val v = unit(axis)
    v(tilt) = w
    val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x)).toFloat
    v.map(_ / n)
  }

  private def quantizerIds(path: String): Seq[Long] =
    s2.read.parquet(s"$path/_centroids")
      .select($"centroid_id".cast("long")).as[Long].collect().sorted.toSeq

  test("rebalance converges from a crash at every fault point") {
    var n = 0
    val fixture = () => {
      val root = s"/tmp/graft_sweep_rebalance_${System.nanoTime()}_$n"
      n += 1
      // list 0 HOT (120 docs, 3 genuine sub-clusters), lists 1-3 hold 20
      // each: 120 > tau * mean = 2 * 45
      val cents = Array.tabulate(4)(c => (c.toLong, unit(c)))
      val hot = (0 until 120).map(i =>
        (i.toLong, near(0, 4 + i % 3, 0.35f + 0.01f * (i % 5)), i % 3))
      val cold = (0 until 60).map(i =>
        (1000L + i, near(1 + i % 3, 7, 0.2f), i % 3))
      Ann.writeIndexArtifact(spark, root, spark.createDataset(hot ++ cold), cents)
      // graph sidecar: the graph-refined reader joins candidates against
      // the FULL live scan by doc_id — at a mid-split crash state the
      // debris-union hands it the same doc twice (retired source +
      // minted list), the exact duplicate-serve the r14 review found;
      // running it at every fault point of the SPLIT pins the
      // one-rank-per-doc top-k (serveState fails loudly on duplicate ranks)
      Ann.buildGraphAt(s2, root)
      root
    }
    val expected = {
      val hot = (0 until 120).map(i =>
        i.toLong -> near(0, 4 + i % 3, 0.35f + 0.01f * (i % 5)).head)
      val cold = (0 until 60).map(i => (1000L + i) -> near(1 + i % 3, 7, 0.2f).head)
      (hot ++ cold).toMap
    }
    val swept = sweep("rebalanceIndex")(fixture)(root =>
      { Ann.rebalanceIndex(s2, root, tau = 2.0); () })(
      expected,
      // the split itself must survive any crash + retry: same minted
      // quantizer (deterministic sample + k-means), hot list retired
      fingerprint = quantizerIds,
      graphReader = true)
    assert(swept >= 8, s"rebalance sweep covered only $swept points")
  }

  test("graph compaction converges from a crash at every fault point") {
    // round 14: compactGraphAt's aside-swap, tail drain and remanifest
    // were the one mutator choreography with NO fault points — its
    // recovery (recoverGraphServe roll-forward/roll-back + the
    // _remanifest_pending heal this sweep forced into the verb) was
    // never crash-tested. The fixture carries a serve dir, a live tail
    // AND a manifest pinning both, so every window (swap tears, drain
    // half-done, remanifest skipped) is observable; the fold is
    // semantics-preserving (graphServing already folds the tail at read
    // time), so BOTH readers are invariant at every crash state.
    var n = 0
    val fixture = () => {
      val root = s"/tmp/graft_sweep_graphcompact_${System.nanoTime()}_$n"
      n += 1
      mkArtifact(root, 0 until 60)
      Ann.buildGraphAt(s2, root)
      Ann.compactGraphAt(s2, root) // first fold: _graph_serve exists
      Ann.addVectors(s2, root, spark.createDataset(rows(60 until 70)))
      Ann.addToGraphAt(s2, root, spark.createDataset(rows(60 until 70)))
      Ann.snapshotIndex(s2, root) // manifest pins serve + tail files
      root
    }
    val expected = (0 until 70).map(i => i.toLong -> dvec(i.toLong).head).toMap
    val swept = sweep("compactGraphAt")(fixture)(root =>
      Ann.compactGraphAt(s2, root))(expected,
      fingerprint = adjacency,
      reader = ServeIdentical, graphReader = true)
    assert(swept >= 8, s"graph-compaction sweep covered only $swept points")
  }

  /** Full serving adjacency as a set — the graph verbs' fingerprint. */
  private def adjacency(root: String): Set[(Long, Long, Long)] = {
    import s2.implicits._
    Ann.graphAt(s2, root)
      .select($"src".cast("long"), $"rnk".cast("long"), $"dst".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
  }

  test("graph REBUILD over an existing graph converges from a crash at every fault point") {
    // round 14: buildGraphAt over an artifact already carrying a graph
    // is a REWRITE — the overwrite replaces manifest-pinned _graph
    // files and the folded _graph_serve holds the old adjacency. Before
    // the fix it left stale manifests (no remanifest) and folded stale
    // serve edges into every future read. The graph reader is NOT
    // pinned at crash states (a mid-rebuild fold of stale ∪ fresh edges
    // is an allowed quality wart, not a tear); the probe reader must be
    // untouched, the POST-RETRY adjacency must equal the crash-free
    // rebuild's, and fsck must come back green (the manifest heal).
    var n = 0
    val fixture = () => {
      val root = s"/tmp/graft_sweep_graphrebuild_${System.nanoTime()}_$n"
      n += 1
      mkArtifact(root, 0 until 60)
      Ann.buildGraphAt(s2, root)
      Ann.compactGraphAt(s2, root) // folded serve holds the pre-rebuild adjacency
      Ann.addVectors(s2, root, spark.createDataset(rows(60 until 70)))
      Ann.snapshotIndex(s2, root) // manifest pins the pre-rebuild edge files
      root
    }
    val expected = (0 until 70).map(i => i.toLong -> dvec(i.toLong).head).toMap
    val swept = sweep("buildGraphAt rebuild")(fixture)(root =>
      Ann.buildGraphAt(s2, root))(expected,
      fingerprint = adjacency,
      reader = ServeIdentical, graphReader = false)
    assert(swept >= 4, s"graph-rebuild sweep covered only $swept points")
  }

  test("bulk graph rebuild REPLACES the folded adjacency — no stale serve edges") {
    // semantic pin for the non-crash path: after compaction folded the
    // old adjacency into _graph_serve, a rebuild must serve exactly
    // what a fresh build over the same docs serves — the old fold must
    // not linger in the union
    val root = s"/tmp/graft_graphrebuild_sem_${System.nanoTime()}"
    val fresh = s"/tmp/graft_graphrebuild_ref_${System.nanoTime()}"
    try {
      mkArtifact(root, 0 until 60)
      Ann.buildGraphAt(s2, root)
      Ann.compactGraphAt(s2, root)
      Ann.addVectors(s2, root, spark.createDataset(rows(60 until 70)))
      Ann.snapshotIndex(s2, root)
      Ann.buildGraphAt(s2, root) // the rebuild under test
      // reference: same docs, built once, never compacted
      mkArtifact(fresh, 0 until 60)
      Ann.addVectors(s2, fresh, spark.createDataset(rows(60 until 70)))
      Ann.buildGraphAt(s2, fresh)
      assert(adjacency(root) == adjacency(fresh),
        "rebuild did not replace the folded adjacency")
      assertFsckGreen(root, "post-rebuild")
    } finally { rm(root); rm(fresh) }
  }

  test("mid-rebuild graph fold: every served edge is real; the fold rank-dominates the fresh adjacency") {
    // VERDICT r14 next #6 — the documented quality wart, now a PINNED
    // CONTRACT: a reader during buildGraphAt-as-rewrite (fresh `_graph`
    // written, folded `_graph_serve` not yet dropped) serves a fold of
    // stale ∪ fresh candidate edges. The contract this pins:
    //  (a) every served edge is REAL — both ends live docs, src ≠ dst,
    //      at most one rank per (src, dst);
    //  (b) old-edges-acceptable with a FLOOR: per src, the fold's
    //      rank-wise edge scores (deterministic exact dots, recomputed
    //      here) DOMINATE the completed rebuild's — top-d over a
    //      superset of candidates can never rank worse than top-d over
    //      the fresh subset, so refinement seeded by the fold never
    //      loses recall vs refinement seeded by the fresh graph.
    // (On an artifact whose docs changed since the fold, a stale dst
    // may be compacted away — the refined search's rescore join drops
    // it; HERE docs are invariant across the rebuild, so liveness is
    // assertable exactly.)
    val root = s"/tmp/graft_graphfold_${System.nanoTime()}"
    def graphParts(): Set[String] = {
      val g = new org.apache.hadoop.fs.Path(s"$root/_graph")
      if (!fs.exists(g)) Set.empty
      else fs.listStatus(g).map(_.getPath.getName).filter(_.startsWith("part-")).toSet
    }
    try {
      mkArtifact(root, 0 until 60)
      Ann.buildGraphAt(s2, root)
      Ann.compactGraphAt(s2, root) // folded serve = the pre-rebuild adjacency
      Ann.addVectors(s2, root, spark.createDataset(rows(60 until 70)))
      Ann.snapshotIndex(s2, root)
      val emb = s2.read.parquet(root)
        .select($"doc_id", $"embedding").as[(Long, Array[Float])]
        .collect().toMap
      def dot(a: Long, b: Long): Double =
        emb(a).zip(emb(b)).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val staleParts = graphParts()
      // walk the rebuild's fault points to the wart state: fresh _graph
      // landed (part files differ), folded _graph_serve still present
      var k = 0
      var atWart = false
      while (!atWart) {
        assert(k < 100, "no wart state found — did the rebuild choreography change?")
        Faults.arm(k)
        val crashed =
          try { Ann.buildGraphAt(s2, root); false }
          catch { case _: Faults.InjectedCrash => true }
        Faults.disarm()
        assert(crashed, s"rebuild completed at k=$k before any wart state appeared")
        atWart = graphParts().nonEmpty && graphParts() != staleParts &&
          fs.exists(new org.apache.hadoop.fs.Path(s"$root/_graph_serve/_SUCCESS"))
        if (!atWart) {
          // undo partial damage deterministically: retry to completion,
          // then re-establish the folded pre-rebuild serve for the next k
          Ann.buildGraphAt(s2, root)
          Ann.compactGraphAt(s2, root)
          k += 1
        }
      }
      val foldServed = adjacency(root) // the wart-state read
      // (a) every edge real, one rank per (src, dst)
      foldServed.groupBy(e => (e._1, e._3)).foreach { case (sd, es) =>
        assert(es.size == 1, s"edge $sd served at ${es.size} ranks in the fold")
      }
      foldServed.foreach { case (src, _, dst) =>
        assert(emb.contains(src) && emb.contains(dst) && src != dst,
          s"fold served a non-live or self edge ($src -> $dst)")
      }
      // (b) rank dominance vs the COMPLETED rebuild (the retry finishes
      // the crashed verb; existing sweeps pin retry == crash-free)
      Ann.buildGraphAt(s2, root)
      val freshServed = adjacency(root)
      val foldBySrc = foldServed.groupBy(_._1).view
        .mapValues(_.toSeq.map(e => dot(e._1, e._3)).sorted.reverse).toMap
      val freshBySrc = freshServed.groupBy(_._1).view
        .mapValues(_.toSeq.map(e => dot(e._1, e._3)).sorted.reverse).toMap
      freshBySrc.foreach { case (src, fScores) =>
        val wScores = foldBySrc.getOrElse(src,
          fail(s"src $src present in the fresh adjacency but absent from the fold"))
        fScores.zip(wScores).zipWithIndex.foreach { case ((f, w), rnk) =>
          assert(w >= f - 1e-9,
            s"fold ranks WORSE than fresh at src=$src rnk=$rnk: $w < $f — " +
              "the fold lost a candidate the fresh build has")
        }
      }
      assertFsckGreen(root, "post-retry after the wart observation")
    } finally rm(root)
  }

  test("a crashed split survives an INTERLEAVED append before its retry (heterogeneous sweep)") {
    // the r13 review's data-loss scenario: rebalance crashes mid-split,
    // and the next verb is NOT the retry but an addVectors — which
    // assigns against whatever quantizer is live and may recreate a
    // partition whose only rollback copy sits retired. The
    // `_reshard_pending` marker routes every mutator entry through
    // recoverResharding first, so the append always acts on a healed
    // artifact. Swept at EVERY fault point of the split.
    val delta = (0 until 10).map(i =>
      (5000L + i, near(0, 4 + i % 3, 0.33f), i % 3))
    heteroSweep(
      "append",
      root => Ann.addVectors(s2, root, spark.createDataset(delta)),
      baseHeads ++ delta.map { case (id, v, _) => id -> v.head })
  }

  /** Shared driver for the heterogeneous sweeps: crash the split at
    * every fault point, interleave `foreign` (a DIFFERENT mutator), then
    * retry the split and assert the final doc state + green fsck. The
    * quantizer fingerprint is deliberately NOT compared: the interleaved
    * mutation legitimately changes what the retry trains on. */
  private def heteroSweep(
      name: String, foreign: String => Unit, expected: Map[Long, Float]): Unit = {
    var n = 0
    def fixture(): String = {
      val root = s"/tmp/graft_sweep_hetero_${name}_${System.nanoTime()}_$n"
      n += 1
      val cents = Array.tabulate(4)(c => (c.toLong, unit(c)))
      val hot = (0 until 120).map(i =>
        (i.toLong, near(0, 4 + i % 3, 0.35f + 0.01f * (i % 5)), i % 3))
      val cold = (0 until 60).map(i =>
        (1000L + i, near(1 + i % 3, 7, 0.2f), i % 3))
      Ann.writeIndexArtifact(spark, root, spark.createDataset(hot ++ cold), cents)
      root
    }
    // the split's two worlds for the pre-foreign reader check: the
    // fixture is deterministic, so one extra crash-free run pins them
    val (splitOld, splitNew) = {
      val root = fixture()
      val so = serveState(root)
      Ann.rebalanceIndex(s2, root, tau = 2.0)
      val sn = serveState(root)
      rm(root)
      (so, sn)
    }
    var k = 0
    var done = false
    while (!done) {
      assert(k < 200, s"runaway $name heterogeneous sweep")
      val root = fixture()
      Faults.arm(k)
      val crashed =
        try { Ann.rebalanceIndex(s2, root, tau = 2.0); false }
        catch { case _: Faults.InjectedCrash => true }
      Faults.disarm()
      // a reader landing BETWEEN the crash and the foreign verb serves
      // one complete world (VERDICT r13 next #6), and fsck completes
      if (crashed) {
        checkServe(s"$name hetero crash@$k (pre-foreign reader)",
          serveState(root), splitOld, splitNew, ServeOldOrNew)
        Ann.fsck(s2, root)
      }
      foreign(root)
      if (crashed) Ann.rebalanceIndex(s2, root, tau = 2.0)
      assert(state(root) == expected,
        s"$name hetero crash@$k: rows lost/duplicated/stale/resurrected")
      assertFsckGreen(root, s"$name hetero crash@$k")
      rm(root)
      if (!crashed) done = true
      k += 1
    }
    info(s"$name heterogeneous sweep: ${k - 1} fault points")
  }

  private def baseHeads: Map[Long, Float] =
    ((0 until 120).map(i => i.toLong -> near(0, 4 + i % 3, 0.35f + 0.01f * (i % 5)).head) ++
      (0 until 60).map(i => (1000L + i) -> near(1 + i % 3, 7, 0.2f).head)).toMap

  test("a crashed split survives an interleaved DELETE before its retry") {
    // r13 third review: deleteFromIndexAt was the one mutator with no
    // recovery at entry — its tombstones could key on minted cids of an
    // uncommitted split, which the rollback erased and the next
    // compaction then cleared-without-reclaiming (resurrection)
    val deleted = (0 until 120).filter(_ % 5 == 2).map(_.toLong).toSet
    heteroSweep(
      "delete",
      root => Ann.deleteFromIndexAt(s2, root,
        col("doc_id") < 120 && col("doc_id") % 5 === 2),
      baseHeads -- deleted)
  }

  test("a crashed split survives an interleaved UPSERT before its retry") {
    // r13 third review: upsertVectors computed `existing` (the tombstone
    // source) before any resharding recovery ran
    val batch = (0 until 10).map(i => (i.toLong, near(0, 4 + i % 3, 0.5f), 7)) ++
      (0 until 10).map(i => (7000L + i, near(0, 5, 0.3f), 7))
    heteroSweep(
      "upsert",
      root => Ann.upsertVectors(s2, root, spark.createDataset(batch)),
      baseHeads ++ batch.map { case (id, v, _) => id -> v.head })
  }

  test("recenter-only drift repair (all k=1, nothing retired) converges at every fault point") {
    // the staged-base roll-forward keys commitment off the retired dir;
    // a recenter-only repair retires nothing, so a crash between its two
    // sidecar swaps deletes the staged base as uncommitted — this sweep
    // pins the documented convergence-by-re-repair (stale base keeps the
    // lists flagged; k=1 recenters are idempotent)
    var n = 0
    def fixture(): String = {
      val root = s"/tmp/graft_sweep_recenter_${System.nanoTime()}_$n"
      n += 1
      val cents = Array.tabulate(4)(c => (c.toLong, unit(c)))
      // tiny list 0 (10) among big lists (500 each): a 10-doc pileup
      // flags ONLY list 0 (the big lists' share moves < 5 per mille) and
      // k = ceil(20 / 380) = 1 — recenter, no mint
      val base = (0 until 10).map(i => (i.toLong, near(0, 4 + i % 3, 0.25f), i % 3)) ++
        (0 until 3).flatMap(c => (0 until 500).map(i =>
          ((c + 1) * 10000L + i, near(c + 1, 4 + i % 3, 0.25f), i % 3)))
      Ann.writeIndexArtifact(spark, root, spark.createDataset(base), cents)
      Ann.writeDriftBase(spark, root)
      Ann.addVectors(s2, root, spark.createDataset(
        (0 until 10).map(i => (90000L + i, near(0, 4 + i % 3, 0.35f), i % 3))))
      root
    }
    val expected =
      ((0 until 10).map(i => i.toLong -> near(0, 4 + i % 3, 0.25f).head) ++
        (0 until 3).flatMap(c => (0 until 500).map(i =>
          ((c + 1) * 10000L + i) -> near(c + 1, 4 + i % 3, 0.25f).head)) ++
        (0 until 10).map(i => (90000L + i) -> near(0, 4 + i % 3, 0.35f).head)).toMap
    val swept = sweep("repairDrifted-recenterOnly")(fixture)(root => {
      val repaired = Ann.repairDrifted(s2, root)
      assert(repaired == Seq(0L) || repaired.isEmpty,
        s"fixture drifted more than list 0: $repaired")
      ()
    })(expected, fingerprint = quantizerIds)
    assert(swept >= 8, s"recenter-only sweep covered only $swept points")
  }

  test("pending tombstones survive a split: deleted docs never resurrect") {
    // r13 review: tombstones key on (doc, centroid_id); a split moving
    // rows to minted sub-lists while the tombstone still names the old
    // cid would let the next compaction 'apply' nothing, clear the set,
    // and resurrect the deleted docs. The verbs now apply pending
    // tombstones BEFORE any row changes centroid_id.
    val root = s"/tmp/graft_sweep_tombsplit_${System.nanoTime()}"
    try {
      val cents = Array.tabulate(4)(c => (c.toLong, unit(c)))
      val hot = (0 until 120).map(i =>
        (i.toLong, near(0, 4 + i % 3, 0.35f + 0.01f * (i % 5)), i % 3))
      val cold = (0 until 60).map(i =>
        (1000L + i, near(1 + i % 3, 7, 0.2f), i % 3))
      Ann.writeIndexArtifact(spark, root, spark.createDataset(hot ++ cold), cents)
      // delete a third of the hot list, then split it with the
      // tombstones still pending
      Ann.deleteFromIndexAt(s2, root, col("doc_id") < 120 && col("doc_id") % 3 === 1)
      val r = Ann.rebalanceIndex(s2, root, tau = 2.0)
      assert(r.splitLists.nonEmpty,
        s"fixture failed to trigger a split: sizes=${r.listSizesBefore}")
      val deleted = (0 until 120).filter(_ % 3 == 1).map(_.toLong).toSet
      def liveDocs() = state(root).keySet
      assert(liveDocs().intersect(deleted).isEmpty,
        "deleted docs still served after the split")
      // a later compaction must not resurrect them either
      Ann.compactIndexAt(s2, root)
      assert(liveDocs().intersect(deleted).isEmpty,
        "deleted docs resurrected by the post-split compaction")
      assertFsckGreen(root, "tombstones-then-split")
    } finally rm(root)
  }

  test("drift repair (k>1 split + k=1 recenters) converges from a crash at every fault point") {
    var n = 0
    val fixture = () => {
      val root = s"/tmp/graft_sweep_repair_${System.nanoTime()}_$n"
      n += 1
      // 4 balanced lists of 20, then a 150-doc pileup in list 0's
      // region: list 0 flags with k = ceil(170/57.5) = 3 (true split),
      // lists 1-3 flag with k = 1 (in-place recenters)
      val cents = Array.tabulate(4)(c => (c.toLong, unit(c)))
      val base = (0 until 4).flatMap(c =>
        (0 until 20).map(i => (c * 1000L + i, near(c, 4 + i % 3, 0.25f), i % 3)))
      Ann.writeIndexArtifact(spark, root, spark.createDataset(base), cents)
      Ann.writeDriftBase(spark, root)
      Ann.snapshotIndex(s2, root) // the re-manifest path must be exercised
      Ann.addVectors(s2, root, spark.createDataset(
        (0 until 150).map(i =>
          (10000L + i, near(0, 4 + i % 3, 0.35f + 0.01f * (i % 5)), i % 3))))
      root
    }
    val expected = {
      val base = (0 until 4).flatMap(c =>
        (0 until 20).map(i => (c * 1000L + i) -> near(c, 4 + i % 3, 0.25f).head))
      val piled = (0 until 150).map(i =>
        (10000L + i) -> near(0, 4 + i % 3, 0.35f + 0.01f * (i % 5)).head)
      (base ++ piled).toMap
    }
    val swept = sweep("repairDrifted")(fixture)(root =>
      { Ann.repairDrifted(s2, root); () })(
      expected, fingerprint = quantizerIds)
    assert(swept >= 10, s"repair sweep covered only $swept points")
  }

  test("shard merge converges from a crash at every fault point") {
    var n = 0
    val fixture = () => {
      val root = s"/tmp/graft_sweep_merge_${System.nanoTime()}_$n"
      n += 1
      mkArtifact(s"$root/a", 0 until 30)
      mkArtifact(s"$root/b", 30 until 60)
      root
    }
    val expected = (0 until 60).map(i => i.toLong -> dvec(i.toLong).head).toMap
    // ServeSkip: merge is a CONSTRUCTION verb — dest is not a serving
    // surface until the verb returns (production serving rides the alias
    // cutover, pinned old-or-new by v57); shards are drained by contract
    val swept = sweep("mergeIndexArtifacts")(fixture)(root =>
      Ann.mergeIndexArtifacts(spark, s"$root/merged", Seq(s"$root/a", s"$root/b")))(
      expected, artifact = root => s"$root/merged", reader = ServeSkip)
    assert(swept >= 6, s"merge sweep covered only $swept points")
  }
}
