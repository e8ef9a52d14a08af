package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Faults}

/** LIVE reader-vs-writer concurrency (round 14): the crash sweep pins
  * what a reader serves at every quiescent CRASH STATE (the verb died,
  * nothing is moving); this spec pins the same contracts while the verb
  * is ACTUALLY RUNNING on another thread — Spark read jobs interleaving
  * with the mutator's rename/delete choreography at real timing, the
  * case no fault-point enumeration can reproduce. `Faults.slow` widens
  * each inter-operation window (mutator thread only) so a serving-path
  * Spark job reliably lands inside the verb; every observation is then
  * checked against the verb's declared reader contract:
  *
  *  - compaction: the masked view is INVARIANT — every live observation
  *    must equal it bit-for-bit;
  *  - upsert: untouched docs identical at every observation; a batch
  *    doc serves old, new, or absent (between the delete sub-commit and
  *    the insert sub-commit) — never both, never torn;
  *  - rebalance: complete-old or complete-new, never a mixture.
  *
  * Observations are asserted UNCONDITIONALLY (any torn read fails, no
  * matter when it landed); genuine overlap is required in aggregate —
  * rounds repeat on fresh artifacts until enough observations finished
  * strictly inside a running verb.
  */
class AnnLiveConcurrencySpec extends SparkSpec {

  import spark.implicits._

  private lazy val s2 = {
    val s = spark.newSession()
    Functions.register(s)
    s.conf.set(Ann.IndexRootConf,
      java.nio.file.Files.createTempDirectory("graft_live_root").toString)
    s
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private def rm(p: String): Unit = { fs.delete(new org.apache.hadoop.fs.Path(p), true); () }

  // the crash sweep's tiny deterministic corpus shape
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

  /** Attempts across all serves — `attempts - serves` = how many times
    * the listing race actually fired and the retry healed it. */
  private var serveAttempts = 0
  private var serveCalls = 0

  /** The served universe (doc_id -> score) through the REAL serving
    * plan, failing loudly on a doc served at two ranks. The plan is
    * built INSIDE the retry body: a live read racing a swap re-plans
    * against the fresh listing (Ann.withLiveReadRetry — the fix this
    * spec's first red run forced). */
  private def serveState(path: String): Map[Long, Double] = {
    import s2.implicits._
    serveCalls += 1
    val rows = Ann.withLiveReadRetry() {
      serveAttempts += 1
      val q = Array((9000000L, Array.fill(dim)((1.0 / math.sqrt(dim)).toFloat)))
      Ann.search(s2, Ann.Latest(path), q, k = 4000, nProbe = 64, maskTombstones = true)
        .select($"doc_id", $"score").as[(Long, Double)].collect()
    }
    val dups = rows.groupBy(_._1).filter(_._2.length > 1).keys
    assert(dups.isEmpty, s"live serve($path): docs at MULTIPLE ranks: ${dups.take(5)}")
    rows.toMap
  }

  /** Runs `verb` on a background thread with every fault point slowed
    * by `slowMs`, while THIS thread snapshots the serving path in a
    * tight loop. Returns (observations, mid) where `mid` counts
    * observations that STARTED AND FINISHED while the verb was alive —
    * the strict-overlap evidence the test accumulates across rounds. */
  private def race(
      root: String, slowMs: Long)(verb: => Unit): (Seq[Map[Long, Double]], Int) = {
    Faults.slow(slowMs)
    try {
      @volatile var err: Throwable = null
      val t = new Thread(() => try verb catch { case e: Throwable => err = e })
      val obs = scala.collection.mutable.ArrayBuffer[Map[Long, Double]]()
      var mid = 0
      t.start()
      while (t.isAlive) {
        val o = serveState(root)
        obs += o
        if (t.isAlive) mid += 1
      }
      t.join()
      if (err != null) throw err
      (obs.toSeq, mid)
    } finally Faults.fast()
  }

  // every test exits its round loop as soon as NeedMid strict-overlap
  // observations accumulated, so MaxRounds only bounds the UNLUCKY tail
  // — at 8 the graph-compaction variant measured ~2% flake (a round
  // yields 0 mids when the verb finishes inside the reader's first
  // observation; r15 reproduced "only 2 over 8 rounds" twice on an idle
  // host). 24 keeps green runs exactly as cheap and pushes the
  // all-rounds-unlucky tail below noise.
  private val MaxRounds = 24
  private val NeedMid = 3

  test("live compaction: every concurrent observation serves the invariant masked view") {
    var mids = 0
    var rounds = 0
    while (mids < NeedMid && rounds < MaxRounds) {
      val root = s"/tmp/graft_live_compact_${System.nanoTime()}"
      try {
        mkArtifact(root, 0 until 60)
        Ann.snapshotIndex(s2, root)
        Ann.deleteFromIndexAt(s2, root, col("doc_id") % 4 === 1)
        val masked = serveState(root)
        val (obs, mid) = race(root, 40) { Ann.compactIndexAt(s2, root) }
        obs.zipWithIndex.foreach { case (o, i) =>
          assert(o == masked,
            s"round $rounds obs $i: live reader torn during compaction — " +
              s"missing=${(masked.keySet -- o.keySet).take(5)}, " +
              s"extra=${(o.keySet -- masked.keySet).take(5)}")
        }
        val expected = (0 until 60).filter(_ % 4 != 1)
          .map(i => i.toLong -> dvec(i.toLong).head).toMap
        assert(state(root) == expected, s"round $rounds: post-verb state != oracle")
        assertFsckGreen(root, s"round $rounds post-compaction")
        mids += mid
        rounds += 1
      } finally rm(root)
    }
    assert(mids >= NeedMid,
      s"only $mids strictly-mid-verb observations over $rounds rounds — " +
        "the race never overlapped; raise Faults.slow")
    info(s"compaction: $mids mid-verb observations over $rounds rounds, all invariant; " +
      s"listing races healed so far: ${serveAttempts - serveCalls}")
  }

  test("live upsert: untouched docs identical; a batch doc serves old, new or absent") {
    val touched = ((0 until 10) ++ (60 until 70)).map(_.toLong).toSet
    var mids = 0
    var rounds = 0
    while (mids < NeedMid && rounds < MaxRounds) {
      val root = s"/tmp/graft_live_upsert_${System.nanoTime()}"
      try {
        mkArtifact(root, 0 until 60)
        val old = serveState(root)
        val batch = (0 until 10).map(i => (i.toLong, dvec(i.toLong).map(-_), 9)) ++
          rows(60 until 70)
        val (obs, mid) = race(root, 40) {
          Ann.upsertVectors(s2, root, spark.createDataset(batch))
        }
        val nw = serveState(root)
        obs.zipWithIndex.foreach { case (o, i) =>
          (old.keySet ++ nw.keySet ++ o.keySet).foreach { id =>
            if (!touched(id))
              assert(o.get(id) == old.get(id),
                s"round $rounds obs $i: UNTOUCHED doc $id served ${o.get(id)} " +
                  s"instead of ${old.get(id)}")
            else {
              val allowed: Set[Option[Double]] = Set(old.get(id), nw.get(id), None)
              assert(allowed.contains(o.get(id)),
                s"round $rounds obs $i: touched doc $id served ${o.get(id)}, " +
                  s"allowed $allowed")
            }
          }
        }
        val expected = (10 until 60).map(i => i.toLong -> dvec(i.toLong).head).toMap ++
          (0 until 10).map(i => i.toLong -> -dvec(i.toLong).head).toMap ++
          (60 until 70).map(i => i.toLong -> dvec(i.toLong).head).toMap
        assert(state(root) == expected, s"round $rounds: post-verb state != oracle")
        assertFsckGreen(root, s"round $rounds post-upsert")
        mids += mid
        rounds += 1
      } finally rm(root)
    }
    assert(mids >= NeedMid,
      s"only $mids strictly-mid-verb observations over $rounds rounds")
    info(s"upsert: $mids mid-verb observations over $rounds rounds, none torn")
  }

  /** Same observation through the graph-refined serving path. */
  private def graphServeState(path: String): Map[Long, Double] = {
    import s2.implicits._
    serveCalls += 1
    val rows = Ann.withLiveReadRetry() {
      serveAttempts += 1
      val q = Array((9000000L, Array.fill(dim)((1.0 / math.sqrt(dim)).toFloat)))
      Ann.graphRefinedSearch(s2, Ann.Latest(path), q, k = 4000, nProbe = 64, seedK = 4000,
        maskTombstones = true)
        .select($"doc_id", $"score").as[(Long, Double)].collect()
    }
    val dups = rows.groupBy(_._1).filter(_._2.length > 1).keys
    assert(dups.isEmpty, s"live graph serve($path): docs at MULTIPLE ranks: ${dups.take(5)}")
    rows.toMap
  }

  /** [[race]] with the graph-refined reader instead. */
  private def raceGraph(
      root: String, slowMs: Long)(verb: => Unit): (Seq[Map[Long, Double]], Int) = {
    Faults.slow(slowMs)
    try {
      @volatile var err: Throwable = null
      val t = new Thread(() => try verb catch { case e: Throwable => err = e })
      val obs = scala.collection.mutable.ArrayBuffer[Map[Long, Double]]()
      var mid = 0
      t.start()
      while (t.isAlive) {
        val o = graphServeState(root)
        obs += o
        if (t.isAlive) mid += 1
      }
      t.join()
      if (err != null) throw err
      (obs.toSeq, mid)
    } finally Faults.fast()
  }

  test("live graph compaction: the graph-refined reader is invariant across the fold") {
    // the fold is semantics-preserving (graphServing folds the tail at
    // read time already) — every live observation through the
    // graph-refined path must be bit-identical, with the reader's own
    // recoverGraphServe racing the verb's aside-swap under the JVM lock
    var mids = 0
    var rounds = 0
    while (mids < NeedMid && rounds < MaxRounds) {
      val root = s"/tmp/graft_live_graphcompact_${System.nanoTime()}"
      try {
        mkArtifact(root, 0 until 60)
        Ann.buildGraphAt(s2, root)
        Ann.compactGraphAt(s2, root)
        Ann.addVectors(s2, root, spark.createDataset(rows(60 until 70)))
        Ann.addToGraphAt(s2, root, spark.createDataset(rows(60 until 70)))
        Ann.snapshotIndex(s2, root)
        val invariant = graphServeState(root)
        val (obs, mid) = raceGraph(root, 40) { Ann.compactGraphAt(s2, root) }
        obs.zipWithIndex.foreach { case (o, i) =>
          assert(o == invariant,
            s"round $rounds obs $i: graph-refined reader torn during graph compaction — " +
              s"missing=${(invariant.keySet -- o.keySet).take(5)}, " +
              s"extra=${(o.keySet -- invariant.keySet).take(5)}")
        }
        assertFsckGreen(root, s"round $rounds post-graph-compaction")
        mids += mid
        rounds += 1
      } finally rm(root)
    }
    assert(mids >= NeedMid,
      s"only $mids strictly-mid-verb observations over $rounds rounds")
    info(s"graph compaction: $mids mid-verb observations over $rounds rounds, all invariant; " +
      s"listing races healed so far: ${serveAttempts - serveCalls}")
  }

  test("fsck is TOTAL under live mutation: always returns a report, never throws") {
    // an operator points fsck at a LIVE system — while a compaction's
    // swap churns the very files fsck scans, every call must return a
    // report (red entries mid-verb are honest state: debris present, a
    // racing scan reported as not-certifiable), never throw. Quiesced
    // again, fsck must certify green.
    var rounds = 0
    var liveReports = 0
    while (liveReports < NeedMid && rounds < MaxRounds) {
      val root = s"/tmp/graft_live_fsck_${System.nanoTime()}"
      try {
        mkArtifact(root, 0 until 60)
        Ann.buildGraphAt(s2, root)
        Ann.snapshotIndex(s2, root)
        Ann.deleteFromIndexAt(s2, root, col("doc_id") % 4 === 1)
        // fsck (many scans) outlives a lightly-slowed verb — widen the
        // verb so each STARTED-while-alive fsck call overlaps a
        // still-mutating choreography for hundreds of ms (the
        // finished-while-alive criterion the serve probes use is
        // unreachable here: one fsck outlasts the whole verb)
        Faults.slow(150)
        try {
          @volatile var err: Throwable = null
          val t = new Thread(() =>
            try Ann.compactIndexAt(s2, root) catch { case e: Throwable => err = e })
          t.start()
          while (t.isAlive) {
            liveReports += 1 // loop entry implies the verb is mid-flight
            val report = Ann.fsck(s2, root) // must not throw
            assert(report.nonEmpty && report.head.check == "artifact_present",
              s"round $rounds: fsck returned a malformed report: $report")
          }
          t.join()
          if (err != null) throw err
        } finally Faults.fast()
        // quiesced: the compaction reclaimed deleted docs the graph
        // still references — exactly the state graph_endpoints_resolve
        // exists to catch, and the ONLY red allowed
        val bad = Ann.fsck(s2, root).filterNot(_.ok).map(_.check)
        assert(bad == Seq("graph_endpoints_resolve"),
          s"round $rounds quiesced: unexpected fsck state: $bad")
        // the check's documented remedy is a rebuild; after it the
        // artifact certifies fully green
        Ann.buildGraphAt(s2, root)
        assertFsckGreen(root, s"round $rounds post-rebuild")
        rounds += 1
      } finally rm(root)
    }
    assert(liveReports >= NeedMid,
      s"only $liveReports live-started fsck reports over $rounds rounds")
    info(s"fsck: $liveReports mid-verb reports over $rounds rounds, all total")
  }

  // planted-skew fixture (the rebalance sweep's shape at dim 8)
  private def near(axis: Int, tilt: Int, w: Float): Array[Float] = {
    val v = unit(axis)
    v(tilt) = w
    val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x)).toFloat
    v.map(_ / n)
  }

  test("withLiveReadRetry: a persistently-missing file fails loudly, transient races heal") {
    // ADVICE r14 #2: isListingRace treated ANY FileNotFoundException as
    // a transient rename race, so a file that is GENUINELY gone
    // (external deletion, manifest bug) yielded silently partial
    // results after the bounded retries. A fresh re-plan re-lists the
    // live state, so a renamed-away file cannot recur in it — the SAME
    // path missing on consecutive attempts must rethrow.
    def fnf(p: String) = new java.io.FileNotFoundException(
      s"File file:$p does not exist")
    // transient: two DIFFERENT files race in sequence, third attempt wins
    var calls = 0
    val healed = Ann.withLiveReadRetry(attempts = 5) {
      calls += 1
      if (calls == 1) throw fnf("/idx/centroid_id=0/part-a.parquet")
      if (calls == 2) throw fnf("/idx/centroid_id=1/part-b.parquet")
      42
    }
    assert(healed == 42 && calls == 3)
    // persistent: the SAME file missing twice in a row is not a race
    calls = 0
    val e = intercept[IllegalStateException] {
      Ann.withLiveReadRetry(attempts = 5) {
        calls += 1
        throw fnf("/idx/centroid_id=0/part-gone.parquet")
      }
    }
    assert(e.getMessage.contains("persistently missing"), e.getMessage)
    assert(e.getMessage.contains("part-gone.parquet"), e.getMessage)
    assert(calls == 2, s"persistent-missing must fail on the SECOND sighting, not $calls")
    // non-race exceptions pass straight through
    intercept[IllegalArgumentException] {
      Ann.withLiveReadRetry(attempts = 5) {
        throw new IllegalArgumentException("not a listing race")
      }
    }
    // the key extractor reads the path out of Spark's wrapped form too
    val wrapped = new RuntimeException(
      "[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error while reading file " +
        "file:/idx/centroid_id=2/part-c.parquet. It is possible the underlying files have been updated.")
    assert(Ann.listingRaceKey(wrapped) == "file:/idx/centroid_id=2/part-c.parquet",
      Ann.listingRaceKey(wrapped))
    assert(Ann.listingRaceKey(new IllegalArgumentException("no race here")) == null)
  }

  test("add-first swap: a minted-name collision fails loudly instead of keeping a stale file") {
    // ADVICE r14 #4: step 1's skip-if-present made 'already renamed'
    // (retry idempotence) indistinguishable from a minted live name
    // colliding with an existing file — the collision silently kept the
    // stale file as the survivor. dst-exists is only idempotent when
    // the SOURCE is gone.
    val root = s"/tmp/graft_mintcollide_${System.nanoTime()}"
    val side = s"${root}_compacting"
    val hfs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def write(p: String, body: String): Unit = {
      val out = hfs.create(new org.apache.hadoop.fs.Path(p), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    try {
      // live partition already holds the MINTED name; side still holds src
      write(s"$root/centroid_id=0/part-r1-x.parquet", "stale")
      write(s"$side/centroid_id=0/part-x.parquet", "fresh")
      write(s"$side/_MINTED", "centroid_id=0\tpart-x.parquet\tpart-r1-x.parquet")
      val e = intercept[IllegalArgumentException] {
        Ann.addFirstSwap(hfs, root, side)
      }
      assert(e.getMessage.contains("minted-name collision"), e.getMessage)
      // retry idempotence is untouched: with the src gone, dst-exists is
      // the completed rename and the swap proceeds
      hfs.delete(new org.apache.hadoop.fs.Path(s"$side/centroid_id=0/part-x.parquet"), false)
      Ann.addFirstSwap(hfs, root, side) // must not throw
    } finally {
      hfs.delete(new org.apache.hadoop.fs.Path(root), true)
      hfs.delete(new org.apache.hadoop.fs.Path(side), true)
      ()
    }
  }

  test("live rebalance: every concurrent observation is complete-old or complete-new") {
    var mids = 0
    var rounds = 0
    while (mids < NeedMid && rounds < MaxRounds) {
      val root = s"/tmp/graft_live_rebalance_${System.nanoTime()}"
      try {
        val cs = Array.tabulate(4)(c => (c.toLong, unit(c)))
        val hot = (0 until 120).map(i =>
          (i.toLong, near(0, 4 + i % 3, 0.35f + 0.01f * (i % 5)), i % 3))
        val cold = (0 until 60).map(i =>
          (1000L + i, near(1 + i % 3, 7, 0.2f), i % 3))
        Ann.writeIndexArtifact(spark, root, spark.createDataset(hot ++ cold), cs)
        val old = serveState(root)
        val (obs, mid) = race(root, 40) { Ann.rebalanceIndex(s2, root, tau = 2.0); () }
        val nw = serveState(root)
        obs.zipWithIndex.foreach { case (o, i) =>
          assert(o == old || o == nw,
            s"round $rounds obs $i: live reader torn during rebalance — " +
              s"vsOld missing=${(old.keySet -- o.keySet).take(5)} " +
              s"extra=${(o.keySet -- old.keySet).take(5)}; " +
              s"vsNew missing=${(nw.keySet -- o.keySet).take(5)} " +
              s"extra=${(o.keySet -- nw.keySet).take(5)}")
        }
        // the verb must not have changed the served universe, only the
        // partitioning (old and new worlds carry identical doc sets)
        assert(old.keySet == nw.keySet, s"round $rounds: rebalance changed the corpus")
        assertFsckGreen(root, s"round $rounds post-rebalance")
        mids += mid
        rounds += 1
      } finally rm(root)
    }
    assert(mids >= NeedMid,
      s"only $mids strictly-mid-verb observations over $rounds rounds")
    info(s"rebalance: $mids mid-verb observations over $rounds rounds, none torn; " +
      s"listing races healed so far: ${serveAttempts - serveCalls}")
  }
}
