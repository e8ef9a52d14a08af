package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, VectorSearch}

/** Index lifecycle (v20/v21): incremental add with a frozen persisted
  * quantizer, logical delete via tombstones, and partition-local
  * physical compaction. All mutation runs under a throwaway index root
  * so the shared registry artifact is never touched. */
class AnnLifecycleSpec extends SparkSpec {

  import spark.implicits._

  // a dedicated session with its own index root: lifecycle mutation
  // (tombstones, compaction) must not leak into the default artifact
  // other specs and the registry serve from
  private lazy val s2 = {
    val s = spark.newSession()
    Functions.register(s)
    s.conf.set(Ann.IndexRootConf,
      java.nio.file.Files.createTempDirectory("graft_lifecycle_root").toString)
    s
  }

  /** The registry query set vec_id < n, driver-held. */
  private def queries(n: Int) = VectorSearch.queryVectors(s2, sf0001, n)

  test("incremental index holds every doc exactly once; quantizer is persisted") {
    val path = Ann.buildIncrementalIndex(s2, sf0001)
    val idx = s2.read.parquet(path)
    val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(idx.count() == n, "base+delta must cover the corpus")
    assert(idx.select("doc_id").distinct().count() == n, "no doc duplicated by the add")
    val cents = s2.read.parquet(s"$path/_centroids")
    assert(cents.count() == Ann.Centroids)
  }

  test("adding the delta never rewrites a base partition file") {
    val path = Ann.buildIncrementalIndex(s2, sf0001)
    // every base partition file predates (or equals) the completion
    // marker, and delta rows land in NEW files: if the add had rewritten
    // the base, file counts per partition would not exceed the base
    // write's one-file-per-task floor with appended extras. Cheap proxy:
    // the delta's docs exist AND the artifact has more data files than
    // centroids touched by a single overwrite would leave behind after a
    // second (no-op) build call.
    val before = new java.io.File(path).listFiles().map(_.getName).toSet
    Ann.buildIncrementalIndex(s2, sf0001) // build-if-absent: must be a no-op
    val after = new java.io.File(path).listFiles().map(_.getName).toSet
    assert(before == after, "second build call must not touch the artifact")
    val delta = s2.read.parquet(path)
      .filter(col("doc_id") % Ann.IncrMod === Ann.IncrRem)
    assert(delta.count() > 0, "delta docs must be present in the merged index")
  }

  test("full-probe incremental search reproduces the exact brute-force top-10") {
    val exact = VectorSearch.searchFrame(spark, sf0001)
      .filter($"rnk" <= 10).select($"query_id", $"doc_id")
    val ann = Ann.search(s2, Ann.Latest(Ann.buildIncrementalIndex(s2, sf0001)), queries(100),
        k = 10,
        nProbe = Ann.Centroids)
      .select($"query_id", $"doc_id")
    assert(ann.join(exact, Seq("query_id", "doc_id")).count() == exact.count())
  }

  test("streaming ingest produces an artifact identical to the batch incremental build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // seed a base-only artifact in its own root, then stream the SAME
    // delta the batch build appends, split across two micro-batches
    val s3 = spark.newSession()
    Functions.register(s3)
    val root = java.nio.file.Files.createTempDirectory("graft_stream_root").toString
    s3.conf.set(Ann.IndexRootConf, root)
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s3.sqlContext
      import s3.implicits._
      val path = s3.conf.get(Ann.IndexRootConf) +
        "/_root_testdata_sf0.001_c32v2_incr"
      Ann.seedBaseIndex(s3, sf0001, path)
      val delta = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .filter(col("vec_id") % Ann.IncrMod === Ann.IncrRem)
        .select(col("vec_id"), col("embedding"), col("label"))
        .as[(Long, Array[Float], Int)].collect().sortBy(_._1)
      val (b1, b2) = delta.splitAt(delta.length / 2)
      val stream = MemoryStream[(Long, Array[Float], Int)]
      val q = Ann.ingestStream(s3, path, stream.toDS())
      try {
        stream.addData(b1.toSeq); q.processAllAvailable()
        stream.addData(b2.toSeq); q.processAllAvailable()
      } finally q.stop()
      // the streamed artifact's assignment is row-for-row the batch one's
      val streamed = s3.read.parquet(path)
        .select($"doc_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      val batch = s2.read.parquet(Ann.buildIncrementalIndex(s2, sf0001))
        .select($"doc_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      assert(streamed == batch, "stream-built index diverges from batch build")
    } finally Memo.drop(s3)
  }

  test("delete: tombstoned docs vanish from a masked search, k stays guaranteed") {
    Ann.buildIndex(s2, sf0001)
    Ann.deleteFromIndex(s2, sf0001, $"doc_id" % 17 === 3)
    val rows = Ann.search(s2, Ann.Session(sf0001), queries(20), k = 10, nProbe = 4,
        maskTombstones = true)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 % 17 != 3), "tombstoned doc served")
    val perQ = rows.groupBy(_._1).values.map(_.length).toSet
    assert(perQ == Set(10), s"k not guaranteed over live universe: $perQ")
  }

  test("compact: space reclaimed partition-locally, results unchanged, tombstones cleared") {
    Ann.buildIndex(s2, sf0001)
    // ensure both a broad delete (many partitions) and the narrow case
    // (a partition left untouched) are exercised: record which centroid
    // partitions carry no tombstones, and their file listings
    Ann.deleteFromIndex(s2, sf0001, $"doc_id" % 17 === 3)
    val path = Ann.buildIndex(s2, sf0001)
    val affected = Ann.tombstones(s2, sf0001)
      .select($"centroid_id").distinct().as[Long].collect().toSet
    val untouched = Ann.resolve(s2, Ann.Session(sf0001)).index
      .select($"centroid_id").distinct().as[Long].collect().toSet -- affected
    val untouchedListings = untouched.map { cid =>
      cid -> new java.io.File(s"$path/centroid_id=$cid").listFiles()
        .map(f => (f.getName, f.lastModified())).toSet
    }.toMap

    val before = Ann.search(s2, Ann.Session(sf0001), queries(20), k = 10, nProbe = 4,
        maskTombstones = true)
      .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet

    Ann.compactIndex(s2, sf0001)

    // tombstone set cleared; deleted rows physically gone
    assert(Ann.tombstones(s2, sf0001).count() == 0)
    assert(Ann.resolve(s2, Ann.Session(sf0001)).index.filter($"doc_id" % 17 === 3).count() == 0)
    // untouched partitions: identical files, untouched mtimes
    untouchedListings.foreach { case (cid, files) =>
      val now = new java.io.File(s"$path/centroid_id=$cid").listFiles()
        .map(f => (f.getName, f.lastModified())).toSet
      assert(now == files, s"partition $cid was rewritten by compaction")
    }
    // search equivalence: post-compaction masked search (no tombstones) and
    // plain search both reproduce the pre-compaction masked result
    val after = Ann.search(s2, Ann.Session(sf0001), queries(20), k = 10, nProbe = 4,
        maskTombstones = true)
      .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
    val plain = Ann.search(s2, Ann.Session(sf0001), queries(20), k = 10, nProbe = 4)
      .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
    assert(after == before, "compaction changed the masked search results")
    assert(plain == before, "post-compaction plain search must equal the masked result")
  }

  test("small-file compaction: fragmented lists coalesce, results identical, untouched lists untouched") {
    val root = s"/tmp/graft_filecompact_${System.nanoTime()}"
    try {
      Ann.seedBaseIndex(s2, sf0001, root)
      // fragment: append the delta in FOUR separate adds (the streaming
      // micro-batch shape) — each touched list gains a file per add
      val delta = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .filter($"vec_id" % Ann.IncrMod === Ann.IncrRem)
        .select($"vec_id", $"embedding", $"label")
        .as[(Long, Array[Float], Int)].collect().sortBy(_._1)
      delta.grouped(math.max(1, delta.length / 4)).foreach { b =>
        Ann.addVectors(s2, root, b.toSeq.toDS())
      }
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(): Map[String, Set[String]] =
        fs.listStatus(new org.apache.hadoop.fs.Path(root))
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("centroid_id="))
          .map(d => d.getPath.getName ->
            fs.listStatus(d.getPath).map(_.getPath.getName).filter(_.startsWith("part-")).toSet)
          .toMap
      val before = files()
      val threshold = 3
      val fragmented = before.filter(_._2.size > threshold).keySet
      assert(fragmented.nonEmpty, "fixture failed to fragment any list")
      val resBefore = Ann.search(s2, Ann.Latest(root), queries(20), k = 10, nProbe = 4,
          maskTombstones = true)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet

      Ann.compactSmallFilesAt(s2, root, maxFilesPerList = threshold)

      val after = files()
      // every fragmented list coalesced to one file; every other list's
      // file set is bit-for-bit untouched (never opened, never renamed)
      fragmented.foreach { d =>
        assert(after(d).size == 1, s"$d still holds ${after(d).size} files")
      }
      (before.keySet -- fragmented).foreach { d =>
        assert(after(d) == before(d), s"untouched list $d was modified")
      }
      val resAfter = Ann.search(s2, Ann.Latest(root), queries(20), k = 10, nProbe = 4,
          maskTombstones = true)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
      assert(resAfter == resBefore, "file compaction changed search results")
    } finally {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }
  }

  test("crashed small-file compaction: a retry heals (never destroys) and re-manifests") {
    val root = s"/tmp/graft_filecompact_recover_${System.nanoTime()}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    try {
      Ann.seedBaseIndex(s2, sf0001, root)
      val v0 = Ann.snapshotIndex(s2, root)
      val clean = s2.read.parquet(root).select($"doc_id").as[Long].collect().toSet
      // craft the exact crash state the old code could not survive: the
      // rewrite wrote one list's coalesced copy (FRESH part names) to the
      // side dir, completed (_SUCCESS), deleted the live partition, then
      // died before the rename — the side dir holds the ONLY copy
      val cid = new java.io.File(root).listFiles()
        .map(_.getName).filter(_.startsWith("centroid_id=")).sorted.head
      val cidVal = cid.stripPrefix("centroid_id=").toLong
      val side = s"${root}_filecompacting"
      s2.read.parquet(root).filter($"centroid_id" === cidVal)
        .select($"doc_id", $"label", $"embedding")
        .coalesce(1).write.parquet(s"$side/$cid")
      fs.create(new org.apache.hadoop.fs.Path(s"$side/_SUCCESS"), true).close()
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$cid"), true)
      assert(s2.read.parquet(root).select($"doc_id").as[Long].collect().toSet != clean,
        "crash state must lose the partition")

      // the RETRY must roll forward first — a blind mode(overwrite) of
      // the side dir here would have destroyed the only copy (ADVICE r12)
      Ann.compactSmallFilesAt(s2, root)

      assert(!fs.exists(new org.apache.hadoop.fs.Path(side)),
        "side dir must be consumed by recovery")
      assert(s2.read.parquet(root).select($"doc_id").as[Long].collect().toSet == clean,
        "recovery lost or duplicated rows")
      // the pre-crash manifest pinned the partition's OLD file names,
      // which the roll-forward replaced: recovery must expire it and
      // re-snapshot so search-as-of latest never reads a missing file
      val vs = Ann.snapshotVersions(s2, root)
      assert(!vs.contains(v0), "stale manifest pinning replaced files must be expired")
      assert(vs.nonEmpty, "recovery must re-snapshot after the roll-forward")
      assert(Ann.resolve(s2, Ann.Version(root, vs.last)).index
        .select($"doc_id").as[Long].collect().toSet == clean,
        "search-as-of latest broken after recovery")
    } finally fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("quantizer drift: planted skewed add flags exactly the drifted lists") {
    val root = s"/tmp/graft_drift_${System.nanoTime()}"
    try {
      Ann.seedBaseIndex(s2, sf0001, root)
      // planted skew: every added vector is a near-copy of ONE existing
      // doc, so the whole delta lands in that doc's list — its share
      // must cross the per-mille threshold while most others drift only
      // by dilution
      val donor = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select($"vec_id", $"embedding", $"label")
        .as[(Long, Array[Float], Int)].head()
      val skew = (0 until 60).map(i => (1000000L + i, donor._2, donor._3))
      Ann.addVectors(s2, root, skew.toDS())
      val idx = s2.read.parquet(root).select($"doc_id", $"centroid_id")
      val drift = Ann.quantizerDriftFrame(idx, col("doc_id") < 1000000L)
        .as[(Long, Long, Long, Int)].collect()
      val flagged = drift.filter(_._4 == 1)
      assert(flagged.nonEmpty, "planted skew did not flag any list")
      // the donor's list is the top-gainer and must be flagged
      val gainer = drift.maxBy(r => r._3 - r._2)
      assert(gainer._4 == 1, s"top-gaining list ${gainer._1} not flagged")
      assert(gainer._3 - gainer._2 == 60, "the skewed delta should all land in one list")
      // a no-drift universe flags nothing: base == full
      val clean = Ann.quantizerDriftFrame(idx.filter($"doc_id" < 1000000L), lit(true))
        .as[(Long, Long, Long, Int)].collect()
      assert(clean.forall(_._4 == 0), "identical universes must not drift")
    } finally {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }
  }

  test("snapshot diff: delta-exact, changed-files-only reads, antisymmetric, empty on self") {
    val root = s"/tmp/graft_snapdiff_${System.nanoTime()}"
    try {
      Ann.seedBaseIndex(s2, sf0001, root)
      assert(Ann.snapshotIndex(s2, root) == 1)
      val deltaIds = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .filter($"vec_id" % Ann.IncrMod === Ann.IncrRem)
        .select($"vec_id").as[Long].collect().toSet
      Ann.addVectors(s2, root,
        spark.read.parquet(s"$sf0001/embeddings.parquet")
          .filter($"vec_id" % Ann.IncrMod === Ann.IncrRem)
          .select($"vec_id", $"embedding", $"label")
          .as[(Long, Array[Float], Int)])
      assert(Ann.snapshotIndex(s2, root) == 2)

      val diff = Ann.diffSnapshots(s2, root, 1, 2)
      val added = diff.filter($"change" === "added").select($"doc_id").as[Long].collect().toSet
      assert(added == deltaIds, "diff must surface exactly the delta rows")
      assert(diff.filter($"change" === "removed").count() == 0,
        "append-only artifact: nothing can be removed between live manifests")

      // O(changed files): the diff read ONLY files in the manifests'
      // symmetric difference — never the base partitions
      // compare plain paths: the manifest records `file:/…` URIs while
      // inputFiles reports `file:///…`
      def norm(f: String) = new java.net.URI(f).getPath
      def dataFiles(v: Int) = Ann.manifestFiles(s2, root, v)
        .filter(_.contains("/centroid_id=")).map(norm).toSet
      val changed = (dataFiles(2) -- dataFiles(1)) ++ (dataFiles(1) -- dataFiles(2))
      val readFiles = diff.inputFiles.map(norm).toSet
      assert(readFiles.nonEmpty && readFiles.subsetOf(changed),
        s"diff read ${readFiles.size} files outside the changed set")
      assert(readFiles.size < dataFiles(2).size,
        "diff must not read the whole v2 file set")

      // antisymmetry and empty self-diff
      val rev = Ann.diffSnapshots(s2, root, 2, 1)
      assert(rev.filter($"change" === "removed").select($"doc_id").as[Long].collect().toSet
        == deltaIds)
      assert(rev.filter($"change" === "added").count() == 0)
      assert(Ann.diffSnapshots(s2, root, 2, 2).count() == 0)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }
  }

  test("alias: cutover swaps serving, rollback restores it, crash leftovers are ignored") {
    val base = s"/tmp/graft_alias_${System.nanoTime()}"
    try {
      Ann.seedBaseIndex(s2, sf0001, s"$base/blue")
      Ann.seedBaseIndex(s2, sf0001, s"$base/green")
      Ann.addVectors(s2, s"$base/green",
        spark.read.parquet(s"$sf0001/embeddings.parquet")
          .filter($"vec_id" % Ann.IncrMod === Ann.IncrRem)
          .select($"vec_id", $"embedding", $"label")
          .as[(Long, Array[Float], Int)])
      val alias = s"$base/serving"
      def served(): Set[(Long, Long, Long)] =
        Ann.search(s2, Ann.Alias(alias), queries(20), k = 10, nProbe = 4, maskTombstones = true)
          .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet

      assert(Ann.setAlias(s2, alias, s"$base/blue") == 1)
      val blueRes = served()
      val direct = Ann.search(s2, Ann.Latest(s"$base/blue"), queries(20), 10, 4,
          maskTombstones = true)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
      assert(blueRes == direct, "alias serving diverged from the target artifact")

      // cutover: one pointer write; the delta becomes visible
      assert(Ann.setAlias(s2, alias, s"$base/green") == 2)
      val greenRes = served()
      assert(greenRes != blueRes, "cutover did not change serving")
      assert(greenRes.exists(_._3 % Ann.IncrMod == Ann.IncrRem),
        "green must serve delta docs")

      // a crashed cutover's tmp leftover must not perturb resolution
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(alias, "_ALIAS_tmp_99"), true).close()
      assert(Ann.resolveAlias(s2, alias) == s"$base/green")

      // rollback is the same operation pointed back — results return
      // EXACTLY to blue's, and the version trail records the history
      assert(Ann.setAlias(s2, alias, s"$base/blue") == 3)
      assert(served() == blueRes, "rollback did not restore blue's results")
      assert(Ann.aliasVersions(s2, alias) == Seq(1, 2, 3))
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
    }
  }

  test("upsert: replaces in place, inserts append-only, idempotent, no live tombstones") {
    val root = s"/tmp/graft_upsert_${System.nanoTime()}"
    try {
      Ann.seedBaseIndex(s2, sf0001, root)
      val baseN = s2.read.parquet(root).count()
      def corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select($"vec_id".as("id"), $"embedding".as("vec"), $"label")
        .as[(Long, Array[Float], Int)]
      val inserts = corpus.filter($"id" % Ann.IncrMod === Ann.IncrRem)
      val nIns = inserts.count()
      val updates = corpus.filter($"id" % 16 === 1)
        .map { case (id, v, l) => (id, v.reverse, l) }
      val updatedIds = updates.map(_._1).collect().toSet

      Ann.upsertVectors(s2, root, inserts.union(updates))

      // counts: inserts add, updates replace — and nothing is duplicated
      val idx = s2.read.parquet(root)
      assert(idx.count() == baseN + nIns)
      assert(idx.select($"doc_id").distinct().count() == baseN + nIns)
      // the stored vector for an updated id IS the new one
      val stored = idx.filter($"doc_id" === updatedIds.min)
        .select($"embedding").as[Array[Float]].head()
      val expected = corpus.filter($"id" === updatedIds.min).head()._2.reverse
      assert(stored.sameElements(expected), "update did not replace the stored vector")
      // physical replace: no tombstone survives an upsert
      assert(Ann.tombstonesAt(s2, root).count() == 0)

      // idempotence: re-upserting the same batch changes nothing served
      val before = Ann.search(s2, Ann.Latest(root), queries(20), 10, 4, maskTombstones = true)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
      Ann.upsertVectors(s2, root, inserts.union(updates))
      val after = Ann.search(s2, Ann.Latest(root), queries(20), 10, 4, maskTombstones = true)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
      assert(after == before, "re-upserting the same batch changed results")

      // a PURE-INSERT upsert never rewrites an existing file (the
      // compaction path is skipped entirely: append-only fast path)
      def files(): Map[String, Long] = {
        val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(root))
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("centroid_id="))
          .flatMap(d => fs.listStatus(d.getPath).map(f =>
            f.getPath.toString -> f.getModificationTime))
          .toMap
      }
      val preFiles = files()
      Ann.upsertVectors(s2, root,
        corpus.filter($"id" % Ann.IncrMod === Ann.IncrRem)
          .map { case (id, v, l) => (id + 5000000L, v, l) })
      val postFiles = files()
      preFiles.foreach { case (f, m) =>
        assert(postFiles.get(f).contains(m), s"pure-insert upsert touched $f")
      }

      // a batch with two rows for one key has no defined winner — the
      // upsert must refuse it BEFORE any mutation
      val countBefore = s2.read.parquet(root).count()
      intercept[IllegalArgumentException] {
        Ann.upsertVectors(s2, root, inserts.union(inserts))
      }
      assert(s2.read.parquet(root).count() == countBefore,
        "rejected duplicate batch still mutated the artifact")
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }
  }

  test("CDC stream ingest: per-batch upserts converge to the batch sequence, last write wins") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s3 = spark.newSession()
    Functions.register(s3)
    val rootS = s"/tmp/graft_cdc_stream_${System.nanoTime()}"
    val rootB = s"/tmp/graft_cdc_batch_${System.nanoTime()}"
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s3.sqlContext
      import s3.implicits._
      Ann.seedBaseIndex(s3, sf0001, rootS)
      Ann.seedBaseIndex(s3, sf0001, rootB)
      def corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select($"vec_id", $"embedding", $"label")
        .as[(Long, Array[Float], Int)]
      val delta = corpus.filter($"vec_id" % Ann.IncrMod === Ann.IncrRem)
        .collect().sortBy(_._1)
      val u = delta.head // this key re-arrives with a NEW vector in batch 2
      val b1 = delta.toSeq
      val b2 = Seq((u._1, u._2.reverse, u._3))

      val stream = MemoryStream[(Long, Array[Float], Int)]
      val q = Ann.ingestStreamUpsert(s3, rootS, stream.toDS())
      try {
        stream.addData(b1); q.processAllAvailable()
        stream.addData(b2); q.processAllAvailable()
      } finally q.stop()

      Ann.upsertVectors(s3, rootB, b1.toDS())
      Ann.upsertVectors(s3, rootB, b2.toDS())

      // last write wins for the re-arrived key, in BOTH artifacts
      Seq(rootS, rootB).foreach { r =>
        val stored = s3.read.parquet(r).filter($"doc_id" === u._1)
          .select($"embedding").as[Array[Float]].collect()
        assert(stored.length == 1, s"$r holds ${stored.length} rows for the re-arrived key")
        assert(stored.head.sameElements(u._2.reverse), s"$r did not converge to the last write")
      }
      // streamed artifact ≡ the batch sequence, row for row
      def rows(r: String) = s3.read.parquet(r)
        .select($"doc_id", $"centroid_id".cast("long")).as[(Long, Long)].collect().toSet
      assert(rows(rootS) == rows(rootB), "CDC stream diverged from the batch upsert sequence")
      assert(Ann.tombstonesAt(s3, rootS).count() == 0)
    } finally {
      Memo.drop(s3)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(rootS), true)
      fs.delete(new org.apache.hadoop.fs.Path(rootB), true)
    }
  }

  test("quantizer sidecar: an interrupted swap is recovered on the next read, both directions") {
    val root = s"/tmp/graft_sidecar_recover_${System.nanoTime()}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(s"$root/$n")
    try {
      Ann.seedBaseIndex(s2, sf0001, root)
      val clean = Ann.search(s2, Ann.Latest(root), queries(10), 5, 4, maskTombstones = true)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet

      // crash between rename-aside and tmp-rename, tmp lost: only
      // _centroids_old remains -> the next read must roll BACK
      assert(fs.rename(p("_centroids"), p("_centroids_old")))
      val rolledBack = Ann.search(s2, Ann.Latest(root), queries(10), 5, 4, maskTombstones = true)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
      assert(rolledBack == clean, "roll-back recovery changed results")
      assert(fs.exists(p("_centroids")) && !fs.exists(p("_centroids_old")))

      // crash with a COMPLETE tmp (swap died between its two renames):
      // the next read must roll FORWARD to the new copy
      assert(fs.rename(p("_centroids"), p("_centroids_tmp")))
      val rolledFwd = Ann.search(s2, Ann.Latest(root), queries(10), 5, 4, maskTombstones = true)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
      assert(rolledFwd == clean, "roll-forward recovery changed results")
      assert(fs.exists(p("_centroids")) && !fs.exists(p("_centroids_tmp")))
    } finally fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("crashed compaction: a completed side dir rolls forward before any mutation") {
    val root = s"/tmp/graft_compact_recover_${System.nanoTime()}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    try {
      Ann.seedBaseIndex(s2, sf0001, root)
      val total = s2.read.parquet(root).count()
      // craft the exact crash state: the swap wrote survivors to the
      // side dir (complete — _SUCCESS) and deleted the live partition,
      // then died before the rename
      val cid = new java.io.File(root).listFiles()
        .map(_.getName).filter(_.startsWith("centroid_id=")).sorted.head
      val tmp = new org.apache.hadoop.fs.Path(s"${root}_compacting")
      fs.mkdirs(tmp)
      assert(fs.rename(
        new org.apache.hadoop.fs.Path(s"$root/$cid"),
        new org.apache.hadoop.fs.Path(tmp, cid)))
      fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), true).close()
      assert(s2.read.parquet(root).count() < total, "crash state must lose the partition")

      // ANY next mutation heals it — an append must not land before the
      // roll-forward (it would be clobbered by the replace)
      Ann.addVectors(s2, root, spark.read.parquet(s"$sf0001/embeddings.parquet")
        .filter($"vec_id" % Ann.IncrMod === Ann.IncrRem)
        .select($"vec_id", $"embedding", $"label")
        .as[(Long, Array[Float], Int)])
      assert(!fs.exists(tmp), "side dir must be consumed by recovery")
      val healed = s2.read.parquet(root)
      assert(healed.filter($"centroid_id" === cid.stripPrefix("centroid_id=").toLong).count() > 0,
        "rolled-forward partition is empty")
      assert(healed.select($"doc_id").distinct().count() == healed.count(),
        "recovery duplicated rows")
    } finally fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("crashed upsert: a staged pending batch replays at the next upsert") {
    val root = s"/tmp/graft_upsert_replay_${System.nanoTime()}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    try {
      Ann.seedBaseIndex(s2, sf0001, root)
      def corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select($"vec_id".as("id"), $"embedding".as("vec"), $"label")
        .as[(Long, Array[Float], Int)]
      // craft the crash state: a complete staged batch (one reversed
      // update) whose apply never ran
      val u = corpus.filter($"id" % 16 === 1).head()
      s2.createDataset(Seq((u._1, u._2.reverse, u._3)))
        .toDF("doc_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$root/_upsert_pending")

      // the next upsert must replay the pending batch BEFORE its own
      Ann.upsertVectors(s2, root,
        corpus.filter($"id" % Ann.IncrMod === Ann.IncrRem))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_upsert_pending")),
        "stage must be consumed")
      val stored = s2.read.parquet(root).filter($"doc_id" === u._1)
        .select($"embedding").as[Array[Float]].collect()
      assert(stored.length == 1 && stored.head.sameElements(u._2.reverse),
        "pending update was not replayed")
    } finally fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("drift monitor: a retired list (base row, no current members) never flags") {
    val root = s"/tmp/graft_drift_retired_${System.nanoTime()}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    try {
      Ann.seedBaseIndex(s2, sf0001, root)
      Ann.writeDriftBase(s2, root)
      // a base row whose cid no longer serves any member — the state a
      // rebalance/repair split leaves behind; flagging it would wedge
      // the streaming repair loop in fire-repair/no-op forever
      s2.createDataset(Seq((999999L, 240L))).toDF("centroid_id", "n_base")
        .write.mode("append").parquet(s"$root/_drift_base")
      val retired = Ann.driftFrameAt(s2, root)
        .filter($"centroid_id" === 999999L)
        .select($"n_full", $"drifted").as[(Long, Int)].collect()
      assert(retired.length == 1 && retired.head == ((0L, 0)),
        s"retired list must read (n_full=0, drifted=0), got ${retired.toSeq}")
    } finally fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("unified lifecycle: add -> snapshot -> delete -> compact -> search-as-of, ONE artifact") {
    // VERDICT r9 next #4: the full production sequence on a single
    // artifact, with time-travel correctness asserted ACROSS the
    // compaction boundary (compaction expires invalidated manifests and
    // re-manifests the compacted state).
    val root = s"/tmp/graft_unified_lifecycle_${System.nanoTime()}"
    try {
      Ann.seedBaseIndex(s2, sf0001, root)
      assert(Ann.snapshotIndex(s2, root) == 1) // v1: base only
      Ann.addVectors(s2, root,
        spark.read.parquet(s"$sf0001/embeddings.parquet")
          .filter($"vec_id" % Ann.IncrMod === Ann.IncrRem)
          .select($"vec_id", $"embedding", $"label")
          .as[(Long, Array[Float], Int)])
      assert(Ann.snapshotIndex(s2, root) == 2) // v2: base + delta
      Ann.deleteFromIndexAt(s2, root, $"doc_id" % 17 === 3)
      val masked = Ann.search(s2, Ann.Latest(root), queries(20), k = 10, nProbe = 4,
          maskTombstones = true)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
      assert(masked.nonEmpty && masked.forall(_._3 % 17 != 3))

      Ann.compactIndexAt(s2, root)

      // v1 and v2 pinned files the compaction rewrote -> expired; the
      // post-compact snapshot continues the version sequence (max+1)
      val versions = Ann.snapshotVersions(s2, root)
      assert(versions == Seq(3), s"expected only the post-compact v3, got $versions")
      // time travel across the boundary: as-of the post-compact snapshot
      // equals the pre-compact tombstone-masked search
      val asOf3 = Ann.search(s2, Ann.Version(root, 3), queries(20), k = 10, nProbe = 4)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
      assert(asOf3 == masked,
          "as-of post-compact snapshot drifted from the pre-compact masked search")

      // the artifact keeps living: a post-compact add is invisible as-of
      // v3 and the next snapshot numbers v4
      Ann.addVectors(s2, root,
        spark.read.parquet(s"$sf0001/embeddings.parquet")
          .filter($"vec_id" % Ann.IncrMod === Ann.IncrRem)
          .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding", $"label")
          .as[(Long, Array[Float], Int)])
      assert(Ann.snapshotIndex(s2, root) == 4)
      val asOf3Again = Ann.search(s2, Ann.Version(root, 3), queries(20), k = 10, nProbe = 4)
        .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
      assert(asOf3Again == asOf3, "post-compact ingest leaked into snapshot v3")
      val asOf4 = Ann.search(s2, Ann.Version(root, 4), queries(20), k = 10, nProbe = 4)
        .select($"doc_id").as[Long].collect().toSet
      assert(asOf4.exists(_ >= 1000000L), "v4 must see the post-compact delta")
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }
  }
}
