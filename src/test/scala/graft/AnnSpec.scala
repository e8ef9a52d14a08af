package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, VectorSearch}

/** IVF index build/search properties (SURVEY §5.2 ANN recall gate):
  * probing everything reproduces the exact result; overlap with the exact
  * top-10 is monotone in nProbe; the index artifact is persisted
  * partitioned and rebuilt only when absent; the probed scan reads only
  * the probed partitions. */
class AnnSpec extends SparkSpec {

  private def overlapAtProbe(np: Int): Double = {
    import spark.implicits._
    val exact = VectorSearch.searchFrame(spark, sf001)
      .filter($"rnk" <= 10)
      .select($"query_id", $"doc_id")
    val ann = Ann.search(spark, Ann.Session(sf001), VectorSearch.queryVectors(spark, sf001, 100),
        k = 10, nProbe = np)
      .select($"query_id", $"doc_id")
    ann.join(exact, Seq("query_id", "doc_id")).count().toDouble / exact.count()
  }

  test("probing ALL centroids reproduces the exact brute-force top-10") {
    val nCentroids = Ann.centroids(spark, sf001).count().toInt
    assert(overlapAtProbe(nCentroids) == 1.0)
  }

  test("overlap with exact top-10 is monotone non-decreasing in nProbe") {
    val overlaps = Seq(1, 4, 8, 20).map(overlapAtProbe)
    assert(overlaps.sliding(2).forall { case Seq(a, b) => a <= b; case _ => true },
      s"non-monotone: $overlaps")
    // The dial must actually move: probing more must eventually beat nProbe=1.
    assert(overlaps.last > overlaps.head)
  }

  test("timed sweep emits one level per probe width with sane timing fields") {
    val levels = Ann.sweepTimed(spark, sf001)
    assert(levels.map(_.ef) == Ann.SweepProbes)
    levels.foreach { l =>
      assert(l.searchTimeSec > 0.0 && l.qps > 0.0, s"level ${l.ef}")
      assert(l.recall10 >= 0.0 && l.recall10 <= 1.0, s"level ${l.ef}")
    }
  }

  test("index is persisted partitioned by centroid_id and not rebuilt") {
    val path = Ann.buildIndex(spark, sf0001)
    // underscore-prefixed dirs (_tombstones, _centroids) are artifact
    // sidecars the data scan never sees
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith("_"))
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("centroid_id=")))
    val mtime = new java.io.File(s"$path/_SUCCESS").lastModified()
    Ann.buildIndex(spark, sf0001) // second call must be a no-op
    assert(new java.io.File(s"$path/_SUCCESS").lastModified() == mtime)
  }

  test("probed search reads exactly the probed index partitions, fewer than C") {
    import spark.implicits._
    val queries = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < 5).select($"embedding").as[Array[Float]].collect().toSeq
    val probed = IndexScans.probedLists(queries, Ann.centroidArray(spark, sf0001).toSeq, 2)
    assert(probed.size < Ann.Centroids)
    val read = IndexScans.partitionsRead(
      Ann.search(spark, Ann.Session(sf0001), VectorSearch.queryVectors(spark, sf0001, 5), k = 3,
          nProbe = 2))
    assert(read == probed.size, s"read $read index partitions; the queries probe ${probed.size}")
  }

  test("coarse-quantizer size is a session conf knob; full probe still exact at C=8") {
    import spark.implicits._
    val s2 = spark.newSession()
    Functions.register(s2) // temp functions (vec_dot) are per-session
    s2.conf.set(Ann.CentroidsConf, "8")
    try {
      assert(Ann.centroidCount(s2) == 8)
      assert(Ann.centroids(s2, sf0001).count() == 8)
      // the index artifact is C-specific, so sizes coexist on disk
      val path = Ann.buildIndex(s2, sf0001)
      assert(path.endsWith("_c8v2"), path)
      val dirs = new java.io.File(path).listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("centroid_id="))
      assert(dirs.length == 8, dirs.mkString(","))
      // probing all 8 partitions reproduces the exact top-10, same as C=32
      val exact = VectorSearch.searchFrame(spark, sf0001)
        .filter($"rnk" <= 10).select($"query_id", $"doc_id")
      val ann = Ann.search(s2, Ann.Session(sf0001), VectorSearch.queryVectors(s2, sf0001, 100),
          k = 10, nProbe = 8)
        .select($"query_id", $"doc_id")
      assert(ann.join(exact, Seq("query_id", "doc_id")).count() == exact.count())
      // the default session is untouched by s2's override
      assert(Ann.centroidCount(spark) == Ann.Centroids)
    } finally {
      s2.conf.unset(Ann.CentroidsConf)
      Memo.drop(s2)
    }
  }

  test("index root is a session conf knob resolved via the Hadoop FS API") {
    import spark.implicits._
    val s2 = spark.newSession()
    Functions.register(s2)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_root").toString
    s2.conf.set(Ann.IndexRootConf, root)
    try {
      val path = Ann.buildIndex(s2, sf0001)
      assert(path.startsWith(root), path)
      // artifact + build-meta sidecar land under the configured root
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s2.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")))
      assert(Ann.buildMeta(s2, sf0001).exists { case (sec, vps) => sec > 0 && vps > 0 })
      // search against the relocated index still reproduces the exact top-10
      val exact = VectorSearch.searchFrame(spark, sf0001)
        .filter($"rnk" <= 10).select($"query_id", $"doc_id")
      val ann = Ann.search(s2, Ann.Session(sf0001), VectorSearch.queryVectors(s2, sf0001, 100),
          k = 10, nProbe = Ann.Centroids)
        .select($"query_id", $"doc_id")
      assert(ann.join(exact, Seq("query_id", "doc_id")).count() == exact.count())
    } finally {
      s2.conf.unset(Ann.IndexRootConf)
      Memo.drop(s2)
    }
  }

  test("every centroid assignment is the argmax-dot centroid (spot check)") {
    import spark.implicits._
    val cents = Ann.centroids(spark, sf0001)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val sample = Ann.resolve(spark, Ann.Session(sf0001)).index
      .filter($"doc_id" < 50)
      .select($"doc_id", $"embedding", $"centroid_id")
      .as[(Long, Array[Float], Long)].collect()
    sample.foreach { case (docId, vec, assigned) =>
      val best = cents.map { case (cid, cv) =>
        val s = cv.zip(vec).foldLeft(0.0) { case (acc, (a, b)) => acc + a.toDouble * b.toDouble }
        (cid, s)
      }.maxBy { case (cid, s) => (s, -cid) }._1
      assert(assigned == best, s"doc $docId assigned $assigned, argmax is $best")
    }
  }

  test("autotune: chosen nProbe is monotone in the recall target and meets it") {
    import spark.implicits._
    for (d <- Seq(sf0001, sf001)) {
      val rows = SparkEntry.queries("v36_autotune")(spark, d)
        .collect().sortBy(_.getAs[Int]("target_pm"))
      assert(rows.map(_.getAs[Int]("target_pm")).toSeq == Ann.TuneTargets)
      // tighter target ⇒ same or wider probe (candidate sets are nested)
      val probes = rows.map(_.getAs[Int]("n_probe")).toSeq
      assert(probes == probes.sorted, s"at $d: probes not monotone: $probes")
      rows.foreach { r =>
        val (t, np, osum, nq) =
          (r.getAs[Int]("target_pm"), r.getAs[Int]("n_probe"),
           r.getAs[Long]("osum"), r.getAs[Long]("nq"))
        // unless the widest probe was the fallback, the target must be met
        if (np != Ann.SweepProbes.max)
          assert(100L * osum >= t.toLong * nq, s"at $d: target $t unmet at probe $np")
      }
    }
  }

  test("time travel: v1 predates the delta, v2 equals the incremental search, manifests nest") {
    import spark.implicits._
    val d = sf0001
    val path = Ann.buildSnapshottedIndex(spark, d)
    val v1 = Ann.search(spark, Ann.Version(path, 1), VectorSearch.queryVectors(spark, d, 20),
        k = 10, nProbe = 4)
      .select($"query_id", $"rnk", $"doc_id").collect()
    // the delta universe must be invisible at snapshot 1
    v1.foreach { r =>
      assert(r.getAs[Long]("doc_id") % Ann.IncrMod != Ann.IncrRem,
        s"snapshot v1 leaked a delta doc: $r")
    }
    val v2 = Ann.search(spark, Ann.Version(path, 2), VectorSearch.queryVectors(spark, d, 20),
        k = 10, nProbe = 4)
      .select($"query_id", $"rnk", $"doc_id").collect().toSet
    val incr = Ann.search(spark, Ann.Latest(Ann.buildIncrementalIndex(spark, d)),
        VectorSearch.queryVectors(spark, d, 20), k = 10, nProbe = 4)
      .select($"query_id", $"rnk", $"doc_id").collect().toSet
    assert(v2 == incr, "snapshot v2 drifted from the incremental search")
    // append-only contract: v1's file set is a strict subset of v2's
    def manifest(v: Int): Set[String] =
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"${path.stripPrefix("file:")}/_snapshots/v$v.txt"))
        .toArray(Array.empty[String]).filter(_.nonEmpty).toSet
    val (m1, m2) = (manifest(1), manifest(2))
    assert(m1.subsetOf(m2) && m2.size > m1.size,
      s"manifests not nested/growing: |v1|=${m1.size} |v2|=${m2.size}")
  }

  test("snapshot expiry keeps the newest manifests; latest version stays readable") {
    import spark.implicits._
    val root = s"/tmp/graft_index_expire_${System.nanoTime()}"
    try {
      Ann.seedBaseIndex(spark, sf0001, root)
      Ann.snapshotIndex(spark, root) // v1
      Ann.snapshotIndex(spark, root) // v2 (same files — a no-op snapshot is legal)
      Ann.snapshotIndex(spark, root) // v3
      val expired = Ann.expireSnapshots(spark, root, keepLast = 1)
      assert(expired == Seq(1, 2))
      val latest = Ann.resolve(spark, Ann.Version(root, 3)).index
      assert(latest.count() > 0)
      intercept[Exception](Ann.resolve(spark, Ann.Version(root, 1)).index.count())
      // snapshot AFTER expiry must continue the version sequence (max+1,
      // not count+1 — ADVICE r9 medium): never overwrite a live manifest,
      // never mint a version below the newest
      val v4 = Ann.snapshotIndex(spark, root)
      assert(v4 == 4, s"post-expiry snapshot numbered $v4, expected 4")
      assert(Ann.snapshotVersions(spark, root) == Seq(3, 4))
      assert(Ann.resolve(spark, Ann.Version(root, 4)).index.count() == latest.count())
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
    }
  }

  test("sharded build + file-level merge serves results identical to the monolith") {
    import spark.implicits._
    for (d <- Seq(sf0001, sf001)) {
      val mono = Ann.search(spark, Ann.Session(d), VectorSearch.queryVectors(spark, d, 20),
          k = 10, nProbe = 4)
        .select($"query_id", $"rnk", $"doc_id").collect().toSet
      val merged = Ann.search(spark, Ann.Latest(Ann.buildShardedIndex(spark, d)),
        VectorSearch.queryVectors(spark, d, 20), k = 10, nProbe = 4)
        .select($"query_id", $"rnk", $"doc_id").collect().toSet
      assert(merged == mono, s"at $d: shard-merge drifted from monolith")
      // the merge lost/duplicated no rows and persisted the frozen quantizer
      val path = Ann.buildShardedIndex(spark, d)
      val n = spark.read.parquet(s"$d/embeddings.parquet").count()
      assert(spark.read.parquet(path).count() == n, s"at $d: merged row count != corpus")
      assert(spark.read.parquet(s"$path/_centroids").count() ==
        Ann.centroidCount(spark).toLong)
    }
  }
}
