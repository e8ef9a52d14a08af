package graft

import graft.operators.Ann

/** Incremental kNN-graph maintenance (VERDICT r9 next #2): the graph
  * sidecar gets the same O(|delta|) story as the index — a vector added
  * via [[Ann.addVectors]] + [[Ann.addToGraphAt]] must be reachable
  * through graph-refined search WITHOUT a bulk [[Ann.buildGraphAt]]
  * rebuild, at O(|delta| · probe) insert cost (append-only: no existing
  * edge file read or rewritten).
  *
  * Corpus: the navigable ring manifold (doc i at angle 2πi/n, small
  * off-plane noise — KernelBenchSpec's graph-lift geometry): IVF lists
  * are Voronoi arcs, a query near an arc boundary loses its across-
  * boundary true neighbors at nProbe=1, and ring-adjacent graph edges
  * point exactly at them. The DELTA is every 8th ring position — held
  * out of the base build, added incrementally — so across-boundary
  * rescues of delta docs are witnesses that incremental edges carry
  * reachability.
  */
object AnnGraphSpec {
  val n = 1000
  val dim = 32
  val nCent = 16
  private def lcg(seed: Long): Long = seed * 6364136223846793005L + 1442695040888963407L
  def mvec(i: Double): Array[Float] = {
    val a = new Array[Float](dim)
    val th = 2.0 * math.Pi * i / n
    a(0) = math.cos(th).toFloat
    a(1) = math.sin(th).toFloat
    var st = lcg(math.round(i * 1024).toLong + 7)
    var j = 2
    while (j < dim) {
      st = lcg(st)
      a(j) = 0.05f * (((st >>> 40).toInt.toFloat / (1 << 23).toFloat) - 1.0f)
      j += 1
    }
    a
  }
  def isDelta(id: Long): Boolean = id % 8 == 7
}

class AnnGraphSpec extends SparkSpec {

  import spark.implicits._
  import AnnGraphSpec._

  private lazy val fixture: (String, Long, Set[String], Long) = {
    val path = java.nio.file.Files.createTempDirectory("graft_graph").toString + "/idx"
    val base = spark.range(n.toLong).filter(id => !isDelta(id))
      .map(id => (id, mvec(id.toDouble), 0))
      .toDF("id", "vec", "label").as[(Long, Array[Float], Int)]
    val cents = Array.tabulate(nCent)(c => (c.toLong, mvec(c.toDouble * n / nCent)))
    Ann.writeIndexArtifact(spark, path, base, cents)
    Ann.buildGraphAt(spark, path)
    val gp = new org.apache.hadoop.fs.Path(s"$path/_graph")
    val fs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles = fs.listStatus(gp).map(_.getPath.getName).filter(_.startsWith("part-")).toSet
    val filesBefore = partFiles
    val edgesBefore = spark.read.parquet(s"$path/_graph").count()
    val delta = spark.range(n.toLong).filter(id => isDelta(id))
      .map(id => (id, mvec(id.toDouble), 0))
      .toDF("id", "vec", "label").as[(Long, Array[Float], Int)]
    Ann.addVectors(spark, path, delta)
    Ann.addToGraphAt(spark, path, delta)
    assert(filesBefore.subsetOf(partFiles),
      "incremental graph add rewrote or removed existing edge files")
    (path, edgesBefore, filesBefore, delta.count())
  }
  private def path = fixture._1

  // held-out queries just INSIDE each Voronoi boundary: position
  // 62.5c + 31.25 - 0.3, probing arc c, with true neighbors across
  private lazy val queries: Array[(Long, Array[Float])] =
    Array.tabulate(nCent)(c => (c.toLong, mvec(c * n.toDouble / nCent + n.toDouble / (2 * nCent) - 0.3)))

  private lazy val exact10: Map[Long, Seq[Long]] = queries.map { case (qid, qv) =>
    val scored = (0L until n.toLong).map { id =>
      val v = mvec(id.toDouble)
      var s = 0.0
      var i = 0
      while (i < dim) { s += qv(i).toDouble * v(i).toDouble; i += 1 }
      (id, s)
    }
    qid -> scored.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1)
  }.toMap

  private def resultsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select($"query_id", $"doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }

  test("added vectors are reachable via graph refinement with NO bulk rebuild") {
    val plain = resultsOf(Ann.search(spark, Ann.Latest(path), queries, k = 10, nProbe = 1,
        maskTombstones = true))
    val refined = resultsOf(
      Ann.graphRefinedSearch(spark, Ann.Latest(path), queries, k = 10, nProbe = 1, seedK = 10,
        maskTombstones = true))
    // witnesses: a DELTA doc in the query's exact top-10 that plain
    // nProbe=1 misses (it lives across the arc boundary) and graph
    // refinement recovers — reachable only through edges appended by
    // addToGraphAt, since the bulk build never saw the delta
    val witnesses = queries.flatMap { case (qid, _) =>
      exact10(qid).filter(isDelta)
        .filter(v => !plain.getOrElse(qid, Set.empty).contains(v))
        .filter(v => refined.getOrElse(qid, Set.empty).contains(v))
        .map(v => (qid, v))
    }
    info(s"across-boundary delta rescues: ${witnesses.length} (${witnesses.take(5).toSeq})")
    assert(witnesses.nonEmpty,
      "no added vector was rescued by incremental graph edges — reachability broken")
    // aggregate: refinement must not lose recall anywhere and must lift it overall
    def recall(m: Map[Long, Set[Long]]): Double = queries.map { case (qid, _) =>
      exact10(qid).count(m.getOrElse(qid, Set.empty).contains).toDouble / 10
    }.sum / queries.length
    val (pr, rr) = (recall(plain), recall(refined))
    info(f"boundary queries: plain@nProbe=1 recall10=$pr%.4f -> graph-refined $rr%.4f")
    assert(rr > pr, s"graph refinement must lift recall on the navigable ring: $rr vs $pr")
  }

  test("incremental graph insert is O(|delta|): append-only, bounded edge rows") {
    val (_, edgesBefore, _, deltaCount) = fixture
    val edgesAfter = spark.read.parquet(s"$path/_graph").count()
    val appended = edgesAfter - edgesBefore
    // out-edges + in-edges, GraphDegree each per delta vector
    assert(appended > 0 && appended <= 2L * deltaCount * Ann.GraphDegree,
      s"appended $appended edge rows for $deltaCount delta vectors")
  }

  test("streaming ingest with graph maintenance: streamed vectors reachable, no rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sPath = java.nio.file.Files.createTempDirectory("graft_graph_stream").toString + "/idx"
    val base = spark.range(n.toLong).filter(id => !isDelta(id))
      .map(id => (id, mvec(id.toDouble), 0))
      .toDF("id", "vec", "label").as[(Long, Array[Float], Int)]
    val cents = Array.tabulate(nCent)(c => (c.toLong, mvec(c.toDouble * n / nCent)))
    Ann.writeIndexArtifact(spark, sPath, base, cents)
    Ann.buildGraphAt(spark, sPath)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val delta = (0L until n.toLong).filter(isDelta).map(id => (id, mvec(id.toDouble), 0))
    val (b1, b2) = delta.splitAt(delta.length / 2)
    val stream = MemoryStream[(Long, Array[Float], Int)]
    val q = Ann.ingestStreamWithGraph(spark, sPath, stream.toDS())
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // every streamed vector has out-edges in the served adjacency
    val srcs = Ann.graphAt(spark, sPath).select($"src").as[Long].collect().toSet
    val missing = delta.map(_._1).filterNot(srcs.contains)
    assert(missing.isEmpty, s"streamed vectors with no out-edges: ${missing.take(5)}")
    // and across-boundary rescues still happen through the streamed graph
    val plain = resultsOf(Ann.search(spark, Ann.Latest(sPath), queries, k = 10, nProbe = 1,
        maskTombstones = true))
    val refined = resultsOf(
      Ann.graphRefinedSearch(spark, Ann.Latest(sPath), queries, k = 10, nProbe = 1, seedK = 10,
        maskTombstones = true))
    val witnesses = queries.flatMap { case (qid, _) =>
      exact10(qid).filter(isDelta)
        .filter(v => !plain.getOrElse(qid, Set.empty).contains(v))
        .filter(v => refined.getOrElse(qid, Set.empty).contains(v))
    }
    assert(witnesses.nonEmpty, "no streamed vector rescued via the graph sidecar")
  }

  test("edge compaction: read-equality across the boundary; compacted reads skip the aggregation") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val before = Ann.graphAt(spark, path).as[(Long, Long, Long)].collect().toSet
    Ann.compactGraphAt(spark, path)
    val compacted = Ann.graphAt(spark, path)
    assert(compacted.as[(Long, Long, Long)].collect().toSet == before,
      "edge compaction changed the served adjacency")
    // the tail is drained, so the read is a direct _graph_serve scan:
    // no groupBy dedup, no top-degree re-rank in the plan
    val gp = new org.apache.hadoop.fs.Path(s"$path/_graph")
    val fs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tail = fs.listStatus(gp).map(_.getPath.getName).count(_.startsWith("part-"))
    assert(tail == 0, s"compaction left $tail tail part files")
    val aggNodes = compacted.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a
      case w: LWindow => w
    }
    assert(aggNodes.isEmpty,
      s"compacted graph read still aggregates: ${aggNodes.map(_.nodeName)}")
    // post-compaction appends still win at read time (lossless fold:
    // top-d(top-d(A) ∪ B) = top-d(A ∪ B)) — append fresh edges, fold
    // again, and the two read paths must agree
    val extra = spark.range(n.toLong, n.toLong + 5L)
      .map(id => (id, mvec((id - n.toLong) * n.toDouble / 5 + 0.5), 0))
      .toDF("id", "vec", "label").as[(Long, Array[Float], Int)]
    Ann.addVectors(spark, path, extra)
    Ann.addToGraphAt(spark, path, extra)
    val merged = Ann.graphAt(spark, path).as[(Long, Long, Long)].collect().toSet
    assert((n.toLong until n.toLong + 5L).forall(id => merged.exists(_._1 == id)),
      "post-compaction appended vectors missing from the served adjacency")
    Ann.compactGraphAt(spark, path)
    val refolded = Ann.graphAt(spark, path).as[(Long, Long, Long)].collect().toSet
    assert(refolded == merged, "second fold changed the adjacency (fold not lossless)")
  }

  test("graph sidecar is snapshotted: graph-refined search-as-of is blind to later edge appends") {
    val sPath = java.nio.file.Files.createTempDirectory("graft_graph_snap").toString + "/idx"
    val base = spark.range(n.toLong).filter(id => !isDelta(id))
      .map(id => (id, mvec(id.toDouble), 0))
      .toDF("id", "vec", "label").as[(Long, Array[Float], Int)]
    val cents = Array.tabulate(nCent)(c => (c.toLong, mvec(c.toDouble * n / nCent)))
    Ann.writeIndexArtifact(spark, sPath, base, cents)
    Ann.buildGraphAt(spark, sPath)
    val v1 = Ann.snapshotIndex(spark, sPath)
    assert(Ann.graphFilesAt(spark, sPath, v1).nonEmpty,
      "snapshot manifest carries no graph sidecar files")
    val liveBefore = Ann.graphRefinedSearch(
        spark, Ann.Latest(sPath), queries, k = 10, nProbe = 1, seedK = 10)
      .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
    val delta = spark.range(n.toLong).filter(id => isDelta(id))
      .map(id => (id, mvec(id.toDouble), 0))
      .toDF("id", "vec", "label").as[(Long, Array[Float], Int)]
    Ann.addVectors(spark, sPath, delta)
    Ann.addToGraphAt(spark, sPath, delta)
    val v2 = Ann.snapshotIndex(spark, sPath)
    assert(Ann.graphFilesAt(spark, sPath, v1).toSet
      .subsetOf(Ann.graphFilesAt(spark, sPath, v2).toSet))
    // AS OF v1: pre-delta files AND pre-delta edges — row-identical to
    // the live read taken before the append, and blind to every delta id
    val asOf1 = Ann.graphRefinedSearch(spark, Ann.Version(sPath, v1), queries, k = 10, nProbe = 1,
        seedK = 10)
      .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
    assert(asOf1 == liveBefore,
      "search-as-of v1 differs from the pre-append live read (manifest leak)")
    assert(!asOf1.exists { case (_, _, doc) => isDelta(doc) })
    // AS OF v2 equals the live post-append read
    val asOf2 = Ann.graphRefinedSearch(spark, Ann.Version(sPath, v2), queries, k = 10, nProbe = 1,
        seedK = 10)
      .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
    val liveAfter = Ann.graphRefinedSearch(
        spark, Ann.Latest(sPath), queries, k = 10, nProbe = 1, seedK = 10)
      .select($"query_id", $"rnk", $"doc_id").as[(Long, Long, Long)].collect().toSet
    assert(asOf2 == liveAfter)
  }

  test("excludeSelf=false keeps colliding-id candidates for external query frames") {
    // EXTERNAL query frame whose ids merely coincide with doc ids (the
    // exact ADVICE r10 scenario): each query sits right on top of the
    // doc sharing its id, so that doc IS the true top-1. The v33-style
    // corpus-member convention (default) drops it; excludeSelf=false
    // must keep it — via the one-hop edges of its ring-adjacent seeds.
    // dedicated TWIN-PAIR fixture (the ring's per-dim noise makes
    // degree-3 edge membership fuzzy at single-doc granularity): docs
    // come in mutually-nearest twins (dot ≈ 0.99995 within a pair vs
    // ≈ 0.916 across pairs), so each doc's twin carries a GUARANTEED
    // serving edge back to it. The query is the collider's own vector
    // (self-dot 1.0 — the unique true top-1); the seed stage finds the
    // twin, the one-hop edge reaches the collider, and only the
    // excludeSelf flag decides whether it survives the union.
    val tPath = java.nio.file.Files.createTempDirectory("graft_graph_collide").toString + "/idx"
    val dimc = 16
    def uv(a: Int) = Array.tabulate(dimc)(i => if (i == a) 1.0f else 0.0f)
    def tvec(axis: Int, tilt: Int, w: Float): Array[Float] = {
      val v = uv(axis)
      v(tilt) = w
      val nm = math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x)).toFloat
      v.map(_ / nm)
    }
    def dvec(j: Long): Array[Float] = {
      val g = (j / 2).toInt
      tvec(g % 2, 2 + g / 2, 0.30f + 0.01f * (j % 2))
    }
    val docs = (0L until 40L).map(j => (j, dvec(j), 0))
    Ann.writeIndexArtifact(spark, tPath, spark.createDataset(docs),
      Array((0L, uv(0)), (1L, uv(1))))
    Ann.buildGraphAt(spark, tPath)
    val ids = Seq(0L, 5L, 12L, 19L)
    val q = ids.map(d => (d, dvec(d))).toArray
    val dropped = resultsOf(
      Ann.graphRefinedSearch(spark, Ann.Latest(tPath), q, k = 5, nProbe = 1, seedK = 5,
        maskTombstones = true))
    val kept = resultsOf(
      Ann.graphRefinedSearch(spark, Ann.Latest(tPath), q, k = 5, nProbe = 1, seedK = 5,
        maskTombstones = true, excludeSelf = false))
    ids.foreach { d =>
      assert(!dropped(d).contains(d),
        s"corpus-member convention should drop the colliding doc $d")
      assert(kept(d).contains(d),
        s"excludeSelf=false lost external query $d's colliding true top candidate")
    }
  }

  test("filtered graph refinement: predicate never leaks, across-boundary filtered docs rescued") {
    // v47's behavioral contract on the navigable ring: label docs by
    // id % 3 and filter label != 2 (keeps 2/3 of the ring, dense enough
    // to stay navigable). Plain FILTERED search at nProbe=1 loses true
    // filtered neighbors across each Voronoi boundary; the UNFILTERED
    // geometry edges rescue exactly those — and no label-2 doc may ever
    // be served.
    val fPath = java.nio.file.Files.createTempDirectory("graft_graph_filter").toString + "/idx"
    val all = spark.range(n.toLong)
      .map(id => (id, mvec(id.toDouble), (id % 3).toInt))
      .toDF("id", "vec", "label").as[(Long, Array[Float], Int)]
    val cents = Array.tabulate(nCent)(c => (c.toLong, mvec(c.toDouble * n / nCent)))
    Ann.writeIndexArtifact(spark, fPath, all, cents)
    Ann.buildGraphAt(spark, fPath)
    val pred = org.apache.spark.sql.functions.col("label") =!= 2
    val plain = resultsOf(
      Ann.search(spark, Ann.Latest(fPath), queries, k = 10, nProbe = 1, Some(pred),
        maskTombstones = true))
    val refined = resultsOf(
      Ann.graphRefinedSearch(spark, Ann.Latest(fPath), queries, k = 10, nProbe = 1, seedK = 10,
        maskTombstones = true, pred = Some(pred)))
    refined.values.flatten.foreach(d =>
      assert(d % 3 != 2, s"filtered graph search served excluded doc $d"))
    // filtered ground truth: exact top-10 over the label != 2 universe
    val exactF: Map[Long, Seq[Long]] = queries.map { case (qid, qv) =>
      val scored = (0L until n.toLong).filter(_ % 3 != 2).map { id =>
        val v = mvec(id.toDouble)
        var s = 0.0
        var i = 0
        while (i < dim) { s += qv(i).toDouble * v(i).toDouble; i += 1 }
        (id, s)
      }
      qid -> scored.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1)
    }.toMap
    val witnesses = queries.flatMap { case (qid, _) =>
      exactF(qid)
        .filter(v => !plain.getOrElse(qid, Set.empty).contains(v))
        .filter(v => refined.getOrElse(qid, Set.empty).contains(v))
        .map(v => (qid, v))
    }
    info(s"filtered across-boundary rescues: ${witnesses.length} (${witnesses.take(5).toSeq})")
    assert(witnesses.nonEmpty,
      "no filtered true neighbor was rescued through the unfiltered geometry edges")
    def recallF(m: Map[Long, Set[Long]]): Double = queries.map { case (qid, _) =>
      exactF(qid).count(m.getOrElse(qid, Set.empty).contains).toDouble / 10
    }.sum / queries.length
    val (pr, rr) = (recallF(plain), recallF(refined))
    info(f"filtered boundary queries: plain@nProbe=1 recall10=$pr%.4f -> refined $rr%.4f")
    assert(rr > pr, s"filtered refinement must lift recall on the ring: $rr vs $pr")
  }

  test("serving adjacency: per-src degree bound and dedup under re-append") {
    // appending the SAME delta again must not change the served graph
    // (scores are deterministic; (src,dst) dedup + top-degree re-rank)
    val before = Ann.graphAt(spark, path).as[(Long, Long, Long)].collect().toSet
    val delta = spark.range(n.toLong).filter(id => isDelta(id))
      .map(id => (id, mvec(id.toDouble), 0))
      .toDF("id", "vec", "label").as[(Long, Array[Float], Int)]
    Ann.addToGraphAt(spark, path, delta)
    val after = Ann.graphAt(spark, path).as[(Long, Long, Long)].collect().toSet
    assert(after == before, "re-appending identical edges changed the served adjacency")
    val degrees = after.groupBy(_._1).map(_._2.size)
    assert(degrees.forall(_ <= Ann.GraphDegree))
  }
}
