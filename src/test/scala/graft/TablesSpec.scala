package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.operators.{Ann, VectorSearch}

/** The served searches' fixed inputs are resolved once per session:
  * [[Tables]] infers an input table's schema once per (session, path,
  * file fingerprint) and [[Ann.centroidArray]] selects the coarse
  * centroids once per (session, dir, C, fingerprint). These tests pin
  * that the memo never serves stale inputs, that warm TVF expansions
  * run no per-call inference or centroid job (and a warm `cosine_topk`,
  * `ann_search`, `ivfpq_search` or `ivfsq_search` call no more than two
  * jobs in all, as one [[graft.plans.PerQueryTopKExec]] with no shuffle;
  * `binary_search` one more, for its projection and sort), and that the
  * entries die with their session. */
class TablesSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.foreach(org.apache.commons.io.FileUtils.deleteDirectory) finally super.afterAll()

  /** A fresh session with the engine's functions and its own index root. */
  private def session(): SparkSession = {
    val s2 = spark.newSession()
    Functions.register(s2)
    graft.plans.CosineTopK.install(s2)
    s2.conf.set(Ann.IndexRootConf, tempDir("graft_tables_idx"))
    s2
  }

  test("a table overwritten at the same path reads back with its new schema and rows") {
    val s2 = session()
    import s2.implicits._
    val dir = tempDir("graft_tables_ow")
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(Tables.path(dir, "t"))
      for (_ <- 1 to 2) { // a miss (inferred), then a hit (declared)
        val t = Tables(s2, dir, "t")
        assert(t.schema.fieldNames.toSeq == Seq("id", "name"))
        assert(t.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
      }
      Seq((7L, 0.5, 3), (8L, 1.5, 4), (9L, 2.5, 5)).toDF("id", "score", "n")
        .write.mode("overwrite").parquet(Tables.path(dir, "t"))
      val t = Tables(s2, dir, "t")
      assert(t.schema.fieldNames.toSeq == Seq("id", "score", "n"))
      assert(t.as[(Long, Double, Int)].collect().sorted.toSeq ==
        Seq((7L, 0.5, 3), (8L, 1.5, 4), (9L, 2.5, 5)))
    } finally Memo.drop(s2)
  }

  test("events: ts/ts_ns derive identically on a miss and a hit, for NANOS and MICROS fixtures") {
    val s2 = session()
    import s2.implicits._
    import org.apache.spark.sql.functions.{timestamp_micros, unix_micros}
    val instants = Seq(1700000000123456000L, 1700000100000001000L) // epoch nanos, whole µs
    def check(dir: String): Unit =
      for (_ <- 1 to 2) {
        val e = Tables(s2, dir, "events")
        val got = e.select($"event_id", $"ts_ns", unix_micros($"ts")).as[(Long, Long, Long)]
          .collect().sortBy(_._1).toSeq
        assert(got == instants.zipWithIndex.map { case (ns, i) => (i.toLong, ns, ns / 1000) })
      }
    val micros = tempDir("graft_tables_us")
    val nanos = tempDir("graft_tables_ns")
    try {
      instants.zipWithIndex.map { case (ns, i) => (i.toLong, ns / 1000) }.toDF("event_id", "us")
        .select($"event_id", timestamp_micros($"us").as("ts"))
        .write.parquet(Tables.path(micros, "events"))
      check(micros)
      writeNanosEvents(Tables.path(nanos, "events"), instants)
      check(nanos)
    } finally Memo.drop(s2)
  }

  /** An events file from an earlier fixture generation: `ts` as parquet
    * INT64 TIMESTAMP(NANOS), which Spark cannot write. */
  private def writeNanosEvents(path: String, instants: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try instants.zipWithIndex.foreach { case (ns, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally w.close()
  }

  test("changing the centroid count within a session makes ann_search probe the new set") {
    val s2 = session()
    import s2.implicits._
    def annRows(nProbe: Int) =
      s2.sql(s"SELECT query_id, doc_id FROM ann_search('$sf0001', 100, 10, $nProbe)")
        .as[(Long, Long)].collect().toSet
    def maxProbeRank = {
      val r = Ann.resolve(s2, Ann.Session(sf0001))
      Ann.scoredOn(s2, VectorSearch.queryVectors(s2, sf0001, 5), r.cents, r.index, 1000, None)
        .agg(org.apache.spark.sql.functions.max($"prn")).head().getInt(0)
    }
    val exact = VectorSearch.searchFrame(spark, sf0001).filter($"rnk" <= 10)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect().toSet
    try {
      annRows(8) // warms the memo at the default C
      assert(maxProbeRank == Ann.Centroids)
      s2.conf.set(Ann.CentroidsConf, "8")
      assert(Ann.centroidArray(s2, sf0001).length == 8)
      assert(maxProbeRank == 8)
      // probing all 8 lists of the C=8 index reproduces the exact top-10
      // — a stale 32-centroid probe set would miss most of the 8 lists
      assert(annRows(8) == exact)
      s2.conf.unset(Ann.CentroidsConf)
      assert(maxProbeRank == Ann.Centroids)
    } finally Memo.drop(s2)
  }

  /** Runs `body` on a fresh session with a job counter: the counter
    * it is handed returns the jobs submitted while its argument runs. */
  private def countingJobs(body: (SparkSession, (=> Unit) => Int) => Unit): Unit = {
    val s2 = session()
    val group = "tables-spec-expand"
    val jobs = new AtomicInteger()
    val fence = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-fence" => fence.incrementAndGet()
          case _ =>
        }
    }
    /** Jobs submitted while `work` runs. The listener bus delivers in
      * order, so once the fence job's start arrives every job of `work`
      * has been counted. */
    def jobsDuring(work: => Unit): Int = {
      val sc = s2.sparkContext
      jobs.set(0)
      val seen = fence.get()
      sc.setJobGroup(group, "measured")
      try work finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (fence.get() == seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(fence.get() > seen, "listener bus did not deliver the fence job")
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try body(s2, jobsDuring(_))
    finally {
      spark.sparkContext.removeSparkListener(listener)
      Memo.drop(s2)
    }
  }

  test("warm TVF expansion runs at most 1 job; a warm ann_search call at most 2") {
    countingJobs { (s2, jobsDuring) =>
      // each expansion collects its query vectors (ann_search: for the
      // driver-side probe) — one job, no schema inference, no centroid scan
      val ann = s"SELECT * FROM ann_search('$sf0001', 1, 10, 8)"
      val calls = Seq(
        s"SELECT * FROM cosine_topk('$sf0001', 1, 10)" -> 1,
        ann -> 1,
        s"SELECT * FROM ivfpq_search('$sf0001', 1, 10, 8)" -> 1)
      calls.foreach { case (sql, _) => s2.sql(sql).collect() } // warm up
      calls.foreach { case (sql, bound) =>
        val n = jobsDuring(s2.sql(sql))
        assert(n <= bound, s"$n jobs while expanding $sql (bound $bound)")
      }
      // the whole call: the query collect, then ONE job for the pruned
      // index scan, its scoring kernel and the partition-local heaps
      // (the per-query merge runs on the driver)
      val n = jobsDuring(s2.sql(ann).collect())
      assert(n <= 2, s"$n jobs for a warm $ann call (bound 2)")
    }
  }

  test("a warm ivfpq_search call runs at most 2 jobs") {
    countingJobs { (s2, jobsDuring) =>
      // the query collect at expansion, then one pass over the probed
      // lists (ADC plus exact rescore); the per-query merge is on the driver
      val pq = s"SELECT * FROM ivfpq_search('$sf0001', 1, 10, 8)"
      s2.sql(pq).collect() // warm up: trains, encodes and caches the frame
      val n = jobsDuring(s2.sql(pq).collect())
      assert(n <= 2, s"$n jobs for a warm $pq call (bound 2)")
    }
  }

  test("a warm ivfsq_search call runs at most 2 jobs") {
    countingJobs { (s2, jobsDuring) =>
      // the query collect at expansion, then one pass over the probed
      // lists (byte ADC plus exact rescore); the merge is on the driver
      val sq = s"SELECT * FROM ivfsq_search('$sf0001', 1, 10, 8)"
      s2.sql(sq).collect() // warm up: trains, encodes and caches the frame
      val n = jobsDuring(s2.sql(sq).collect())
      assert(n <= 2, s"$n jobs for a warm $sq call (bound 2)")
    }
  }

  test("a warm binary_search call runs at most 3 jobs") {
    countingJobs { (s2, jobsDuring) =>
      // the query collect at expansion, one scan (Hamming plus exact
      // rescore), and one more for the (query_id, rnk, doc_id) projection
      // and sort above the driver merge
      val bin = s"SELECT * FROM binary_search('$sf0001', 1, 10, 50)"
      s2.sql(bin).collect()
      val n = jobsDuring(s2.sql(bin).collect())
      assert(n <= 3, s"$n jobs for a warm $bin call (bound 3)")
    }
  }

  test("a warm cosine_topk call runs at most 2 jobs") {
    countingJobs { (s2, jobsDuring) =>
      // the query collect at expansion, then one scan with the fused
      // kernel and the partition-local heaps
      val bf = s"SELECT * FROM cosine_topk('$sf0001', 1, 10)"
      s2.sql(bf).collect()
      val n = jobsDuring(s2.sql(bf).collect())
      assert(n <= 2, s"$n jobs for a warm $bf call (bound 2)")
    }
  }

  test("every served search TVF executes as one PerQueryTopKExec with no Exchange") {
    val s2 = session()
    try {
      for (sql <- Seq(
          s"SELECT * FROM cosine_topk('$sf0001', 4, 10)",
          s"SELECT * FROM ann_search('$sf0001', 4, 10, 8)",
          s"SELECT * FROM ivfpq_search('$sf0001', 4, 10, 8)")) {
        val df = s2.sql(sql)
        assert(df.collect().length == 40, sql)
        // the root must be the exec itself: an added Project above it
        // would send collect() through doExecute, a second job
        val root = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        assert(root.isInstanceOf[graft.plans.PerQueryTopKExec], s"$sql planned as:\n$root")
        val shuffles = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
          case e: Exchange => e
        }
        assert(shuffles.isEmpty, s"$sql shuffles:\n${df.queryExecution.executedPlan}")
      }
    } finally Memo.drop(s2)
  }

  test("table-schema and centroid memo entries are dropped when their session ends") {
    val s2 = session()
    try {
      Tables(s2, sf0001, "orders")
      Ann.centroidArray(s2, sf0001)
      assert(Memo.ownedBy(s2) == 3) // orders' and embeddings' schemas, the centroids
      Memo.fireApplicationEnd(s2)
      assert(Memo.ownedBy(s2) == 0)
    } finally Memo.drop(s2)
  }

  test("a missing table fails exactly as an undeclared read does") {
    val s2 = session()
    try {
      val expected = intercept[Exception](s2.read.parquet(s"$sf0001/no_such_table.parquet"))
      val got = intercept[Exception](Tables(s2, sf0001, "no_such_table"))
      assert(got.getClass == expected.getClass && got.getMessage == expected.getMessage)
      assert(Memo.ownedBy(s2) == 0)
    } finally Memo.drop(s2)
  }
}
