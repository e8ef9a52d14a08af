package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, KernelBench, SparkEntry}
import graft.operators.Ann

/** The JVM side of one benchmark run. It drives the engine only through
  * its public entry points — [[GraftSession.build]], the SQL table
  * functions, [[SparkEntry.queries]] — and times what a caller receives:
  * every result is `collect()`ed (every output column plus the final
  * sort), never reduced to a `.count()`.
  *
  * Arguments are `key=value` pairs (see [[main]]); results go to
  * `<run_dir>/driver.json`, reference results to `<run_dir>/results/`.
  */
object Driver {

  /** One search tier: metric prefix, SQL table function, recall dial. */
  final case class Tier(name: String, tvf: String, dial: Option[Int]) {
    def sql(dir: String, nq: Int, k: Int): String =
      s"SELECT * FROM $tvf('$dir', $nq, $k${dial.map(d => s", $d").getOrElse("")})"
  }

  /** An insertion-ordered JSON object for driver.json. */
  type Obj = mutable.LinkedHashMap[String, Any]
  def obj(kv: (String, Any)*): Obj = mutable.LinkedHashMap(kv: _*)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val runDir = opt("run_dir")
    val trace = opt("trace") == "1"
    // `name:tvf:dial` per tier, the dial empty for the exact tier
    val tiers = opt("tiers").split(",").toSeq.map { t =>
      val Array(name, tvf, dial) = t.split(":", -1)
      Tier(name, tvf, Option(dial).filter(_.nonEmpty).map(_.toInt))
    }
    val out = obj()
    // host canaries bracket the traced run (each triple costs ~9 s)
    if (trace) out("canary_start") = canary()
    Pace.warmUp()

    val t0 = System.nanoTime()
    val spark = GraftSession.build(opt("cpus"))
    out("session_build_ms") = ms(t0)
    val tracer = new Tracer(spark)
    if (trace) tracer.attach()
    val search = new SearchRun(spark, tracer, trace, tiers, opt, runDir)
    val registry = new RegistryRun(spark, tracer, trace, opt, runDir)
    val phases = obj()
    def phase(name: String)(body: => Unit): Unit = {
      val t = System.nanoTime(); body; phases(name) = ms(t) / 1e3
    }
    phase("search_setup")(search.setup(out))
    phase("search_loop")(search.loop(out))
    phase("registry")(registry.run(out))
    out("phase_s") = phases
    out("pace_ms") = Pace.samples
    if (trace) {
      out("groups") = tracer.layerTotals()
      out("canary_end") = canary()
    }
    writeJson(s"$runDir/driver.json", out)
    spark.stop()
  }

  def writeJson(path: String, value: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(path), value)

  def canary(): Obj = {
    val t0 = System.nanoTime()
    val c = KernelBench.canaryTriple()
    obj("single_ms" -> c.singleMs, "scan_ms" -> c.scanMs, "shuffle_ms" -> c.shuffleMs, "took_ms" -> ms(t0))
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Writes `rows` (query_id, doc_id, score, rnk) as TSV for the checker;
    * a tier that returns no score column gets `nan`. */
  def dump(path: String, rows: Array[Row]): Unit = {
    val pw = new PrintWriter(new File(path))
    rows.foreach { r =>
      val score = if (r.schema.fieldNames.contains("score")) r.getAs[Any]("score") else "nan"
      pw.println(s"${r.getAs[Any]("query_id")}\t${r.getAs[Any]("doc_id")}\t$score\t${r.getAs[Any]("rnk")}")
    }
    pw.close()
  }

  /** Order-insensitive fingerprint of a search result, to check that a
    * timed call returned the same rows as the checked reference call. */
  def fingerprint(rows: Array[Row]): Seq[(Long, Long, Long)] =
    rows.map(r => (r.getAs[Number]("query_id").longValue(), r.getAs[Number]("doc_id").longValue(),
      r.getAs[Number]("rnk").longValue())).toSeq.sorted
}

/** Host pace: a fixed single-threaded computation, timed after every
  * call and every registry query, between them. On a shared host the
  * speed of a CPU moves by tens of percent over minutes with the load of
  * other guests, and every call of a run moves with it; the median of a
  * run's samples measures that speed where the calls ran. The computation
  * is the benchmark's own code, so a change to the engine does not change
  * it. */
object Pace {
  private val a = Array.tabulate(1 << 16)(i => (i * 7919 % 1000) / 1000f)
  private val b = Array.tabulate(1 << 16)(i => (i * 104729 % 1000) / 1000f)
  private val Reps = 200
  val samples = mutable.ArrayBuffer[Double]()
  @volatile var sink = 0.0

  // a small method invoked many times compiles to C2 and stays there
  private def dot(): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def probe(): Double = {
    val t0 = System.nanoTime()
    var s = 0.0
    var r = 0
    while (r < Reps) { s += dot(); r += 1 }
    sink = s
    Driver.ms(t0)
  }

  /** Compiles [[dot]] before the first sample. */
  def warmUp(): Unit = (0 until 20).foreach(_ => probe())

  def sample(): Unit = samples += probe()
}

/** Search. [[setup]] calls every tier once at the set-up shape against
  * an empty index root (build-if-absent, encodes, first search). [[loop]]
  * is a closed loop — one statement in flight — round-robin over the
  * tiers at the workload's shape.
  * Every timed call must return the rows of the first call of the same
  * statement; the checker verifies those rows. */
final class SearchRun(
    spark: SparkSession, tracer: Tracer, trace: Boolean, tiers: Seq[Driver.Tier],
    opt: Map[String, String], runDir: String) {
  import Driver._

  /** After set-up the first round at the workload's shape runs up to
    * twice as slow; it is not timed. The JIT keeps warming over the timed
    * rounds, which the median of the timed calls per tier absorbs. */
  private val WarmUpRounds = 1
  private val MinTimedRounds = 3

  private val dir = opt("corpus_dir")
  private val (setupQ, setupK) = (opt("setup_q").toInt, opt("setup_k").toInt)
  private val (nq, k) = (opt("q").toInt, opt("k").toInt)
  private val seconds = opt("seconds").toDouble
  private val refs = mutable.Map[String, Seq[(Long, Long, Long)]]()

  private def call(sql: String, group: String): (Array[Row], Double, Double, Double) = {
    val t0 = System.nanoTime()
    tracer.group(s"$group:expand")
    val df = spark.sql(sql)
    val expandMs = ms(t0)
    tracer.group(s"$group:exec")
    val rows = df.collect()
    val wall = ms(t0)
    tracer.group(null)
    Pace.sample()
    val phases = df.queryExecution.tracker.phases
    val planMs = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs.toDouble).sum
    (rows, wall, expandMs, planMs)
  }

  def setup(out: Obj): Unit = {
    new File(s"$runDir/results").mkdirs()
    spark.conf.set(Ann.IndexRootConf, s"$runDir/index_search")
    val firstCalls = obj()
    for (t <- tiers) {
      val (rows, wall, _, _) = call(t.sql(dir, setupQ, setupK), s"setup:${t.name}")
      firstCalls(t.name) = wall / 1e3
      dump(s"$runDir/results/${t.name}_setup.tsv", rows)
      if ((nq, k) == (setupQ, setupK)) refs(t.name) = fingerprint(rows)
    }
    out("first_call_s") = firstCalls
    out("cached_mb") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
  }

  /** [[WarmUpRounds]] untimed rounds, then timed rounds for `seconds`, at
    * least [[MinTimedRounds]]. A traced run alternates timed rounds with
    * the listener detached, so the tracing overhead is measured in the
    * same window. */
  def loop(out: Obj): Unit = {
    spark.conf.set(Ann.IndexRootConf, s"$runDir/index_search")
    val calls = tiers.map(t => t.name -> mutable.ArrayBuffer[Obj]()).toMap
    var attempted = 0; var failed = 0
    val failures = mutable.ArrayBuffer[String]()
    var deadline = Long.MaxValue
    var round = 0
    while (round < WarmUpRounds + MinTimedRounds || System.nanoTime() < deadline) {
      if (round == WarmUpRounds) deadline = System.nanoTime() + (seconds * 1e9).toLong
      val warmUp = round < WarmUpRounds
      val traced = trace && !warmUp && (round - WarmUpRounds) % 2 == 0
      if (trace) { if (traced) tracer.attach() else tracer.detach() }
      for (t <- tiers) {
        val g = s"r$round:${t.name}"
        attempted += 1
        try {
          val (rows, wall, expandMs, planMs) = call(t.sql(dir, nq, k), g)
          if (!refs.contains(t.name)) {
            refs(t.name) = fingerprint(rows)
            dump(s"$runDir/results/${t.name}_measured.tsv", rows)
          }
          val ok = fingerprint(rows) == refs(t.name)
          if (!ok) { failed += 1; failures += s"${t.name}: rows differ from the first call" }
          calls(t.name) += obj("wall_ms" -> wall, "expand_ms" -> expandMs, "plan_ms" -> planMs,
            "group" -> g, "warm_up" -> warmUp, "traced" -> traced, "ok" -> ok)
        } catch { case e: Exception =>
          tracer.group(null)
          failed += 1; failures += s"${t.name}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
      round += 1
    }
    if (trace) tracer.attach()
    out("attempted") = attempted
    out("failed") = failed
    out("failures") = failures
    out("calls") = calls
  }
}

/** Registry slice: the selected [[SparkEntry.queries]] in name order,
  * in passes, each on its own copy of the tables with an empty index
  * root. Each result is `collect()`ed and timed — every output column and
  * the final sort, as a caller receives them. Pass 0 is the cold pass; its
  * results are written as parquet, untimed, for the DuckDB oracle check. */
final class RegistryRun(
    spark: SparkSession, tracer: Tracer, trace: Boolean,
    opt: Map[String, String], runDir: String) {
  import Driver._

  private val dirs = opt("tables_dirs").split(",").toSeq
  private val moduleOf: Map[String, String] = SparkEntry.modules.flatMap { m =>
    m.all.map(q => q.name -> m.getClass.getSimpleName.stripSuffix("$"))
  }.toMap
  // `query:module` pairs; a module that is not the query's own stops the run
  private val names = opt("registry_queries").split(",").toSeq.map { x =>
    val Array(name, module) = x.split(":")
    require(moduleOf.get(name).contains(module),
      s"registry query $name is registered by ${moduleOf.getOrElse(name, "no module")}, not $module")
    name
  }

  private val timed = mutable.ArrayBuffer[Obj]()
  private val failures = mutable.ArrayBuffer[String]()

  def run(out: Obj): Unit = {
    dirs.indices.foreach(pass)
    out("registry") = obj("attempted" -> names.length * dirs.length, "failed" -> failures.length,
      "failures" -> failures, "queries" -> timed)
  }

  private def pass(pass: Int): Unit = {
    val dir = dirs(pass)
    if (pass == 0)
      writeJson(s"$runDir/oracle_sql.json", SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) })
    if (trace) tracer.drainPlanMs() // drop earlier planning events
    spark.conf.set(Ann.IndexRootConf, s"$runDir/index_registry$pass")
    for (name <- names) {
      val g = s"reg$pass:$name"
      val t0 = System.nanoTime()
      try {
        tracer.group(g)
        val df = SparkEntry.queries(name)(spark, dir)
        val rows = df.collect()
        val wall = ms(t0)
        tracer.group(null)
        Pace.sample()
        val planMs = if (trace) tracer.drainPlanMs() else 0.0
        timed += obj("name" -> name, "module" -> moduleOf(name), "pass" -> pass,
          "group" -> g, "wall_ms" -> wall, "plan_ms" -> planMs)
        if (pass == 0) {
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .write.mode("overwrite").parquet(s"$runDir/regout/$name")
          if (trace) tracer.drainPlanMs() // the write's planning is not the next query's
        }
      } catch { case e: Exception =>
        tracer.group(null)
        failures += s"pass $pass $name: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
  }
}

/** In-memory tracing: Spark listener counts attributed to the job group
  * of the layer call that submitted them, plus the planning phases of
  * every query execution. Nothing is written until the run ends. */
final class Tracer(spark: SparkSession) {
  import Driver._

  final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }
  private val sc = spark.sparkContext
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val accs = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val qeEvents = new ConcurrentLinkedQueue[java.lang.Double]()
  @volatile private var jobsStarted = 0L
  @volatile private var jobsEnded = 0L
  @volatile private var lastEventNs = System.nanoTime()

  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
      e.stageIds.foreach(s => stageGroup.put(s, g))
      acc(g).jobs += 1
      jobsStarted += 1; lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded += 1; lastEventNs = System.nanoTime() }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs = System.nanoTime()
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(stageGroup.getOrDefault(e.stageId, "-"))
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      qeEvents.add(Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs.toDouble).sum)
      lastEventNs = System.nanoTime()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lastEventNs = System.nanoTime()
  }
  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener); spark.listenerManager.register(qeListener); attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener); attached = false
  }

  /** Tags the jobs this thread submits next (null clears the tag). */
  def group(g: String): Unit =
    if (g == null) sc.clearJobGroup() else sc.setJobGroup(g, g, interruptOnCancel = false)

  /** Waits (bounded) until the listener bus has delivered every event of
    * the calls made so far. */
  def drain(): Unit = {
    val limit = System.nanoTime() + 5000000000L
    while (System.nanoTime() < limit &&
      (jobsStarted != jobsEnded || System.nanoTime() - lastEventNs < 30000000L)) Thread.sleep(2)
  }

  /** Planning time of every query execution since the last call. */
  def drainPlanMs(): Double = {
    drain()
    var s = 0.0
    var x = qeEvents.poll()
    while (x != null) { s += x.doubleValue; x = qeEvents.poll() }
    s
  }

  /** Listener counts per job group. */
  def layerTotals(): Obj = {
    drain()
    val groups = obj()
    accs.asScala.toSeq.sortBy(_._1).foreach { case (g, a) =>
      groups(g) = obj("jobs" -> a.jobs, "tasks" -> a.tasks, "cpu_ms" -> a.cpuNs / 1e6,
        "run_ms" -> a.runMs, "gc_ms" -> a.gcMs, "input_mb" -> a.inputBytes / 1e6,
        "shuffle_mb" -> a.shuffleBytes / 1e6, "spill_mb" -> a.spillBytes / 1e6)
    }
    groups
  }
}
