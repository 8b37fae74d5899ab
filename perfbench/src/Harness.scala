package graft.perfbench

import graft.{Bench, SparkEntry, Tables}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import java.io.{File, PrintWriter}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: runs registered queries as a closed loop with
  * one client and writes raw measurements as JSON for `perfbench/run.py`,
  * which turns them into metrics and checks the checksums.
  *
  *   gen  <srcDir> <dstDir> <replicas> <tag>   scale a base data set up (graft.ScaleUp)
  *   hash <dataDir> <out.json>                 row count and content hash of every table
  *   run  <config.properties>                  one benchmark run
  *
  * Every layer is measured from outside: calls into the query functions are
  * timed, the Catalyst phases are forced one at a time, a SparkListener and
  * a log appender count jobs, tasks and codegen, and the executed (post-AQE)
  * plan is walked for operator and exchange counts. */
object Harness {
  val Tables10 = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = args(0) match {
    case "gen" => graft.ScaleUp.main(args.drop(1))
    case "hash" => hashTables(args(1), args(2))
    case "run" => new Run(Config.load(args(1))).run()
    case other => sys.error(s"unknown mode $other")
  }

  def session(dataDir: String, cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Bench.shufflePartitions(dataDir, cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The result checksum of `graft.Bench.forceEval`, kept as a value. */
  def checksum(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (Bench.hasMapType(f.dataType)) s"xxhash64(to_json(`${f.name}`))" else s"`${f.name}`"
    }
    df.selectExpr(s"bit_xor(xxhash64(struct(${cols.mkString(",")}))) AS checksum")
  }

  def hex(v: Any): String = v match {
    case null => "null"
    case l: Long => f"$l%016x"
    case other => other.toString
  }

  /** The Tables layer: a full-column checksum and row count of each base
    * table, read the way queries read them (through graft.Tables). */
  def scanTables(spark: SparkSession, dataDir: String): Seq[Json.Raw] = Tables10.map { t =>
    val t0 = System.nanoTime()
    val r = checksum(Tables(spark, dataDir, t)).head()
    val sec = (System.nanoTime() - t0) / 1e9
    val n = Tables(spark, dataDir, t).count()
    val bytes = Option(new File(s"$dataDir/$t.parquet").listFiles()).map(_.map(_.length).sum)
      .getOrElse(new File(s"$dataDir/$t.parquet").length)
    Json.obj("table" -> t, "rows" -> n, "hash" -> hex(r.get(0)), "scan_s" -> sec, "bytes" -> bytes)
  }

  def hashTables(dataDir: String, out: String): Unit = {
    val spark = session(dataDir, Runtime.getRuntime.availableProcessors,
      new File(out).getAbsoluteFile.getParent)
    val tables = scanTables(spark, dataDir)
    spark.stop()
    Json.write(out, Json.obj("tables" -> tables))
  }
}

/** Run settings, written by run.py as a properties file. */
case class Config(workload: String, dataDir: String, workDir: String, seed: Long,
                  passes: Int, trace: Boolean, cores: Int, queries: Seq[String],
                  storeQueries: Set[String],
                  launchEpochNs: Long, deadlineEpochNs: Long, capSec: Double,
                  injectFailure: Boolean, out: String, spans: String)

object Config {
  def load(path: String): Config = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(path)
    try p.load(in) finally in.close()
    def list(k: String) = p.getProperty(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Config(p.getProperty("workload"), p.getProperty("dataDir"), p.getProperty("workDir"),
      p.getProperty("seed").toLong, p.getProperty("passes").toInt,
      p.getProperty("trace") == "1", p.getProperty("cores").toInt, list("queries"),
      list("storeQueries").toSet, p.getProperty("launchEpochNs").toLong,
      p.getProperty("deadlineEpochNs").toLong, p.getProperty("capSec", "0").toDouble,
      p.getProperty("injectFailure", "0") == "1", p.getProperty("out"), p.getProperty("spans"))
  }
}

/** A timed interval on the epoch-nanosecond clock. */
case class Span(trace: String, id: Long, parent: Long, name: String, start: Long, end: Long)

/** The benchmark's own SparkListener: counts per job group (= trace id)
  * and keeps job and stage intervals for the span tree. */
class ExecListener extends SparkListener {
  case class Job(group: String, start: Long, var end: Long)
  case class Stage(job: Int, start: Long, end: Long)
  val jobs = mutable.Map[Int, Job]()
  val stages = mutable.Map[Int, Stage]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, Int]()
  val counters = mutable.Map[String, mutable.Map[String, Double]]()

  private def add(group: String, k: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(group, mutable.Map[String, Double]().withDefaultValue(0.0))
    m(k) += v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(g, e.time * 1000000L, e.time * 1000000L)
    e.stageIds.foreach { s => stageGroup.getOrElseUpdate(s, g); stageJob.getOrElseUpdate(s, e.jobId) }
    add(g, "jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val g = stageGroup.getOrElse(i.stageId, "")
    add(g, "stages", 1)
    for (s <- i.submissionTime; c <- i.completionTime)
      stages(i.stageId * 1000 + i.attemptNumber()) =
        Stage(stageJob.getOrElse(i.stageId, -1), s * 1000000L, c * 1000000L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    add(g, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(g, "task_run_s", m.executorRunTime / 1e3)
      add(g, "task_cpu_s", m.executorCpuTime / 1e9)
      add(g, "gc_s", m.jvmGCTime / 1e3)
      add(g, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add(g, "shuffle_read_mb",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1048576.0)
      add(g, "spill_mb", m.diskBytesSpilled / 1048576.0)
      add(g, "input_mb", m.inputMetrics.bytesRead / 1048576.0)
    }
  }
}

/** Counts codegen compilations (with their time) and whole-stage codegen
  * fallbacks from Spark's own log lines. */
class CodegenLog extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "perfbench-codegen", null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  @volatile var compileMs = 0.0
  @volatile var compiles = 0L
  @volatile var fallbacks = 0L
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = synchronized {
    val msg = e.getMessage.getFormattedMessage
    msg match {
      case Generated(ms) => compiles += 1; compileMs += ms.toDouble
      case _ =>
        val l = msg.toLowerCase
        if (l.contains("failed to compile") || l.contains("codegen disabled") ||
            l.contains("falling back") || l.contains("fall back")) fallbacks += 1
    }
  }
}

object CodegenLog {
  val Loggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  def attach(): CodegenLog = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.LoggerConfig
    val app = new CodegenLog
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    Loggers.foreach { name =>
      // Own logger configs, not additive: the INFO compile lines reach only
      // this appender, not the console.
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(app, Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
    app
  }
}

/** Walks an executed plan, through AQE stages and subqueries. */
object PlanStats {
  private def isTiming(m: org.apache.spark.sql.execution.metric.SQLMetric) = m.metricType == "timing"

  def apply(root: SparkPlan): Map[String, Double] = {
    val c = mutable.Map[String, Double]().withDefaultValue(0.0)
    def metric(p: SparkPlan, name: String, into: String): Unit =
      p.metrics.get(name).foreach { m =>
        val v = if (isTiming(m)) m.value / 1e3 else if (m.metricType == "nsTiming") m.value / 1e9 else m.value.toDouble
        c(into) += v
      }
    def walk(p: SparkPlan, fused: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, fused)
      case s: QueryStageExec => walk(s.plan, fused)
      case _: ReusedExchangeExec => ()
      case w: WholeStageCodegenExec =>
        c("wscg_stages") += 1
        walk(w.child, fused = true)
      case i: InputAdapter => walk(i.child, fused = false)
      case other =>
        other match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => c("exchanges") += 1
          case _: BroadcastHashJoinExec => c("bhj") += 1
          case _: SortMergeJoinExec => c("smj") += 1
          case _: BroadcastNestedLoopJoinExec => c("bnlj") += 1
          case _ => ()
        }
        val structural = other.isInstanceOf[ShuffleExchangeLike] ||
          other.isInstanceOf[BroadcastExchangeLike] || other.isInstanceOf[AQEShuffleReadExec] ||
          other.isInstanceOf[BaseSubqueryExec]
        if (!fused && !structural) c("non_wscg_ops") += 1
        metric(other, "aggTime", "agg_time_s")
        metric(other, "sortTime", "sort_time_s")
        if (other.isInstanceOf[BroadcastExchangeLike]) metric(other, "buildTime", "bhj_build_s")
        other.metrics.get("peakMemory").foreach { m =>
          c("peak_mem_mb") = math.max(c("peak_mem_mb"), m.value / 1048576.0)
        }
        other.children.foreach(walk(_, fused))
        other.subqueries.foreach(walk(_, fused = false))
    }
    walk(root, fused = false)
    c.toMap
  }
}

class Run(cfg: Config) {
  private val clockBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now: Long = clockBase + System.nanoTime()
  // The per-query cap of graft.Bench: 60 s up to sf0.1, then +60 s per decade.
  private val capSec = if (cfg.capSec > 0) cfg.capSec
    else 60.0 * (1 + math.max(0, math.ceil(math.log10(Bench.sfOf(cfg.dataDir) / 0.1)).toLong))
  private val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r); t.setDaemon(true); t
  }
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 0L
  private def span(trace: String, parent: Long, name: String, s: Long, e: Long): Long = {
    nextSpan += 1; spans += Span(trace, nextSpan, parent, name, s, e); nextSpan
  }

  val InjectedFailure = "perfbench_injected_failure"
  val InjectedTimeout = "perfbench_injected_timeout"

  private def queryFn(name: String): (SparkSession, String) => DataFrame = name match {
    case InjectedFailure => (s, _) =>
      // Does real work before failing, so a failure that ended the timer
      // early would show as a shorter pass.
      s.range(0, 2000000).selectExpr("sum(id)").collect()
      throw new IllegalStateException("injected failure")
    case InjectedTimeout => (_, _) =>
      Thread.sleep(Long.MaxValue)
      throw new IllegalStateException("unreachable")
    case _ => SparkEntry.queries(name)
  }

  /** The set-up: a Spark context and session and the warm-ups of graft.Bench. */
  private def setUp(): SparkSession = {
    val dir = cfg.dataDir
    val spark = Harness.session(dir, cfg.cores, cfg.workDir)
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().collect()
    Tables(spark, dir, "events").selectExpr("max(ts)").collect()
    spark
  }

  def run(): Unit = {
    new File(cfg.workDir).mkdirs()
    val spark = setUp()
    // From the JVM's launch (stamped by run.py) to a ready, warmed session.
    val setupS = (now - cfg.launchEpochNs) / 1e9
    val sc = spark.sparkContext

    val listener = if (cfg.trace) Some(new ExecListener) else None
    listener.foreach(sc.addSparkListener)
    val codegen = if (cfg.trace) Some(CodegenLog.attach()) else None
    val queries = cfg.queries ++ (if (cfg.injectFailure) Seq(InjectedFailure, InjectedTimeout) else Nil)

    // Spark's execution pages are humongous objects, so they live in the G1
    // old generation next to what queries keep across young collections.
    val oldGen = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "G1 Old Gen").getOrElse(sys.error("perfbench needs the G1 collector"))
    val timedOut = mutable.Set[String]()
    val samples = mutable.ArrayBuffer[Json.Raw]()
    val passes = mutable.ArrayBuffer[Json.Raw]()
    // A fixed number of whole passes, so every run of a workload does the
    // same work. In a traced run the first pass is untraced and the rest
    // alternate traced and untraced, to measure the tracing overhead.
    (0 until cfg.passes).foreach { pass =>
      val traced = cfg.trace && pass % 2 == 1
      // The first pass warms the JVM (run.py does not measure it) and runs in
      // the listed order, so it warms the same way in every run; later
      // passes run in an order drawn from the seed.
      val order = if (pass == 0) queries
        else new scala.util.Random(cfg.seed * 1000003L + pass).shuffle(queries)
      val s = spark.newSession()
      var wall = 0.0
      var cpu = 0.0
      order.foreach { q =>
        // A query that timed out is not run again: each later pass charges
        // it the cap. Past the run's deadline nothing runs; what is left
        // fails, so the run still ends with a result.
        val (fields, w, c) =
          if (timedOut(q)) notRun(q, pass, traced, "timeout", capSec, "timed out in an earlier pass")
          else if (now >= cfg.deadlineEpochNs) notRun(q, pass, traced, "deadline", 0.0, "run deadline reached")
          else {
            // The last GC left the old generation at what is kept between
            // queries; its peak from here is that plus what the query adds.
            oldGen.resetPeakUsage()
            val r = runQuery(s, q, pass, traced, listener, codegen)
            r._1("old_gen_peak_mb") = oldGen.getPeakUsage.getUsed / 1048576.0
            s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
            System.gc()
            r
          }
        if (fields("status") == "timeout") timedOut += q
        wall += w; cpu += c
        samples += Json.obj(fields.toSeq: _*)
      }
      passes += Json.obj("pass" -> pass, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "queries" -> order.size)
    }

    val extra = if (cfg.trace) Json.obj(
      "functions" -> FunctionBench(spark, cfg.dataDir),
      "tables" -> Harness.scanTables(spark.newSession(), cfg.dataDir)) else Json.obj()
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0) finally status.close()
    Json.write(cfg.out, Json.obj(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "setup_s" -> setupS,
      "peak_rss_mb" -> hwmKb / 1024.0, "cores" -> cfg.cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "cap_s" -> capSec, "passes" -> passes.toSeq,
      "samples" -> samples.toSeq, "extra" -> extra))
    if (cfg.trace) {
      val w = new PrintWriter(cfg.spans)
      try spans.foreach { s =>
        w.println(Json.obj("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end))
      } finally w.close()
    }
    sc.setLogLevel("OFF")
    spark.stop()
  }

  /** One query: the query function call and the checksum action, watchdogged.
    * Returns its record's fields, its wall seconds and the process CPU
    * seconds. */
  private def runQuery(s: SparkSession, q: String, pass: Int, traced: Boolean,
                       listener: Option[ExecListener], codegen: Option[CodegenLog]): (mutable.LinkedHashMap[String, Any], Double, Double) = {
    val trace = s"$q#$pass"
    val marks = new Array[Long](5)
    val cg0 = codegen.map(c => (c.compiles, c.compileMs, c.fallbacks))
    var plan: Map[String, Double] = Map.empty
    val cpu0 = cpuBean.getProcessCpuTime
    val start = now
    val fut = pool.submit(new Callable[String] {
      def call(): String = {
        s.sparkContext.setJobGroup(trace, trace, interruptOnCancel = true)
        marks(0) = now
        val df = queryFn(q)(s, cfg.dataDir)
        marks(1) = now
        val cs = Harness.checksum(df)
        if (traced) {
          cs.queryExecution.optimizedPlan
          marks(2) = now
          cs.queryExecution.executedPlan
          marks(3) = now
        }
        val v = cs.collect().head.get(0)
        marks(4) = now
        if (traced) plan = PlanStats(cs.queryExecution.executedPlan)
        Harness.hex(v)
      }
    })
    // The cap, cut short where it would run past the run's deadline.
    val capMs = math.max(0L, math.min((capSec * 1000).toLong, (cfg.deadlineEpochNs - start) / 1000000L))
    val (status, value, err) =
      try ("ok", fut.get(capMs, TimeUnit.MILLISECONDS), "")
      catch {
        case _: TimeoutException =>
          s.sparkContext.cancelJobGroup(trace)
          fut.cancel(true)
          // Stopped by the run's deadline before its cap: not a timeout,
          // so later passes do not charge it the cap.
          if (capMs < capSec * 1000) ("deadline", "", s"stopped by the run deadline after ${capMs / 1000.0}s")
          else ("timeout", "", s"exceeded ${capMs / 1000.0}s")
        case e: java.util.concurrent.ExecutionException =>
          ("error", "", String.valueOf(e.getCause))
      }
    val end = now
    val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
    if (status == "timeout" || status == "deadline") {
      val deadline = System.nanoTime() + 15000000000L
      while (s.sparkContext.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
    }
    val latS = (end - start) / 1e9
    val fields = mutable.LinkedHashMap[String, Any]("q" -> q, "pass" -> pass, "traced" -> traced,
      "status" -> status, "lat_s" -> latS, "cpu_s" -> cpuS, "checksum" -> value, "error" -> err)
    if (traced && status == "ok") {
      PerfbenchBridge.drainListenerBus(s.sparkContext)
      val l = listener.get
      val root = span(trace, 0, "query", start, end)
      val build = span(trace, root, "ops.build", marks(0), marks(1))
      val opt = span(trace, root, "catalyst.optimize", marks(1), marks(2))
      val phys = span(trace, root, "catalyst.plan", marks(2), marks(3))
      val exec = span(trace, root, "exec.collect", marks(3), marks(4))
      var buildJobs = 0
      l.synchronized {
        l.jobs.filter(_._2.group == trace).toSeq.sortBy(_._1).foreach { case (jobId, j) =>
          val parent =
            if (j.start < marks(1)) { buildJobs += 1; build }
            else if (j.start < marks(2)) opt
            else if (j.start < marks(3)) phys
            else exec
          val js = span(trace, parent, "spark.job", j.start, j.end)
          l.stages.filter(_._2.job == jobId).values.toSeq.sortBy(_.start).foreach { st =>
            span(trace, js, "spark.stage", st.start, st.end)
          }
        }
        fields ++= l.counters.getOrElse(trace, Map.empty[String, Double]).map { case (k, v) => s"exec.$k" -> v }
      }
      fields ++= Seq("ops.build_s" -> (marks(1) - marks(0)) / 1e9,
        "catalyst.optimize_s" -> (marks(2) - marks(1)) / 1e9,
        "catalyst.plan_s" -> (marks(3) - marks(2)) / 1e9,
        "exec.collect_s" -> (marks(4) - marks(3)) / 1e9,
        "ops.build_jobs" -> buildJobs)
      fields ++= plan.map { case (k, v) =>
        (if (Set("agg_time_s", "sort_time_s", "bhj_build_s", "peak_mem_mb")(k)) s"op.$k" else s"plan.$k") -> v
      }
      for (c <- codegen; (c0, ms0, f0) <- cg0)
        fields ++= Seq("codegen.compiles" -> (c.compiles - c0), "codegen.compile_s" -> (c.compileMs - ms0) / 1e3,
          "codegen.fallbacks" -> (c.fallbacks - f0))
      if (cfg.storeQueries(q)) fields ++= storeFiles(start).map { case (k, v) => s"store.$k" -> v }
    }
    (fields, latS, cpuS)
  }

  /** The record of a query that is not run: failed, charged `latS`. */
  private def notRun(q: String, pass: Int, traced: Boolean, status: String, latS: Double,
                     why: String): (mutable.LinkedHashMap[String, Any], Double, Double) =
    (mutable.LinkedHashMap[String, Any]("q" -> q, "pass" -> pass, "traced" -> traced,
      "status" -> status, "lat_s" -> latS, "cpu_s" -> 0.0, "checksum" -> "", "error" -> why), latS, 0.0)

  /** Bytes and files of store data written since `sinceNs`: what
    * graft.ops.TextOps keeps under its `graft_store_*` root in java.io.tmpdir. */
  private def storeFiles(sinceNs: Long): Map[String, Double] = {
    val since = sinceNs / 1000000L
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val roots = Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_store_"))
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val written = roots.flatMap(files).filter(_.lastModified() >= since)
    Map("bytes_written_mb" -> written.map(_.length).sum / 1048576.0, "files" -> written.size.toDouble)
  }
}

/** Rows per second of each native expression in graft.functions, with
  * codegen and interpreted, on the data set's embeddings and documents. */
object FunctionBench {
  import graft.functions.Functions
  def apply(spark: SparkSession, dataDir: String): Json.Raw = {
    val s = spark.newSession()
    // Enough rows that the expression, not job start-up, sets the time.
    def rows(t: String, c: String, n: Int) = Tables(s, dataDir, t).select(col(c))
      .crossJoin(s.range(0, n).select(col("id").as("copy"))).select(col(c)).cache()
    val emb = rows("embeddings", "embedding", 40)
    val docs = rows("documents", "text", 20)
    val nEmb = emb.count()
    val nDocs = docs.count()
    val first = emb.head().getSeq[Float](0).toArray
    val q = typedLit(first)
    val qd = typedLit(first.map(_.toDouble))
    val codebook = emb.limit(16).collect().map(_.getSeq[Float](0).take(8).map(_.toDouble).toArray)
    val sh = Functions.shingles(col("text"), 5)
    val cases: Seq[(String, DataFrame, Long, org.apache.spark.sql.Column)] = Seq(
      ("cosine_sim", emb, nEmb, Functions.cosineSim(col("embedding"), q)),
      ("squared_distance", emb, nEmb,
        Functions.squaredDistance(col("embedding").cast("array<double>"), qd)),
      ("pq_argmin", emb, nEmb, Functions.pqArgmin(col("embedding"), 0, codebook)),
      ("shingles", docs, nDocs, size(sh)),
      ("winnow_keys", docs, nDocs, size(Functions.winnowKeys(sh, 4))),
      ("hash_sample_mod", docs, nDocs, size(Functions.hashSampleMod(sh, 4))))
    val out = cases.flatMap { case (name, df, n, e) =>
      Seq(("rows_per_s", true), ("interp_rows_per_s", false)).map { case (metric, codegen) =>
        s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
        s.conf.set("spark.sql.codegen.factoryMode", if (codegen) "FALLBACK" else "NO_CODEGEN")
        val times = (0 until 3).map { _ =>
          val t0 = System.nanoTime()
          df.select(sum(e.cast("double"))).collect()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        s"$name.$metric" -> n / times(1)
      }
    }
    s.conf.set("spark.sql.codegen.wholeStage", "true")
    s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    emb.unpersist(); docs.unpersist()
    Json.obj(out: _*)
  }
}

/** Minimal JSON writer for the benchmark's records. */
object Json {
  /** Already-rendered JSON. */
  case class Raw(s: String) { override def toString: String = s }
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def write(path: String, s: Raw): Unit = {
    val w = new PrintWriter(path)
    try w.println(s) finally w.close()
  }
}
