package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** JVM side of the benchmark; perfbench/run.py launches it.
  *
  * It owns the SparkSession, calls only the engine's public entry points
  * (`SparkEntry.queries`, `TrainingData.prebuildCaches`) and measures
  * them from outside: wall clocks around each call, a SparkListener keyed
  * by the job group set before each call, and a stack sampler on the op
  * thread. It lives under `org.apache.spark` only to drain the listener
  * bus (`LiveListenerBus.waitUntilEmpty` is `private[spark]`).
  *
  * Usage: Harness <spec.properties> <out.json>. The spec names the mode
  * (`run`, or `prebuild` to build every store once), the fixture
  * directory, the ops, the seed, the run length and whether to trace. An
  * op is a query name, or `store:<name>` to rebuild one persisted store.
  * The output is one JSON document of raw per-op records; run.py turns it
  * into metrics.
  */
object Harness {
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val spec = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try spec.load(in) finally in.close()
    def p(k: String): String = Option(spec.getProperty(k)).getOrElse(
      throw new IllegalArgumentException(s"spec has no '$k'"))
    val out = Paths.get(args(1))
    val sfDir = p("sf_dir")
    p("mode") match {
      case "prebuild" =>
        val spark = session()
        try graft.queries.TrainingData.prebuildCaches(spark, sfDir) finally stop(spark)
        Files.writeString(out, "{}")
      case "run" =>
        // set-up counts from JVM launch: JVM start, class loading, session
        // start, table plans and the store presence check
        val spark = session()
        setUp(spark, sfDir)
        val setupS = (now() - p("launch_ms").toLong) / 1e3
        try {
          val run = new Run(spark, sfDir, p("ops").split(',').toSeq,
            p("seconds").toDouble, p("trace") == "1", p("seed").toLong)
          Files.writeString(out, run.execute(setupS))
        } finally stop(spark)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  /** The session a user of the engine would start: local[nproc]. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Everything a user pays between session start and the first op:
    * loading the table plans (file listing and parquet footers; no Spark
    * job) and the store presence check (the stores are prebuilt). */
  private def setUp(spark: SparkSession, sfDir: String): Unit = {
    Tables.foreach(t => graft.core.Tables.table(spark, sfDir, t))
    graft.core.Tables.events(spark, sfDir)
    graft.queries.TrainingData.prebuildCaches(spark, sfDir)
  }

  def now(): Long = System.currentTimeMillis()

  /** Order-independent digest of every output column: the row count and
    * the sum (mod 2^64) of one 64-bit hash per row. Unlike `count()`,
    * Catalyst cannot prune a column the hash reads, so the action pays
    * for every value a user would materialize. Columns are renamed first,
    * so duplicate or dotted output names hash like any other. */
  def digest(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = named.select(xxhash64(named.columns.toSeq.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val s = Option(r.getDecimal(1)).map(_.toBigInteger)
      .getOrElse(java.math.BigInteger.ZERO)
    (r.getLong(0), s.longValue())
  }

  def json(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Counters of one op phase (`build` or `action`). */
final class PhaseCounters {
  var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var result = 0L; var scanBytes = 0L; var scanRows = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** A span of the trace: run > pass > op > phase > job > stage. */
final case class Span(id: String, parent: String, kind: String,
    name: String, start: Long, end: Long)

/** Listener that charges every job, stage and task to the op phase named
  * by the job group the harness set before the call. Local properties
  * reach the AQE threads that submit most SQL jobs; a job without a group
  * falls back to the phase that was open when it started. */
final class OpListener extends SparkListener {
  @volatile var current: String = ""
  val phases = new ConcurrentHashMap[String, PhaseCounters]()
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobOwner = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  private def counters(key: String): PhaseCounters =
    phases.computeIfAbsent(key, _ => new PhaseCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse(current)
    jobOwner.put(e.jobId, group)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach { s => stageOwner.put(s, group); stageJob.put(s, e.jobId) }
    val c = counters(group)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val group = jobOwner.getOrDefault(e.jobId, current)
    val start = jobStart.getOrDefault(e.jobId, e.time)
    val c = counters(group)
    c.synchronized { c.jobSpans += ((start, e.time)) }
    spans.add(Span(s"job${e.jobId}", group, "job", s"job ${e.jobId}", start, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val group = stageOwner.getOrDefault(i.stageId, current)
    val c = counters(group)
    c.synchronized { c.stages += 1 }
    val job = if (stageJob.containsKey(i.stageId)) s"job${stageJob.get(i.stageId)}" else group
    spans.add(Span(s"stage${i.stageId}.${i.attemptNumber()}", job, "stage",
      i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageOwner.getOrDefault(e.stageId, current))
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.result += m.resultSize
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.scanBytes += m.inputMetrics.bytesRead
        c.scanRows += m.inputMetrics.recordsRead
      }
    }
  }
}

/** Samples the op thread's stack and charges each interval to the
  * innermost `graft.<module>` frame, split into running on the Spark driver
  * (`RUNNABLE`) and waiting (parked on a Spark job or its AQE stages).
  * Intervals inside an `ensure*` store method are also charged to that
  * store. */
final class StackSampler(target: Thread, periodMs: Long) extends Thread("perfbench-sampler") {
  setDaemon(true)
  @volatile var key: String = ""
  @volatile private var running = true
  /** key -> bucket ("<module>.driver_s" etc.) -> seconds */
  val buckets = new ConcurrentHashMap[String, mutable.Map[String, Double]]()
  private val mx = ManagementFactory.getThreadMXBean
  private val Ensure = """.*ensure([A-Z][A-Za-z]*)$""".r

  override def run(): Unit = {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(periodMs)
      val t = System.nanoTime()
      val dt = (t - last) / 1e9
      last = t
      val k = key
      if (k.nonEmpty) {
        val info = mx.getThreadInfo(target.getId, Int.MaxValue)
        if (info != null) {
          val frames = info.getStackTrace
          val waiting = info.getThreadState != Thread.State.RUNNABLE
          val b = buckets.computeIfAbsent(k, _ => mutable.Map.empty)
          frames.find(_.getClassName.startsWith("graft.")).foreach { f =>
            val parts = f.getClassName.split('.')
            val m = if (parts.length > 2) parts(1) else "graft"
            val bucket = s"$m.${if (waiting) "job_wait_s" else "driver_s"}"
            b.synchronized { b(bucket) = b.getOrElse(bucket, 0.0) + dt }
          }
          frames.iterator.filter(_.getClassName.startsWith("graft.queries.TrainingData"))
            .map(_.getMethodName).collectFirst { case Ensure(s) => s }.foreach { s =>
            val bucket = s"stores.${snake(s)}.build_s"
            b.synchronized { b(bucket) = b.getOrElse(bucket, 0.0) + dt }
          }
        }
      }
    }
  }

  def finish(): Unit = { running = false; join() }

  private def snake(s: String): String =
    s.replaceAll("([a-z])([A-Z])", "$1_$2").toLowerCase
}

/** One benchmark run in a fresh JVM: a cold pass, then warm passes until
  * `seconds` of warm passes are spent, and at least `MinWarmPasses`. */
final class Run(spark: SparkSession, sfDir: String, ops: Seq[String],
    seconds: Double, trace: Boolean, seed: Long) {
  import Harness.{json, now}

  private val sc = spark.sparkContext
  private val listener = new OpListener
  private val sampler = new StackSampler(Thread.currentThread(), 5)
  private val records = mutable.ArrayBuffer.empty[String]
  private val passes = mutable.ArrayBuffer.empty[String]
  private val storeRoot = Paths.get("target")
  private val storeTag = "_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
  private val rnd = new scala.util.Random(seed)
  private var blockPeak = 0L

  /** A traced run needs one traced and one untraced warm pass. */
  private val MinWarmPasses = 2

  def execute(setupS: Double): String = {
    if (trace) sampler.start()
    val loadBefore = loadAvg()
    var warmStart = 0L
    var pass = 0
    while (pass <= MinWarmPasses || (now() - warmStart) / 1e3 < seconds) {
      if (pass == 1) warmStart = now()
      // in a traced run the cold pass and every even pass are traced and
      // the odd passes are not, so one run also measures tracing overhead
      val traced = trace && pass % 2 == 0
      if (traced) sc.addSparkListener(listener)
      val ps = now()
      // every pass runs the ops in its own seeded order, so one run
      // averages over orders instead of measuring one
      rnd.shuffle(ops).foreach(op => runOp(pass, op, traced))
      if (traced) {
        sc.listenerBus.waitUntilEmpty()
        sc.removeSparkListener(listener)
        listener.spans.add(Span(s"p$pass", "run", "pass", s"pass $pass", ps, now()))
      }
      passes += s"""{"pass":$pass,"traced":$traced,"start":$ps,"end":${now()}}"""
      pass += 1
    }
    val loadAfter = loadAvg()
    if (trace) sampler.finish()
    // the least heap in use over three full collections: garbage whose
    // cleanup is queued (e.g. by Spark's ContextCleaner) is not retained
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val spans = listener.spans.asScala.map { s =>
      s"""{"id":${json(s.id)},"parent":${json(s.parent)},"kind":${json(s.kind)},""" +
        s""""name":${json(s.name)},"start":${s.start},"end":${s.end}}"""
    }.mkString(",")
    s"""{"cpus":${sc.defaultParallelism},"setup_s":$setupS,""" +
      s""""heap_mb":$heapMb,"load_before":$loadBefore,"load_after":$loadAfter,""" +
      s""""block_mb_peak":${blockPeak / 1048576.0},""" +
      s""""passes":${passes.mkString("[", ",", "]")},""" +
      s""""ops":${records.mkString("[", ",\n", "]")},""" +
      s""""spans":[$spans]}"""
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Runs one phase of an op under its job group and, when traced, returns
    * its listener and sampler counters. Drains the listener bus first so
    * no late event of the phase is lost. */
  private def phase[T](key: String, traced: Boolean)(body: => T): (T, String) = {
    sc.setJobGroup(key, key, interruptOnCancel = false)
    if (traced) { listener.current = key; sampler.key = key }
    val start = now()
    val result = try body finally {
      if (traced) { sampler.key = ""; listener.current = "" }
      sc.clearJobGroup()
    }
    val end = now()
    if (!traced) return (result, s"""{"start":$start,"end":$end}""")
    sc.listenerBus.waitUntilEmpty()
    val c = Option(listener.phases.remove(key)).getOrElse(new PhaseCounters)
    val samples = Option(sampler.buckets.remove(key)).map(_.toMap).getOrElse(Map.empty)
    listener.spans.add(Span(key, key.split('/').init.mkString("/"), "phase",
      key.split('/').last, start, end))
    val covered = union(c.jobSpans.toSeq.map { case (a, b) =>
      (math.max(a, start), math.min(b, end)) }.filter(x => x._2 > x._1))
    val fields = Seq(
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "failed_tasks" -> c.failedTasks, "run_s" -> c.runMs / 1e3,
      "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
      "shuffle_write_b" -> c.shuffleWrite, "shuffle_read_b" -> c.shuffleRead,
      "spill_b" -> c.spill, "result_b" -> c.result,
      "scan_b" -> c.scanBytes, "scan_rows" -> c.scanRows,
      "in_job_s" -> covered / 1e3)
    val sampled = samples.map { case (k, v) => s"${json(k)}:$v" }.mkString(",")
    (result, s"""{"start":$start,"end":$end,""" +
      fields.map { case (k, v) => s""""$k":$v""" }.mkString(",") +
      s""","samples":{$sampled}}""")
  }

  /** Length of the union of the intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** One op. A query is built (the query function) and then reduced to
    * its digest (the action). A store op deletes the store from the run's
    * private store directory and calls prebuildCaches, which rebuilds just
    * that store and only checks the others; the rebuilt store is then read
    * back and digested, outside the op's time. */
  private def runOp(pass: Int, op: String, traced: Boolean): Unit = {
    val key = s"p$pass/$op"
    var error: String = null
    var rows = 0L; var dig = 0L; var files = 0L; var bytes = 0L
    var build = "null"; var action = "null"
    val s0 = now()
    var end = 0L
    try {
      if (op.startsWith("store:")) {
        val store = op.stripPrefix("store:")
        storeDir(store).foreach(deleteTree)
        build = phase(s"$key/build", traced) {
          graft.queries.TrainingData.prebuildCaches(spark, sfDir)
        }._2
        end = now()
        val dir = storeDir(store).getOrElse(
          throw new IllegalStateException(s"prebuildCaches did not rebuild $store"))
        storeTables(dir).foreach { t =>
          val (r, d) = Harness.digest(spark.read.parquet(t.toString))
          rows += r; dig += d
        }
        val st = Files.walk(dir)
        try st.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
          files += 1; bytes += Files.size(f)
        } finally st.close()
      } else {
        val (df, b) = phase(s"$key/build", traced) {
          graft.SparkEntry.queries(op)(spark, sfDir)
        }
        build = b
        val ((r, d), a) = phase(s"$key/action", traced)(Harness.digest(df))
        action = a; rows = r; dig = d
        end = now()
      }
    } catch {
      case t: VirtualMachineError => throw t
      case t: Throwable => error = s"${t.getClass.getName}: ${t.getMessage}".take(500)
    }
    if (end == 0L) end = now()
    if (traced) {
      blockPeak = math.max(blockPeak, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      listener.spans.add(Span(key, s"p$pass", "op", op, s0, end))
    }
    records += s"""{"pass":$pass,"op":${json(op)},"traced":$traced,""" +
      s""""start":$s0,"end":$end,"rows":$rows,"digest":"$dig",""" +
      s""""error":${json(error)},"files":$files,"bytes":$bytes,""" +
      s""""build":$build,"action":$action}"""
  }

  private def storeDir(store: String): Option[Path] = {
    val st = Files.list(storeRoot)
    try st.iterator().asScala.find(_.getFileName.toString.startsWith(store + storeTag))
    finally st.close()
  }

  /** The tables of a store: every directory under it holding `_SUCCESS`. */
  private def storeTables(store: Path): Seq[Path] = {
    val st = Files.walk(store)
    try st.iterator().asScala.filter(_.getFileName.toString == "_SUCCESS")
      .map(_.getParent).toSeq.sortBy(_.toString)
    finally st.close()
  }

  private def deleteTree(root: Path): Unit = {
    val st = Files.walk(root)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally st.close()
  }
}
