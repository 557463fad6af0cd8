package perfbench

import java.io.File
import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, ModelStore, ModelTelemetry, SparkEntry}

/** Closed-loop harness of one workload: one query at a time from this thread
  * through `SparkEntry.queries`, each built (`queries(k)(spark, dir)`) and
  * then sunk into the noop format. Prints one JSON result line.
  *
  * Modes (`--mode`):
  *  - run:     set-up (a session, the check pass, `--warmup` more passes),
  *             then timed passes for `--seconds`. With `--trace 1` every
  *             second timed pass is traced and the per-layer metrics come
  *             from those, and one last pass from an empty model root
  *             measures the ModelStore write side.
  *  - prepare: one pass to fill a persistent model root.
  *  - digest:  digests of result dumps (`--dumps <dir>/<key>/`), printed
  *             as JSON, to pin expected outputs. */
object PerfBench {
  val mapper = new ObjectMapper()
  val GroupPrefix = "perfbench/"

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    o("mode") match {
      case "run"     => new Run(o).main()
      case "prepare" => new Run(o).prepare()
      case "digest"  => digestDumps(o)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(o: Map[String, String]): SparkSession = {
    val cpus = o("cpus").toInt
    val s = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Row count plus an order-free sum of per-row hashes over name-sorted
    * columns, floats at 6 significant digits (the tolerance of the DuckDB
    * oracle check in tools/check.py). */
  def digest(df: DataFrame): String = {
    def norm(t: DataType, c: Column): Column = t match {
      case DoubleType | FloatType => F.format_string("%.6g", c)
      case ArrayType(DoubleType | FloatType, _) =>
        F.transform(c, x => F.format_string("%.6g", x)).cast(StringType)
      case _ => c.cast(StringType)
    }
    val cols = df.columns.sorted.map(n =>
      F.coalesce(norm(df.schema(n).dataType, F.col(s"`$n`")), F.lit("\u0000")))
    val r = df.select(F.xxhash64(F.concat_ws("\u0001", cols.toIndexedSeq: _*)).as("h"))
      .agg(F.count(F.lit(1)), F.sum(F.col("h").cast(DecimalType(38, 0))))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).fold("0")(_.toPlainString)}"
  }

  private def digestDumps(o: Map[String, String]): Unit = {
    val spark = session(o)
    val out = new java.util.TreeMap[String, String]()
    for (k <- o("keys").split(","))
      out.put(k, digest(spark.read.parquet(s"${o("dumps")}/$k")))
    spark.stop()
    println(mapper.writeValueAsString(out))
  }

  /** Files under the model root: artifact name -> bytes. */
  def artifacts(): Map[String, Long] = {
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(bytes).sum) else f.length
    Option(new File(ModelStore.Root).listFiles).fold(Map.empty[String, Long])(
      _.filterNot(_.getName.startsWith("tmp_")).map(f => f.getName -> bytes(f)).toMap)
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  /** CPU time of the whole JVM: driver, executors, GC and JIT. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def statusMb(field: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field)).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
  def peakRssMb(): Double = statusMb("VmHWM:")

  /** Waits (up to 2 s) for the resident set to stop shrinking, since G1
    * returns the memory a full collection freed from a background thread,
    * then resets the kernel's peak resident set (VmHWM) to the current one. */
  def resetPeakRss(): Unit = {
    var (last, now, waited) = (Double.MaxValue, statusMb("VmRSS:"), 0)
    while (last - now > 1.0 && waited < 2000) {
      Thread.sleep(50); waited += 50
      last = now; now = statusMb("VmRSS:")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/proc/self/clear_refs"), "5")
  }
}

/** Counters of one (pass, key) in a traced pass, filled by [[Tracer]]. */
final class KeyTrace(val pass: Int, val key: String) {
  val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(name: String, v: Double): Unit = counts(name) += v
  var buildStart, buildEnd, sinkStart, sinkEnd = 0L // epoch ms
  val jobs = ArrayBuffer.empty[(Int, String, Long, Long)] // id, phase, start, end
}

/** The benchmark's own view of the layers below one query: a SparkListener
  * (jobs, stages, tasks), a QueryExecutionListener (Catalyst phase times)
  * and a log appender (codegen fallbacks, single-partition windows). Events
  * carry the job group that names their (pass, key, phase). */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var current: KeyTrace = null
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, (KeyTrace, String)]()
  private val stageOf = new java.util.concurrent.ConcurrentHashMap[Int, (KeyTrace, Int)]()
  private val jobAt = new java.util.concurrent.ConcurrentHashMap[Int, (KeyTrace, String, Long)]()
  private var inFlight = 0
  var maxInFlight = 0
  var unattributed = 0
  val stageSpans = ArrayBuffer.empty[(Int, Int, Long, Long)] // stage, job, submit, complete

  def begin(k: KeyTrace, prefix: String): Unit = {
    byGroup.put(s"$prefix/build", (k, "build"))
    byGroup.put(s"$prefix/sink", (k, "sink"))
    current = k
  }

  private def group(p: Properties): Option[(KeyTrace, String)] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).flatMap(g => Option(byGroup.get(g)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    inFlight += 1
    maxInFlight = math.max(maxInFlight, inFlight)
    group(e.properties) match {
      case Some((k, phase)) =>
        k.add(s"$phase.jobs", 1)
        jobAt.put(e.jobId, (k, phase, e.time))
        e.stageIds.foreach(s => stageOf.put(s, (k, e.jobId)))
      case None => unattributed += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    inFlight -= 1
    Option(jobAt.remove(e.jobId)).foreach { case (k, phase, t) => k.jobs += ((e.jobId, phase, t, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    Option(stageOf.get(i.stageId)).foreach { case (k, job) =>
      k.add("stages", 1)
      stageSpans += ((i.stageId, job, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageOf.get(e.stageId)).foreach { case (k, _) =>
      k.add("tasks", 1)
      if (!e.taskInfo.successful) k.add("failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        k.add("run_s", m.executorRunTime / 1e3)
        k.add("cpu_s", m.executorCpuTime / 1e9)
        k.add("gc_s", m.jvmGCTime / 1e3)
        k.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        k.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        k.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        k.add("spill_bytes", m.diskBytesSpilled.toDouble)
        k.add("input_records", m.inputMetrics.recordsRead.toDouble)
        k.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        k.add("output_records", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(current).foreach(_.add("plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  val appender: AbstractAppender = new AbstractAppender(
      "perfbench", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = Option(current).foreach { k =>
      val msg = e.getMessage.getFormattedMessage
      if (msg.contains("No Partition Defined for Window")) k.add("global_windows", 1)
      if (msg.contains("Whole-stage codegen disabled") || msg.contains("falling back to interpreter"))
        k.add("codegen_fallbacks", 1)
    }
  }
}

final class Run(o: Map[String, String]) {
  import PerfBench._

  private val keys = o("keys").split(",").toSeq
  private val dir = o("data")
  private val seed = o("seed").toLong
  private val expect: Map[String, String] = o.get("expect").fold(Map.empty[String, String]) { f =>
    mapper.readTree(new File(f)).get(o("expect-key")).properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
  }
  private var attempted, failed = 0
  private val errors = mutable.LinkedHashMap.empty[String, String]

  /** One pass: wall, process CPU, model trains, artifacts written, the
    * per-query times, and (traced passes) the per-key traces. */
  final case class Pass(wall: Double, cpu: Double, rssMb: Double, trains: Long, written: Map[String, Long],
                        queries: Seq[Double], traces: Seq[KeyTrace], start: Long, end: Long)

  private def order(pass: Int): Seq[String] = new scala.util.Random(seed * 1000003L + pass).shuffle(keys)

  private def runPass(spark: SparkSession, pass: Int, check: Boolean, tr: Option[Tracer]): Pass = {
    val sc = spark.sparkContext
    val before = artifacts()
    // Every pass starts from a collected heap (outside its timing), so its
    // GC work does not depend on the garbage the pass before it left.
    System.gc()
    resetPeakRss()
    val (trains0, cpu0, start, w0) = (ModelTelemetry.trains.get, processCpuNs(), System.currentTimeMillis, System.nanoTime)
    val qs = ArrayBuffer.empty[Double]
    val traces = ArrayBuffer.empty[KeyTrace]
    for (key <- order(pass)) {
      attempted += 1
      val g = s"$GroupPrefix$pass/$key"
      val kt = new KeyTrace(pass, key)
      tr.foreach(_.begin(kt, g))
      val keyTrains0 = ModelTelemetry.trains.get
      try {
        sc.setJobGroup(s"$g/build", key, interruptOnCancel = false)
        kt.buildStart = System.currentTimeMillis
        val t0 = System.nanoTime
        val df = SparkEntry.queries(key)(spark, dir)
        kt.buildEnd = System.currentTimeMillis
        sc.setJobGroup(s"$g/sink", key, interruptOnCancel = false)
        kt.sinkStart = System.currentTimeMillis
        if (check) {
          val d = digest(df)
          if (!expect.get(key).contains(d)) {
            failed += 1
            errors(key) = s"digest $d, expected ${expect.getOrElse(key, "none")}"
          }
        } else df.write.mode("overwrite").format("noop").save()
        kt.sinkEnd = System.currentTimeMillis
        qs += (System.nanoTime - t0) / 1e9
      } catch {
        case e: Throwable =>
          failed += 1
          errors.getOrElseUpdate(key, e.toString.linesIterator.nextOption().getOrElse("").take(300))
      } finally {
        sc.clearJobGroup()
        kt.add("trains", (ModelTelemetry.trains.get - keyTrains0).toDouble)
        tr.foreach { t => BusDrain.drain(sc); t.current = null }
        traces += kt
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    val after = artifacts()
    Pass((System.nanoTime - w0) / 1e9, (processCpuNs() - cpu0) / 1e9, peakRssMb(), ModelTelemetry.trains.get - trains0,
      after.filter { case (n, b) => !before.get(n).contains(b) }, qs.toSeq,
      if (tr.isDefined) traces.toSeq else Nil, start, System.currentTimeMillis)
  }

  def prepare(): Unit = {
    val spark = session(o)
    runPass(spark, 0, check = false, None)
    spark.stop()
    errors.foreach { case (k, e) => System.err.println(s"[perfbench] $k: $e") }
    println(mapper.writeValueAsString(Map("failed" -> failed, "attempted" -> attempted).asJava))
    if (failed > 0) sys.exit(1)
  }

  def main(): Unit = {
    val launched = o("t0").toLong // epoch ms at which the JVM was launched
    val traced = o("trace") == "1"
    val seconds = o("seconds").toDouble
    // Set-up: the session, the check pass, then warm-up passes until the
    // JIT has levelled the pass time (the count is per workload, run.py).
    val s0 = System.nanoTime
    val spark = session(o)
    val sessionS = (System.nanoTime - s0) / 1e9
    val warm = ArrayBuffer.empty[Double]
    for (i <- 0 to o("warmup").toInt) warm += runPass(spark, -1 - i, check = i == 0, None).wall
    val setupS = (System.currentTimeMillis - launched) / 1e3

    val tracer = new Tracer
    val passes = ArrayBuffer.empty[(Pass, Boolean)]
    def enough = if (traced) passes.exists(_._2) && passes.exists(!_._2) else passes.nonEmpty
    val t0 = System.nanoTime
    while ((System.nanoTime - t0) / 1e9 < seconds || !enough) {
      val on = traced && passes.size % 2 == 1
      if (on) attach(spark, tracer)
      passes += ((runPass(spark, passes.size, check = false, if (on) Some(tracer) else None), on))
      if (on) detach(spark, tracer)
    }
    // The traced run ends with one pass from an empty model root: the
    // ModelStore write side (train + commit) of the artifacts the timed
    // passes deployed. It refills the root.
    val cold = if (traced) {
      val deployed = artifacts()
      deployed.keys.foreach(n => rm(new File(ModelStore.Root, n)))
      Some((runPass(spark, passes.size, check = false, None), deployed))
    } else None
    spark.stop()

    val untraced = passes.filterNot(_._2).map(_._1)
    val tracedP = passes.filter(_._2).map(_._1)
    // every model root is warm before timing: a train here is a cache miss
    val checks = ArrayBuffer.empty[String]
    for (p <- passes.map(_._1) if p.trains != 0)
      checks += s"${p.trains} model trains in a timed pass"

    val metrics = new java.util.LinkedHashMap[String, AnyRef]()
    def put(name: String, v: Double, unit: String): Unit =
      metrics.put(name, Map[String, Any]("value" -> v, "unit" -> unit).asJava)
    if (!traced) {
      put("setup_s", setupS, "s")
      put("wall_s", median(untraced.map(_.wall).toSeq), "s")
      put("query_s.p50", median(untraced.flatMap(_.queries).toSeq), "s")
      put("cpu_s", median(untraced.map(_.cpu).toSeq), "s")
      put("peak_rss_mb", median(untraced.map(_.rssMb).toSeq), "MB")
      put("ok_frac", 1.0 - failed.toDouble / attempted, "frac")
    } else {
      layerMetrics(tracedP.toSeq, untraced.toSeq, sessionS, cold, tracer, put, checks)
      writeTrace(tracedP.toSeq, tracer)
    }
    errors.foreach { case (k, e) => System.err.println(s"[perfbench] $k: $e") }
    checks.foreach(c => System.err.println(s"[perfbench] check failed: $c"))
    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("correct", Boolean.box(failed == 0 && checks.isEmpty))
    out.put("attempted", Int.box(attempted))
    out.put("failed", Int.box(failed))
    out.put("metrics", metrics)
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    out.put("samples", Map("warmup_walls" -> warm.asJava, "walls" -> passes.map(_._1.wall).asJava,
      "cpus" -> passes.map(_._1.cpu).asJava, "jit_s_total" -> jit.getTotalCompilationTime / 1e3,
      "rss_mb" -> passes.map(_._1.rssMb).asJava,
      "queries" -> untraced.map(_.queries.size).sum,
      "traced_jobs" -> tracedP.map(_.traces.map(k => k.counts("build.jobs") + k.counts("sink.jobs")).sum).asJava).asJava)
    println(mapper.writeValueAsString(out))
  }

  private def attach(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    t.appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(t.appender, null, null)
    ctx.updateLoggers()
  }

  private def detach(spark: SparkSession, t: Tracer): Unit = {
    BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender("perfbench")
    ctx.updateLoggers()
  }

  /** Build time no job of the build covers, in seconds. */
  private def driverSelf(k: KeyTrace): Double = {
    val spans = k.jobs.filter(_._2 == "build")
      .map { case (_, _, s, e) => (math.max(s, k.buildStart), math.min(e, k.buildEnd)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered, reach = 0L
    reach = k.buildStart
    for ((s, e) <- spans if e > reach) { covered += e - math.max(s, reach); reach = e }
    (k.buildEnd - k.buildStart - covered) / 1e3
  }

  private def layerMetrics(traced: Seq[Pass], untraced: Seq[Pass], sessionS: Double,
                           cold: Option[(Pass, Map[String, Long])], t: Tracer,
                           put: (String, Double, String) => Unit, checks: ArrayBuffer[String]): Unit = {
    val cores = o("cpus").toInt
    def per(f: Pass => Double): Double = median(traced.map(f))
    def sum(p: Pass, c: String): Double = p.traces.map(_.counts(c)).sum
    def build(p: Pass): Double = p.traces.map(k => (k.buildEnd - k.buildStart) / 1e3).sum
    def sink(p: Pass): Double = p.traces.map(k => (k.sinkEnd - k.sinkStart) / 1e3).sum
    def jobs(p: Pass): Double = sum(p, "build.jobs") + sum(p, "sink.jobs")
    put("session.start_s", sessionS, "s")
    put("operators.build_s", per(build), "s")
    put("operators.build_jobs", per(sum(_, "build.jobs")), "count")
    put("operators.driver_self_s", per(_.traces.map(driverSelf).sum), "s")
    put("operators.s_per_job", per(p => build(p) / math.max(1.0, sum(p, "build.jobs"))), "s")
    put("sink.s", per(sink), "s")
    put("sink.jobs", per(sum(_, "sink.jobs")), "count")
    put("catalyst.plan_s", per(sum(_, "plan_s")), "s")
    put("catalyst.codegen_fallbacks", per(sum(_, "codegen_fallbacks")), "count")
    put("catalyst.global_windows", per(sum(_, "global_windows")), "count")
    put("spark.jobs", per(jobs), "count")
    put("spark.stages", per(sum(_, "stages")), "count")
    put("spark.tasks", per(sum(_, "tasks")), "count")
    put("spark.tasks_per_stage", per(p => sum(p, "tasks") / math.max(1.0, sum(p, "stages"))), "count")
    put("spark.max_jobs_in_flight", t.maxInFlight.toDouble, "count")
    put("spark.executor_run_s", per(sum(_, "run_s")), "s")
    put("spark.executor_cpu_s", per(sum(_, "cpu_s")), "s")
    put("spark.gc_s", per(sum(_, "gc_s")), "s")
    put("spark.busy_frac", per(p => sum(p, "run_s") / (p.wall * cores)), "frac")
    put("spark.failed_tasks", per(sum(_, "failed_tasks")), "count")
    put("spark.unattributed_jobs", t.unattributed.toDouble, "count")
    put("shuffle.read_bytes", per(sum(_, "shuffle_read_bytes")), "B")
    put("shuffle.write_bytes", per(sum(_, "shuffle_write_bytes")), "B")
    put("shuffle.fetch_wait_s", per(sum(_, "fetch_wait_s")), "s")
    put("shuffle.spill_bytes", per(sum(_, "spill_bytes")), "B")
    put("sources.input_records", per(sum(_, "input_records")), "count")
    put("sources.output_bytes", per(sum(_, "output_bytes")), "B")
    put("sources.output_records", per(sum(_, "output_records")), "count")
    for ((c, deployed) <- cold) {
      put("modelstore.deployed_bytes", deployed.values.sum.toDouble, "B")
      put("modelstore.trains", c.trains.toDouble, "count")
      put("modelstore.artifacts_written", c.written.size.toDouble, "count")
      put("modelstore.bytes_written", c.written.values.sum.toDouble, "B")
      val want = o("cold-trains").toLong
      if (c.trains != want) checks += s"${c.trains} model trains in the cold pass, expected $want"
      if (c.written.keySet != deployed.keySet)
        checks += s"the cold pass wrote ${c.written.keySet.toSeq.sorted}, the warm passes deployed ${deployed.keySet.toSeq.sorted}"
    }
    put("trace.overhead_s", median(traced.map(_.wall)) - median(untraced.map(_.wall)), "s")

    if (t.unattributed != 0) checks += s"${t.unattributed} Spark jobs carried no benchmark job group"
    // the parquet scan's record counter must match the table it scans
    for (rc <- o.get("row-check"); Array(key, rows) = rc.split(":"); p <- traced;
         k <- p.traces if k.key == key && k.counts("input_records") != rows.toDouble)
      checks += s"$key read ${k.counts("input_records")} input records, expected $rows"
  }

  /** Spans (run > pass > key > build|sink > job > stage) and a per-key
    * breakdown (medians over traced passes), written as one JSON file. */
  private def writeTrace(traced: Seq[Pass], t: Tracer): Unit = o.get("trace-out").foreach { path =>
    val spans = new java.util.ArrayList[AnyRef]()
    def span(id: String, parent: String, name: String, s: Long, e: Long): Unit =
      spans.add(Map[String, Any]("id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> s, "end_ms" -> e).asJava)
    val jobParent = mutable.Map.empty[Int, String]
    if (traced.nonEmpty) span("run", null, "run", traced.head.start, traced.last.end)
    for (p <- traced) {
      val pid = s"pass${p.traces.headOption.fold(0)(_.pass)}"
      span(pid, "run", "pass", p.start, p.end)
      for (k <- p.traces) {
        val kid = s"$pid/${k.key}"
        span(kid, pid, k.key, k.buildStart, k.sinkEnd)
        span(s"$kid/build", kid, "build", k.buildStart, k.buildEnd)
        span(s"$kid/sink", kid, "sink", k.sinkStart, k.sinkEnd)
        for ((j, phase, s, e) <- k.jobs) {
          jobParent(j) = s"$kid/$phase"
          span(s"job$j", s"$kid/$phase", "job", s, e)
        }
      }
    }
    for ((st, j, s, e) <- t.stageSpans if jobParent.contains(j)) span(s"stage$st", s"job$j", "stage", s, e)
    val byKey = new java.util.TreeMap[String, AnyRef]()
    for ((key, ks) <- traced.flatMap(_.traces).groupBy(_.key)) {
      val m = new java.util.LinkedHashMap[String, Double]()
      m.put("build_s", median(ks.map(k => (k.buildEnd - k.buildStart) / 1e3)))
      m.put("sink_s", median(ks.map(k => (k.sinkEnd - k.sinkStart) / 1e3)))
      m.put("driver_self_s", median(ks.map(driverSelf)))
      for (c <- ks.flatMap(_.counts.keys).distinct) m.put(c, median(ks.map(_.counts(c))))
      byKey.put(key, m)
    }
    val root = new java.util.LinkedHashMap[String, AnyRef]()
    root.put("keys", byKey)
    root.put("errors", errors.asJava)
    root.put("spans", spans)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), root)
  }
}
