package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.engine.Pipeline
import graft.queries.TextQueries

/** JVM side of the benchmark: drives the engine's public entry points
  * for one workload and writes a raw record (timings, gauges, spans) as
  * JSON; `run.py` turns the record into metrics.
  *
  * Phases: set-up (JVM start, session, one untimed warm-up pass whose
  * outputs are written for verification), then closed-loop timed passes
  * over the workload's operations until `seconds` have elapsed.
  * With `trace=1` a listener records spans; an untimed settling pass
  * follows the warm-up, and timed passes then run traced and untraced in
  * the order T U U T (repeated), so the tracing overhead is measured in
  * the same run and a linear drift between passes cancels out of it.
  *
  * Usage: perfbench.Harness key=value ... (see `run.py`).
  */
object Harness {

  /** Local property that tags every job with the operation that ran it.
    * Local properties are inherited by the stream execution thread; the
    * job group is not usable because StreamExecution overwrites it. */
  val OpKey = "perfbench.op"

  /** Every run times at least this many passes, so each run's figure is
    * a median over the same number of passes whatever the pass length.
    * Traced runs time one T U U T block. */
  val MinPasses = 2
  val MinTracedPasses = 4

  /** Whether timed pass `i` of a traced run records spans: T U U T. */
  def tracedPass(i: Int): Boolean = i % 4 == 0 || i % 4 == 3

  def now(): Long = System.nanoTime()

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.engine.Tables.NanosFlag, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Seconds a fixed single-thread integer loop takes (median of five).
    * Sampled before and after every pass: the machine's speed drifts by
    * ±25 % over minutes when other tenants load it, and `run.py` scales
    * the timings by this gauge. */
  def calibrate(): Double = {
    val buf = new Array[Long](1 << 16)
    (0 until 5).map { _ =>
      val a = now()
      var h = 0L; var i = 0
      while (i < 20000000) { h = h * 6364136223846793005L + i; buf(i & 0xffff) ^= h; i += 1 }
      if (buf(h.toInt & 0xffff) == 42L) print("")
      (now() - a) / 1e9
    }.sorted.apply(2)
  }

  /** Lets the work a pass leaves behind finish before a calibration
    * sample: delivers every pending listener event, collects the garbage
    * (a full, stop-the-world collection), then gives Spark's
    * ContextCleaner, which the collection wakes to delete the pass's
    * shuffle and broadcast blocks, a moment to do so. */
  def quiesce(s: SparkSession): Unit = {
    org.apache.spark.BenchBus.drain(s.sparkContext)
    System.gc()
    Thread.sleep(200)
    org.apache.spark.BenchBus.drain(s.sparkContext)
  }

  /** Materialize every column and discard the rows: count() lets
    * Catalyst drop joins that the full plan has to run. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One named operation of a pass: a registry query or a `Pipeline` run. */
  final case class Step(name: String, run: () => Unit)

  /** The ETL workload's operations: the paper's DAG through `Pipeline`. */
  def etlOps(s: SparkSession, globs: Map[String, String], out: String): Seq[Step] = Seq(
    Step("runWeather", () => Pipeline.runWeather(s, globs("weather"), out)),
    Step("runAq.aq1", () => Pipeline.runAq(s, globs("aq1"), out)),
    Step("runAq.aq2", () => Pipeline.runAq(s, globs("aq2"), out)))

  def main(args: Array[String]): Unit = {
    val t0 = now()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val startToMainMs = System.currentTimeMillis() - jvmStartMs
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = kv("workload")
    val ops = kv("ops").split(",").toSeq.filter(_.nonEmpty)
    val data = kv("data")
    val work = kv("work")
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val cpus = kv("cpus").toInt
    val etl = workload == "etl_aq_weather"
    val globs = if (etl) Map("weather" -> s"$data/weather/*.json",
      "aq1" -> s"$data/aq1/*.json", "aq2" -> s"$data/aq2/*.json") else Map.empty[String, String]
    val registry = SparkEntry.queries
    val unknown = if (etl) Nil else ops.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown operations: $unknown")

    val rec = new Recorder
    val errors = ArrayBuffer.empty[(String, String)]
    def attempt(name: String)(body: => Unit): Boolean =
      try { body; true }
      catch { case NonFatal(e) => errors += name -> e.toString.take(300); false }

    // ---- set-up: session + one untimed warm-up pass, outputs kept ----
    val spark = session(cpus)
    if (etl) etlOps(spark, globs, s"$work/warm").foreach(st => attempt(s"warm:${st.name}")(st.run()))
    else ops.foreach { op =>
      attempt(s"warm:$op") {
        registry(op)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$work/warm/$op")
      }
      spark.catalog.clearCache()
    }
    val setupS = (now() - t0) / 1e9 + startToMainMs / 1e3

    // ---- timed: closed loop, one client, passes until `seconds` ----
    final case class Pass(traced: Boolean, wallS: Double, ops: Seq[(String, Double, Boolean)],
                          rqMs: Option[Double], extCpu: Option[Double], cal: Seq[Double])
    def steps(out: String, on: Boolean): Seq[Step] =
      if (etl) etlOps(spark, globs, out)
      else ops.map(op => Step(op, () => {
        val df = registry(op)(spark, data)
        if (on) {
          // Catalyst planning timed from outside, before execution
          val a = now(); df.queryExecution.executedPlan; rec.planNs.addAndGet(now() - a)
        }
        noop(df)
      }))
    // traced runs only: one untimed, untraced pass before the timed ones,
    // so the first timed (traced) pass runs no colder than the others
    val settle = if (!traced) Seq.empty else {
      val st = steps(s"$work/settle", on = false)
      st.foreach { x => attempt(s"settle:${x.name}")(x.run()); if (!etl) spark.catalog.clearCache() }
      st.map(_.name)
    }
    if (traced) rec.attach(spark)
    val passes = ArrayBuffer.empty[Pass]
    val minPasses = if (traced) MinTracedPasses else MinPasses
    val timedStart = now()
    while (passes.size < minPasses || (now() - timedStart) / 1e9 < seconds) {
      val i = passes.size
      val on = traced && tracedPass(i)
      rec.recording = on
      val runId = s"pass$i"
      quiesce(spark)
      val c0 = calibrate()
      val g0 = Gauges.sample()
      val p0 = now()
      if (on) rec.open("run", runId, runId, None)
      val opTimes = ArrayBuffer.empty[(String, Double, Boolean)]
      steps(s"$work/pass$i", on).foreach { st =>
        spark.sparkContext.setLocalProperty(OpKey, s"$runId/${st.name}")
        val a = now()
        if (on) rec.open("op", s"$runId/${st.name}", st.name, Some(runId))
        val ok = attempt(st.name)(st.run())
        if (on) rec.close(s"$runId/${st.name}")
        opTimes += ((st.name, (now() - a) / 1e9, ok))
        spark.sparkContext.setLocalProperty(OpKey, null)
        if (!etl) spark.catalog.clearCache()
      }
      if (on) rec.close(runId)
      val wall = (now() - p0) / 1e9
      val g1 = Gauges.sample()
      quiesce(spark)
      passes += Pass(on, wall, opTimes.toSeq, Gauges.rqMs(g0, g1), Gauges.extCpu(g0, g1),
        Seq(c0, calibrate()))
    }
    rec.recording = false

    // ---- traced only: text kernels, each timed once on the documents ----
    val textS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (traced && !etl) {
      val docs = graft.engine.Tables.documents(spark, data)
      def timed(name: String)(body: => Unit): Unit = {
        val a = now(); if (attempt(s"text.$name")(body)) textS(name) = (now() - a) / 1e9
        spark.catalog.clearCache()
      }
      val sig = TextQueries.signaturesOf(docs)
      timed("signatures")(noop(sig))
      timed("lsh_pairs")(noop(TextQueries.lshPairsOf(sig)))
      timed("clusters")(noop(TextQueries.dupClustersOfSignatures(sig)))
      timed("curated")(noop(TextQueries.curatedDocsOf(docs)))
      spark.sparkContext.setLocalProperty(OpKey, Recorder.StageCountsOp)
      timed("stage_counts")(noop(TextQueries.curationStageCounts(docs)))
      spark.sparkContext.setLocalProperty(OpKey, null)
    }
    if (traced) org.apache.spark.BenchBus.drain(spark.sparkContext)
    rec.detach(spark)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    val peakRssMb = Gauges.vmHwmMb()
    spark.stop()

    // ---- raw record ----
    import Json.Obj
    val record = Obj(
      "workload" -> workload, "traced" -> traced, "cpus" -> cpus,
      "setup_s" -> setupS, "peak_rss_mb" -> peakRssMb, "settle_ops" -> settle,
      "passes" -> passes.toSeq.map(p => Obj(
        "traced" -> p.traced, "wall_s" -> p.wallS, "rq_ms" -> p.rqMs, "ext_cpu" -> p.extCpu,
        "cal_s" -> p.cal,
        "ops" -> p.ops.map { case (n, d, ok) => Obj("name" -> n, "s" -> d, "ok" -> ok) })),
      "errors" -> errors.toSeq.map { case (n, e) => Obj("op" -> n, "error" -> e) },
      "oracle" -> Obj(oracle.toSeq.sortBy(_._1): _*),
      "text_s" -> Obj(textS.toSeq: _*),
      "text_stage_counts_jobs" -> rec.stageCountJobs.get(),
      "trace" -> (if (traced) rec.record() else None))
    Files.writeString(Paths.get(kv("out")), Json(record))
  }
}

/** /proc gauges, read per pass. A gauge that cannot be read is None
  * (null in the record), never 0. */
object Gauges {
  final case class Sample(runDelayNs: Option[Long], box: Option[(Long, Long)],
                          self: Option[Long])

  private def read(p: String): Option[String] =
    try Some(Files.readString(Paths.get(p))) catch { case NonFatal(_) => None }

  /** Sum of run-queue delay (schedstat field 2) over this JVM's threads. */
  def runDelayNs(): Option[Long] = try {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) None
    else Some(tasks.iterator.flatMap(t => read(s"${t.getPath}/schedstat"))
      .map(_.trim.split("\\s+")(1).toLong).sum)
  } catch { case NonFatal(_) => None }

  /** (busy, total) jiffies of the whole box from /proc/stat. */
  def boxJiffies(): Option[(Long, Long)] = read("/proc/stat").flatMap { s =>
    val f = s.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    if (f.length < 5) None else Some((f.sum - f(3) - f(4), f.sum))
  }

  /** utime + stime of this JVM from /proc/self/stat. */
  def selfJiffies(): Option[Long] = read("/proc/self/stat").map { s =>
    val f = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
    f(11).toLong + f(12).toLong
  }

  def sample(): Sample = Sample(runDelayNs(), boxJiffies(), selfJiffies())

  def rqMs(a: Sample, b: Sample): Option[Double] =
    for (x <- a.runDelayNs; y <- b.runDelayNs) yield (y - x) / 1e6

  /** CPUs held by other processes during the interval. */
  def extCpu(a: Sample, b: Sample): Option[Double] =
    for ((ab, at) <- a.box; (bb, bt) <- b.box; as <- a.self; bs <- b.self if bt > at) yield {
      val cpus = Runtime.getRuntime.availableProcessors()
      ((bb - ab) - (bs - as)).toDouble / (bt - at) * cpus max 0.0
    }

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def vmHwmMb(): Option[Double] = read("/proc/self/status").flatMap { s =>
    s.linesIterator.find(_.startsWith("VmHWM:"))
      .map(l => l.split("\\s+")(1).toDouble / 1024.0)
  }
}

object Recorder {
  final case class Span(id: String, kind: String, name: String, parent: Option[String],
                        run: String, start: Long, end: Long, step: Option[String] = None)
  final case class Trigger(startUs: Long, durMs: Map[String, Long], rows: Long)

  /** Task metrics summed over one stage attempt. */
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var schedDelayMs = 0L; var gcMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L; var in = 0L; var out = 0L
    var failed = 0L; var recordsOut = 0L
    val durs = ArrayBuffer.empty[Long]
  }

  val StageCountsOp = "text/stage_counts"

  /** Engine methods (object, method) whose jobs belong to an ETL step.
    * Any other `Analysis` method run eagerly builds a report's input. */
  val StepMethods = Map(
    ("Pipelines", "weatherStage") -> "weatherStage", ("Pipelines", "aqStage") -> "aqStage",
    ("Analysis", "ensureDerived") -> "aqStage", ("Sinks", "stagedParquet") -> "stagedParquet",
    ("Sinks", "upsertParquet") -> "upsertParquet", ("Sinks", "reportCsv") -> "reportCsv")
  private val EngineFrame = """graft\.engine\.(\w+)\$\.(?:\$anonfun\$)?([A-Za-z]\w*?)(?:\$.*)?\((.*)\)""".r

  /** The ETL step of a job, read off its call site (the stack of the
    * thread that submitted it, as Spark records it): the innermost
    * engine frame that names a step (else "reportCsv" if an `Analysis`
    * frame is on the stack), tagged with the `Pipeline` line that called
    * it, e.g. `reportCsv@Pipeline.scala:37`, so every report of a run is
    * its own step. None outside the ETL pipeline. */
  def etlStep(callSite: String): Option[String] = {
    val frames = callSite.linesIterator.flatMap(l => EngineFrame.findFirstMatchIn(l))
      .map(m => (m.group(1), m.group(2), m.group(3))).toSeq
    val kind = frames.collectFirst(Function.unlift { case (obj, method, _) =>
      StepMethods.get((obj, method)) })
      .orElse(frames.collectFirst { case ("Analysis", _, _) => "reportCsv" })
    val at = frames.collectFirst { case ("Pipeline", _, at) => at }
    kind.map(k => at.fold(k)(a => s"$k@$a"))
  }

  def nowUs(): Long = { val t = java.time.Instant.now(); t.getEpochSecond * 1000000L + t.getNano / 1000 }
}

/** In-memory span and metric recorder, attached to the session as a
  * SparkListener and a StreamingQueryListener in traced runs only.
  * Spans: run > op (or ETL step) > streaming trigger > Spark job > Spark
  * stage. Jobs are attributed to ops by the `perfbench.op` local
  * property; triggers by their start time. Listener events arrive
  * asynchronously, so everything after job start is keyed by id, not by
  * what the benchmark is doing when the event lands. */
final class Recorder extends SparkListener {
  import Recorder._
  @volatile var recording = false
  val stageCountJobs = new java.util.concurrent.atomic.AtomicLong
  val planNs = new java.util.concurrent.atomic.AtomicLong

  private val spans = TrieMap.empty[String, Span]
  private val order = new ConcurrentLinkedQueue[String]()
  private val stageAgg = TrieMap.empty[String, StageAgg]
  private val stageJob = TrieMap.empty[Int, Int]
  private val triggers = new ConcurrentLinkedQueue[Trigger]()
  /** ETL step of each SQL execution, from the call site of its action:
    * jobs an execution runs on other threads (broadcasts) carry no
    * engine frames of their own but do carry its execution id. */
  private val execStep = TrieMap.empty[Long, String]

  private def add(s: Span): Unit = { spans.put(s.id, s); order.add(s.id) }
  def open(kind: String, id: String, name: String, parent: Option[String]): Unit =
    add(Span(id, kind, name, parent, id.takeWhile(_ != '/'), nowUs(), -1L))
  def close(id: String): Unit = spans.get(id).foreach(s => spans.put(id, s.copy(end = nowUs())))

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp)
      triggers.add(Trigger(t.getEpochSecond * 1000000L + t.getNano / 1000,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
    }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this); s.streams.addListener(streamListener)
  }
  def detach(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(this); s.streams.removeListener(streamListener)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      etlStep(x.details).foreach(execStep.put(x.executionId, _))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Harness.OpKey)))
    if (op.contains(StageCountsOp)) stageCountJobs.incrementAndGet()
    if (recording) op.foreach { o =>
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      val step = e.stageInfos.sortBy(-_.stageId).headOption.flatMap(i => etlStep(i.details))
        .orElse(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execStep.get(id.toLong)))
      add(Span(s"job${e.jobId}", "job", s"job${e.jobId}", Some(o), o.takeWhile(_ != '/'),
        e.time * 1000L, -1L, step))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val id = s"job${e.jobId}"
    spans.get(id).foreach(s => spans.put(id, s.copy(end = e.time * 1000L)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (job <- stageJob.get(i.stageId); p <- spans.get(s"job$job")) {
      val id = s"stage${i.stageId}.${i.attemptNumber()}"
      add(Span(id, "stage", id, Some(p.id), p.run,
        i.submissionTime.getOrElse(0L) * 1000L, i.completionTime.getOrElse(0L) * 1000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.contains(e.stageId)) {
      val a = stageAgg.getOrElseUpdate(s"${e.stageId}.${e.stageAttemptId}", new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime; a.gcMs += m.jvmGCTime
          a.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          a.in += m.inputMetrics.bytesRead; a.out += m.outputMetrics.bytesWritten
          a.recordsOut += m.outputMetrics.recordsWritten
          a.durs += m.executorRunTime
        }
      }
    }

  /** Streaming triggers become spans under the traced op whose interval
    * holds their start; the jobs inside a trigger are re-parented to it. */
  private def triggerSpans(): Seq[(Trigger, String)] = {
    val ops = spans.values.filter(_.kind == "op").toSeq
    val placed = triggers.asScala.toSeq.sortBy(_.startUs).flatMap { t =>
      ops.find(o => o.start <= t.startUs && t.startUs <= o.end).map(t -> _.id)
    }
    placed.groupBy(_._2).foreach { case (op, ts) =>
      ts.zipWithIndex.foreach { case ((t, _), k) =>
        add(Span(s"$op/trigger$k", "trigger", s"trigger$k", Some(op), op.takeWhile(_ != '/'),
          t.startUs, t.startUs + t.durMs.getOrElse("triggerExecution", 0L) * 1000L))
      }
    }
    val trig = spans.values.filter(_.kind == "trigger").toSeq
    spans.values.filter(_.kind == "job").foreach { j =>
      trig.find(t => j.parent == t.parent && j.start >= t.start && j.end <= t.end)
        .foreach(t => spans.put(j.id, j.copy(parent = Some(t.id))))
    }
    placed
  }

  def record(): Json.Obj = {
    import Json.Obj
    val placed = triggerSpans()
    Obj(
      "plan_ms" -> planNs.get() / 1e6,
      "spans" -> order.asScala.toSeq.distinct.flatMap(spans.get).map(s => Obj(
        "id" -> s.id, "kind" -> s.kind, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_us" -> s.start, "end_us" -> s.end, "step" -> s.step)),
      "stages" -> stageAgg.toSeq.sortBy(_._1).map { case (id, a) => Obj(
        "id" -> id, "job" -> stageJob.get(id.takeWhile(_ != '.').toInt).map(x => s"job$x"),
        "tasks" -> a.tasks, "failed" -> a.failed, "run_ms" -> a.runMs,
        "sched_delay_ms" -> a.schedDelayMs, "gc_ms" -> a.gcMs,
        "shuffle_write_b" -> a.shufW, "shuffle_read_b" -> a.shufR, "spill_b" -> a.spill,
        "input_b" -> a.in, "output_b" -> a.out, "records_written" -> a.recordsOut,
        "task_ms" -> a.durs.toSeq) },
      "triggers" -> placed.map { case (t, op) => Obj(
        "op" -> op, "rows" -> t.rows,
        "trigger_ms" -> t.durMs.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> t.durMs.getOrElse("addBatch", 0L)) })
  }
}

/** Minimal JSON serializer for the raw record: objects are Seqs of
  * (key, value) pairs so field order is kept. */
object Json {
  final case class Obj(fields: (String, Any)*)

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => s"${str(k)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
