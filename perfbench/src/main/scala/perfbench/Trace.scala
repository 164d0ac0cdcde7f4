package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timeline for spans and listener events: epoch milliseconds with
  * sub-millisecond resolution taken from the monotonic timer. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Session health read after a layer call. */
final case class Health(persistedRdds: Int, storageMb: Double, probeMs: Double)

final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double, health: Option[Health])

final case class JobEvent(jobId: Int, span: Long, startMs: Double, stageIds: Seq[Int])

final case class StageEvent(stageId: Int, tasks: Int, runMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long)

/** Catalyst phase intervals of one executed query, from its planning tracker. */
final case class PlanEvent(func: String, phases: Map[String, (Double, Double)])

final case class ProgressEvent(batchId: Long, rows: Long, durations: Map[String, Long])

object Health {
  @volatile private var sink = 0L

  /** A fixed CPU-bound loop; its wall time tracks how much CPU the run
    * gets, so a rising reading means a loaded or degrading session. */
  def probeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 4000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink += x
    (System.nanoTime() - t0) / 1e6
  }

  def read(spark: SparkSession): Health = {
    val sc = spark.sparkContext
    val storage = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    Health(sc.getPersistentRDDs.size, storage / 1048576.0, probeMs())
  }
}

/** The traced run's recorder. Spans are opened around every layer call the
  * benchmark makes; Spark job, stage, query-planning and streaming-progress
  * events arrive through listeners and are parented to the open span through
  * the `perfbench.span` local property. Everything stays in memory until the
  * run ends. When disabled, [[call]] is a plain call; per-layer samples are
  * kept while tracing and inside [[samplingOnly]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile var enabled = false
  private var sampling = false
  private var nextId = 1L
  private var stack: List[Long] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var windowStartMs = 0.0
  var windowEndMs = 0.0

  private val jobs = new ConcurrentLinkedQueue[JobEvent]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  private val stages = new ConcurrentLinkedQueue[StageEvent]()
  private val plans = new ConcurrentLinkedQueue[PlanEvent]()
  private val progress = new ConcurrentLinkedQueue[ProgressEvent]()

  private val engineListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .flatMap(_.toLongOption).getOrElse(0L)
      jobs.add(JobEvent(e.jobId, span, e.time.toDouble, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val tm = info.taskMetrics
      if (tm != null)
        stages.add(StageEvent(info.stageId, info.numTasks, tm.executorRunTime,
          tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
          tm.memoryBytesSpilled + tm.diskBytesSpilled))
      else stages.add(StageEvent(info.stageId, info.numTasks, 0L, 0L, 0L, 0L))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) =>
        k -> ((v.startTimeMs.toDouble, v.endTimeMs.toDouble))
      }
      plans.add(PlanEvent(func, ph))
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressEvent(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Run `body` as one layer call: a span, plus a health reading after it
    * (the reading is recorded as its own harness span). */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanProp, if (parent == 0L) null else parent.toString)
        if (layer == "harness") spans += Span(id, parent, layer, name, t0, t1, None)
        else {
          val h = Health.read(spark)
          spans += Span(id, parent, layer, name, t0, t1, Some(h))
          spans += Span(nextId, parent, "harness", "health", t1, Clock.nowMs, None)
          nextId += 1
        }
      }
    }

  /** Record one per-layer reading (kept only while sampling). */
  def sample(name: String, v: Double): Unit =
    if (sampling) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  /** Keep the samples `body` records, without spans or listener events:
    * readings taken outside the traced window stay out of its engine, plan
    * and self-time figures. */
  def samplingOnly[T](body: => T): T = {
    sampling = true
    try body finally sampling = false
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(engineListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    enabled = true
    sampling = true
    windowStartMs = Clock.nowMs
  }

  def stop(): Unit = {
    windowEndMs = Clock.nowMs
    enabled = false
    sampling = false
    PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(engineListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Drop everything recorded, so the memory the trace held can be measured. */
  def clear(): Unit = {
    spans.clear()
    samples.clear()
    jobs.clear()
    jobEnds.clear()
    stages.clear()
    plans.clear()
    progress.clear()
  }

  def jobEvents: Seq[(JobEvent, Double)] = jobs.asScala.toSeq.map { j =>
    j -> Option(jobEnds.get(j.jobId)).map(_.doubleValue).getOrElse(windowEndMs)
  }
  def stageEvents: Seq[StageEvent] = stages.asScala.toSeq
  def planEvents: Seq[PlanEvent] = plans.asScala.toSeq
  def progressEvents: Seq[ProgressEvent] = progress.asScala.toSeq

  /** Self time per layer over the traced window. Every instant of the
    * window is given to exactly one owner: a running Spark job (`engine`),
    * else a Catalyst phase (`plans`), else the innermost open span's layer,
    * else the harness. The owners therefore partition the window. */
  def selfTimes(): Map[String, Double] = {
    val w0 = windowStartMs
    val w1 = windowEndMs
    def clip(s: Double, e: Double) = (math.max(s, w0), math.min(e, w1))
    val jobIv = jobEvents.map { case (j, end) => clip(j.startMs, end) }.filter(i => i._2 > i._1)
    val planIv = planEvents.flatMap(_.phases.values).map { case (s, e) => clip(s, e) }
      .filter(i => i._2 > i._1)
    val spanIv = spans.toSeq.map(s => (clip(s.startMs, s.endMs), s)).filter(i => i._1._2 > i._1._1)
    val cuts = (Seq(w0, w1) ++ jobIv.flatMap(i => Seq(i._1, i._2)) ++
      planIv.flatMap(i => Seq(i._1, i._2)) ++ spanIv.flatMap(i => Seq(i._1._1, i._1._2)))
      .distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val m = (a + b) / 2
        def in(i: (Double, Double)) = i._1 <= m && m < i._2
        val owner =
          if (jobIv.exists(in)) "engine"
          else if (planIv.exists(in)) "plans"
          else spanIv.filter(s => in(s._1)).sortBy(s => (s._1._1, s._2.id)).lastOption
            .map(_._2.layer).getOrElse("harness")
        out(owner) += b - a
      case _ =>
    }
    out.toMap
  }

  /** Wall time of [s, e] not covered by any Spark job. */
  def driverGapMs(s: Double, e: Double): Double = {
    val iv = jobEvents.map { case (j, end) => (math.max(j.startMs, s), math.min(end, e)) }
      .filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    math.max(0.0, (e - s) - covered)
  }

  /** The trace as JSON lines: spans, jobs (parented to spans), stages
    * (parented to jobs), query-planning and streaming-progress events. */
  def dump(runId: String, path: java.nio.file.Path): Unit = {
    val stageJob = jobEvents.flatMap { case (j, _) => j.stageIds.map(_ -> j.jobId) }.toMap
    val lines = mutable.ArrayBuffer.empty[String]
    spans.foreach { s =>
      val h = s.health.map(h => Seq("persisted_rdds" -> h.persistedRdds,
        "storage_mb" -> h.storageMb, "probe_ms" -> h.probeMs)).getOrElse(Nil)
      lines += Json.obj(Seq("kind" -> "span", "run" -> runId, "id" -> s.id,
        "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ h)
    }
    jobEvents.foreach { case (j, end) =>
      lines += Json.obj(Seq("kind" -> "job", "run" -> runId, "id" -> j.jobId,
        "parent" -> j.span, "start_ms" -> j.startMs, "end_ms" -> end))
    }
    stageEvents.foreach { st =>
      lines += Json.obj(Seq("kind" -> "stage", "run" -> runId, "id" -> st.stageId,
        "parent_job" -> stageJob.getOrElse(st.stageId, -1), "tasks" -> st.tasks,
        "task_ms" -> st.runMs, "shuffle_read_bytes" -> st.shuffleRead,
        "shuffle_write_bytes" -> st.shuffleWrite, "spill_bytes" -> st.spill))
    }
    planEvents.foreach { p =>
      lines += Json.obj(Seq("kind" -> "plan", "run" -> runId, "func" -> p.func) ++
        p.phases.toSeq.sortBy(_._1).map { case (k, (s, e)) => s"${k}_ms" -> (e - s) })
    }
    progressEvents.foreach { p =>
      lines += Json.obj(Seq("kind" -> "progress", "run" -> runId, "batch" -> p.batchId,
        "rows" -> p.rows) ++ p.durations.toSeq.sortBy(_._1))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
