package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.Sessions

/** What one workload gives the runner. Every call into the engine goes
  * through `ctx.tr.call(layer, name)`, so the traced phase can time it. */
trait Workload {
  /** Build every input under `dir`. */
  def prepare(dir: Path): Unit
  /** The discarded warm-up, checked like the measured ops. By default it is
    * `pass`: one pass identical to a measured one. */
  def warmUp(pass: () => Phase): Phase = pass()
  /** One closed-loop op. */
  def op(i: Int): Op
  /** Per-layer readings taken once, after the traced window closes: they
    * may record samples but their own Spark work stays out of the window. */
  def layerReadings(): Map[String, Double] = Map.empty
  /** Final output checks; returns the number of mismatches found. */
  def finish(): Int
  /** Lines for the human-readable summary (stage digests and the like). */
  def notes: Seq[String] = Nil
  /** Whether the latency unit is the whole pass rather than one op: a pass
    * of different stage calls has one latency a user waits for, while the
    * median over its mixed calls would only pick one stage. */
  def passIsOp: Boolean = false
  /** Reference wall time of one pass. A run measures
    * max(1, floor(seconds / refPassS)) whole passes: a count fixed by the
    * run length, so every run of a workload times the same work whatever
    * the machine's speed, and later passes (warmer) never weigh more in a
    * faster run. */
  def refPassS: Double
  def close(): Unit = ()
}

/** One op's outcome. `timed` ops count toward the latency percentiles;
  * periodic maintenance does not. Ops of a pass workload are single stage
  * calls; `pass` names the pass and `endsPass` marks its last call. */
final case class Op(kind: String, items: Long, mismatches: Int, timed: Boolean = true,
    pass: String = "", endsPass: Boolean = true)

final case class Ctx(spark: SparkSession, seed: Long, tr: Tracer, cores: Int)

/** A measured stretch of whole passes. `passes` holds (name, ms, items). */
final case class Phase(lat: Seq[(String, Double)], passes: Seq[(String, Double, Long)],
    passIsOp: Boolean, wallS: Double, attempted: Int, mismatches: Int,
    intervals: Seq[(Double, Double)]) {
  /** The latencies the percentiles are taken over. */
  def timed: Seq[Double] = if (passIsOp) passes.map(_._2) else lat.map(_._2)
  def p50: Double = Stats.median(timed)
  /** Items per second of timed-op time, over the median pass. */
  def itemsPerS: Double = Stats.median(passes.map(p => p._3 / (p._2 / 1000.0)))
}

object Main {
  /** The seed whose stage digests are pinned in [[Pins]]. */
  val DefaultSeed = 1L

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", Paths.get(opts("work")).toAbsolutePath,
      Paths.get(opts("out")).toAbsolutePath)
    System.out.flush()
    System.exit(code)
  }

  private def session(work: Path, cores: Int): SparkSession =
    Sessions.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1"), cores.toString)
      .getOrCreate()

  private def workloadOf(name: String, ctx: Ctx): Workload = name match {
    case "nightly_batch" => new NightlyBatch(ctx)
    case "table_serving" => new TableServing(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val probe0 = Health.probeMs()
    val (spark, sessionMs) = Stats.timedMs(session(work, cores))
    val tr = new Tracer(spark)
    val ctx = Ctx(spark, seed, tr, cores)
    val wl = workloadOf(workload, ctx)

    var failed = 0
    var attempted = 0
    var crashed = false
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.ArrayBuffer.empty[String]
    try {
      var next = 0
      /** `n` whole passes of the workload's ops. */
      def measure(n: Int): Phase = {
        val lat = mutable.ArrayBuffer.empty[(String, Double)]
        val passes = mutable.ArrayBuffer.empty[(String, Double, Long)]
        val iv = mutable.ArrayBuffer.empty[(Double, Double)]
        var mism = 0
        var ops = 0
        var passMs = 0.0
        var passItems = 0L
        val t0 = System.nanoTime()
        while (passes.size < n) {
          val c0 = Clock.nowMs
          val (o, ms) = Stats.timedMs(wl.op(next))
          iv += ((c0, Clock.nowMs))
          next += 1
          ops += 1
          if (o.timed) {
            lat += ((o.kind, ms))
            passMs += ms
          }
          mism += o.mismatches
          passItems += o.items
          if (o.endsPass) {
            passes += ((o.pass, passMs, passItems))
            passMs = 0.0
            passItems = 0L
          }
        }
        Phase(lat.toSeq, passes.toSeq, wl.passIsOp, (System.nanoTime() - t0) / 1e9, ops, mism,
          iv.toSeq)
      }
      def count(p: Phase): Unit = {
        attempted += p.attempted
        failed += p.mismatches
      }

      // set-up: the session, the inputs and the discarded warm-up
      val (_, prepMs) = Stats.timedMs(wl.prepare(work.resolve("inputs")))
      val (warm, warmMs) = Stats.timedMs(wl.warmUp(() => measure(1)))
      count(warm)
      val setupS = (sessionMs + prepMs + warmMs) / 1000.0
      notes += f"setup: session ${sessionMs / 1000}%.3f s, input build ${prepMs / 1000}%.3f s, " +
        f"warm-up pass ${warmMs / 1000}%.3f s"

      val passes = math.max(1, math.floor(seconds / wl.refPassS + 1e-9).toInt)
      val main: Phase =
        if (!trace) measure(passes)
        else {
          val gc0 = gcMs()
          tr.start()
          val traced = measure(passes)
          tr.stop()
          val gcDelta = gcMs() - gc0
          val endHealth = Health.read(spark)
          val readings = tr.samplingOnly(wl.layerReadings())
          layer ++= layerMetrics(tr, traced, readings, endHealth, gcDelta, cores)
          // what tracing adds: the tracer's own calls (health readings, file
          // listings) per latency unit, and the memory the trace holds
          val units = if (traced.passIsOp) traced.passes.size else traced.lat.size
          layer("trace_overhead.op_p50_ms") =
            tr.spans.filter(_.layer == "harness").map(s => s.endMs - s.startMs).sum / math.max(units, 1)
          tr.dump(s"$workload-$seed", out.resolve("traces")
            .resolve(s"$workload-seed$seed-${System.currentTimeMillis()}.jsonl"))
          retainedHeapMb(spark) // lets Spark's cleaner release what the GC freed first
          val heldMb = retainedHeapMb(spark)
          tr.clear()
          layer("trace_overhead.retained_heap_mb") = heldMb - retainedHeapMb(spark)
          traced
        }
      count(main)

      val finishMism = wl.finish()
      attempted += 1
      failed += finishMism
      wl.close()
      notes ++= wl.notes
      val heapMb = retainedHeapMb(spark)

      e2e("setup_s") = (setupS, "s")
      e2e("op_p50_ms") = (main.p50, "ms")
      e2e("items_per_s") = (main.itemsPerS, "1/s")
      e2e("retained_heap_mb") = (heapMb, "MB")
      notes += s"ops: ${main.attempted} in ${main.passes.size} passes, " +
        f"${main.wallS}%.3f s; cpu probe ${probe0}%.2f ms at start, ${Health.probeMs()}%.2f ms at end"
      notes += s"${main.passes.headOption.map(_._1).getOrElse("pass")} ms: " +
        main.passes.map(p => f"${p._2}%.1f").mkString(", ")
      (main.lat ++ main.passes.map(p => (p._1, p._2))).groupBy(_._1).toSeq.sortBy(_._1).foreach {
        case (kind, xs) =>
        val ms = xs.map(_._2)
        notes += f"${kind}_p50_ms = ${Stats.median(ms)}%.3f ms (n=${ms.size})"
        notes += f"${kind}_p90_ms = ${Stats.quantile(ms, 0.9)}%.3f ms (n=${ms.size})"
      }
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        crashed = true
        failed += 1
        attempted += 1
    } finally {
      try wl.close() catch { case _: Throwable => }
      spark.stop()
    }

    val ratio = failed.toDouble / math.max(attempted, 1)
    println(s"# workload=$workload seed=$seed trace=${if (trace) 1 else 0}")
    notes.foreach(n => println(s"# $n"))
    e2e.foreach { case (k, (v, u)) => println(f"# $k = $v%.4f $u") }
    println(f"# failed_op_ratio = $ratio%.6f ($failed of $attempted)")
    val metrics: Seq[(String, Any)] =
      if (trace) Metrics.perLayer.map { m =>
        m.name -> Map("value" -> layer.getOrElse(m.name, 0.0), "unit" -> m.unit)
      }
      else Metrics.endToEnd.map { m =>
        m.name -> Map("value" -> e2e.get(m.name).map(_._1).getOrElse(0.0), "unit" -> m.unit)
      }
    val correct = failed == 0 && !crashed
    println(Json.obj(Seq("correct" -> correct, "attempted" -> math.max(attempted, 1),
      "failed" -> failed, "metrics" -> Json.Raw(Json.obj(metrics)))))
    if (correct) 0 else 1
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Heap in use after forced GCs, once Spark has caught up: queued
    * listener events hold plans and metrics, and the context cleaner frees
    * blocks only after a GC has found their owners unreachable. How far
    * behind both are depends on the machine's speed, not on the program, so
    * GC again until the figure settles. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    def used() = {
      PerfbenchBridge.drainListeners(spark.sparkContext)
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = used()
    var rounds = 2
    while (prev - cur > 0.5 && rounds < 10) {
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  /** The per-layer report of the traced phase. Time and count figures are
    * per op unless the metric is a per-call median. */
  private def layerMetrics(tr: Tracer, traced: Phase,
      readings: Map[String, Double], endHealth: Health, gcDeltaMs: Double,
      cores: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val ops = math.max(traced.attempted, 1).toDouble
    val windowMs = tr.windowEndMs - tr.windowStartMs

    Metrics.perLayer.foreach { m =>
      tr.samples.get(m.name).foreach { xs =>
        out(m.name) = m.agg match {
          case "median" => Stats.median(xs.toSeq)
          case "mean" => Stats.mean(xs.toSeq)
          case "last" => xs.last
          case _ => Stats.mean(xs.toSeq)
        }
      }
    }
    out ++= readings

    val phaseMs = Map("analysis" -> "plans.analysis_ms", "optimization" -> "plans.optimize_ms",
      "planning" -> "plans.physical_ms")
    phaseMs.foreach { case (ph, name) =>
      out(name) = tr.planEvents.flatMap(_.phases.get(ph)).map { case (s, e) => e - s }.sum / ops
    }
    val stages = tr.stageEvents
    val taskMs = stages.map(_.runMs).sum.toDouble
    out("engine.actions") = tr.planEvents.size / ops
    out("engine.jobs") = tr.jobEvents.size / ops
    out("engine.driver_gap_ms") =
      Stats.mean(traced.intervals.map { case (s, e) => tr.driverGapMs(s, e) })
    out("engine.stages") = stages.size / ops
    out("engine.tasks") = stages.map(_.tasks).sum / ops
    out("engine.task_ms") = taskMs / ops
    out("engine.task_busy_share") = if (windowMs > 0) taskMs / (windowMs * cores) else 0.0
    out("engine.shuffle_read_bytes") = stages.map(_.shuffleRead).sum / ops
    out("engine.shuffle_write_bytes") = stages.map(_.shuffleWrite).sum / ops
    out("engine.spill_bytes") = stages.map(_.spill).sum / ops
    out("engine.gc_ms") = gcDeltaMs / ops
    out("engine.persisted_rdds_end") = endHealth.persistedRdds
    out("engine.storage_mem_mb_end") = endHealth.storageMb
    val probes = tr.spans.flatMap(_.health).map(_.probeMs).toSeq :+ endHealth.probeMs
    val k = math.max(1, math.min(5, probes.size / 2))
    out("engine.probe_drift") = Stats.median(probes.takeRight(k)) / Stats.median(probes.take(k))

    val progress = tr.progressEvents
    Seq("triggerExecution" -> "streaming.trigger_ms", "addBatch" -> "streaming.add_batch_ms",
      "queryPlanning" -> "streaming.query_planning_ms", "walCommit" -> "streaming.wal_commit_ms",
      "commitOffsets" -> "streaming.commit_offsets_ms").foreach { case (k, name) =>
      out(name) = Stats.median(progress.flatMap(_.durations.get(k)).map(_.toDouble))
    }

    tr.selfTimes().foreach { case (l, ms) => out(s"self_ms.$l") = ms / ops }
    out("samples.ops") = traced.attempted
    out.toMap
  }
}
