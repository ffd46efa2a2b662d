package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative counters of one Spark application, fed by listener events. */
final class SparkProbe extends SparkListener {
  private val starts = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private var jobs, stages, tasks = 0L
  private var runMs, schedMs, gcMs, shuffleBytes, spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; starts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      runMs += m.executorRunTime
      // scheduler delay plus deserialization: the task's life outside
      // its run, result serialization and result fetch
      schedMs += math.max(0L,
        info.duration - m.executorRunTime - m.resultSerializationTime - gettingResult)
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  def snapshot: SparkProbe.Snap = synchronized {
    SparkProbe.Snap(jobs, stages, tasks, runMs, schedMs, gcMs, shuffleBytes, spillBytes,
      intervals.length)
  }

  /** Job intervals recorded from index `from` on (see [[SparkProbe.Snap.nIntervals]]). */
  def intervalsFrom(from: Int): Seq[(Long, Long)] = synchronized { intervals.drop(from).toSeq }
}

object SparkProbe {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, runMs: Long, schedMs: Long,
                        gcMs: Long, shuffleBytes: Long, spillBytes: Long, nIntervals: Int)
}

/** What one call cost, split into the Spark layer's counters. */
final case class CallStats(wallMs: Double, jobs: Long, stages: Long, tasks: Long,
                           taskRunMs: Double, schedWaitMs: Double, driverOnlyMs: Double,
                           ruleMs: Double, compileMs: Double, shuffleMb: Double,
                           spillMb: Double, gcMs: Double, busyFrac: Double) {
  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_run_ms" -> taskRunMs, "sched_wait_ms" -> schedWaitMs,
    "driver_only_ms" -> driverOnlyMs, "rule_ms" -> ruleMs, "compile_ms" -> compileMs,
    "shuffle_mb" -> shuffleMb, "spill_mb" -> spillMb, "gc_ms" -> gcMs,
    "busy_frac" -> busyFrac)

  def field(name: String): Double = fields.find(_._1 == name).get._2
}

object CallStats {
  val zero: CallStats = CallStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  val names: Seq[String] = zero.fields.map(_._1)
}

/** One span: a named interval and the span that caused it (-1: none). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** The traced run's recorder: spans kept in memory (written out when the
  * run ends) and, around each call into a layer, the Spark counters the
  * call moved. The untraced runs never construct one. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val probe = new SparkProbe
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var attached = false

  /** Attach or detach the listener; a detached tracer records nothing. */
  def enable(on: Boolean): Unit = if (on != attached) {
    drain()
    if (on) spark.sparkContext.addSparkListener(probe)
    else spark.sparkContext.removeSparkListener(probe)
    attached = on
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Runs `f` inside a span named `name` and returns its Spark counters. */
  def measure[T](name: String)(f: => T): (T, CallStats) = {
    drain()
    val s0 = probe.snapshot
    val rule0 = ruleNs()
    val comp0 = compileNs()
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    val r = span(name)(f)
    val wallMs = (System.nanoTime() - ns0) / 1e6
    val ms1 = System.currentTimeMillis()
    drain()
    val s1 = probe.snapshot
    val run = (s1.runMs - s0.runMs).toDouble
    (r, CallStats(
      wallMs = wallMs,
      jobs = s1.jobs - s0.jobs,
      stages = s1.stages - s0.stages,
      tasks = s1.tasks - s0.tasks,
      taskRunMs = run,
      schedWaitMs = (s1.schedMs - s0.schedMs).toDouble,
      driverOnlyMs = Stats.driverOnly(probe.intervalsFrom(s0.nIntervals), ms0, ms1).toDouble,
      ruleMs = (ruleNs() - rule0) / 1e6,
      compileMs = (compileNs() - comp0) / 1e6,
      shuffleMb = (s1.shuffleBytes - s0.shuffleBytes) / 1048576.0,
      spillMb = (s1.spillBytes - s0.spillBytes) / 1048576.0,
      gcMs = (s1.gcMs - s0.gcMs).toDouble,
      busyFrac = if (wallMs > 0) run / (wallMs * cores) else 0.0))
  }

  /** Runs `f` inside a span named `name`, a child of the open span. */
  def span[T](name: String)(f: => T): T = {
    val id = spans.length + open.length
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val ns0 = System.nanoTime()
    try f finally {
      open = open.tail
      spans += Span(id, parent, name, ns0, System.nanoTime())
    }
  }

  // Catalyst rule time and codegen compile time are JVM-global
  // accumulators (nanoseconds); one client thread makes the delta the call's
  private def ruleNs(): Long =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time
  private def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
