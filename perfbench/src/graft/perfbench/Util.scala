package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.collection.mutable

object Stats {
  /** Nearest-rank percentile, `p` in (0, 1]. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def now(): Double = System.nanoTime() / 1e9

  /** Used heap right after a full collection, in MB — retained memory,
    * not allocation churn. */
  def heapAfterGcMb(): Double = {
    // later collections free what Spark's ContextCleaner released after
    // the earlier ones (blocks of RDDs, broadcasts and shuffles it found dead)
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

/** Metrics of one run, printed as the result's `metrics` object. */
final class Metrics {
  private val m = mutable.LinkedHashMap[String, (Double, String)]()
  def update(name: String, v: (Double, String)): Unit = m(name) = v
  def apply(name: String): Double = m(name)._1
  def get(name: String): (Double, String) = m(name)
  def contains(name: String): Boolean = m.contains(name)
  def json(keep: String => Boolean): String = m.filter(kv => keep(kv._1)).map {
    case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
      s""""$k": {"value": $num, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}

/** In-memory spans around the benchmark's calls into each layer; written
  * as JSON lines when the run ends. Disabled spans cost one branch. */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val t0 = Stats.now()

  def apply[T](name: String, parent: Int = 0)(body: Int => T): T =
    if (!enabled) body(0)
    else {
      val id = ids.incrementAndGet()
      val s = Stats.now()
      try body(id) finally record(id, parent, name, s, Stats.now())
    }

  /** A span whose interval was measured elsewhere (seconds on `now()`'s clock). */
  def record(id: Int, parent: Int, name: String, start: Double, end: Double): Int = {
    if (enabled) spans.synchronized(spans += Span(id, parent, name, start - t0, end - t0))
    id
  }
  def newId(): Int = ids.incrementAndGet()
  def size: Int = spans.size

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.sortBy(_.start).map { s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "start_s": ${s.start}%.6f, "end_s": ${s.end}%.6f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Task/stage/job counters from the scheduler, read as deltas. */
final class ExecListener extends SparkListener {
  val jobs, tasks, stages, singleTaskStages = new AtomicLong()
  val cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill, input = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    if (e.stageInfo.numTasks == 1) singleTaskStages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "stages" -> stages.get,
    "single_task_stages" -> singleTaskStages.get, "cpu_ns" -> cpuNs.get, "run_ms" -> runMs.get,
    "gc_ms" -> gcMs.get, "shuffle_write" -> shuffleWrite.get, "shuffle_read" -> shuffleRead.get,
    "spill" -> spill.get, "input" -> input.get)
}
