package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the index of the
  * enclosing span in the same run, or -1. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, runId: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest per thread; they are written out
  * as JSON lines only when the run ends. A disabled tracer runs the body
  * and records nothing. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.synchronized { spans += null; spans.length - 1 }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(idx :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans(idx) = Span(name, t0, t1, parent, runId) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.filter(_ != null).toSeq)

  /** Milliseconds of every span named `name`. The harness never nests
    * one layer's span inside another's, so these are self times. */
  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def writeJsonl(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val indexed = spans.synchronized(spans.toIndexedSeq)
    val lines = indexed.zipWithIndex.collect { case (sp, i) if sp != null =>
      s"""{"id":$i,"name":${Json.str(sp.name)},"start_ns":${sp.startNs},""" +
        s""""end_ns":${sp.endNs},"parent":${sp.parent},"run":${Json.str(sp.runId)}}"""
    }
    Files.write(path, lines.asJava)
  }
}

/** Engine-wide counters from one listener, with an exact drain: a marker
  * job is submitted after the measured action returns and the counters
  * are read only once the listener has seen that job end. The listener
  * bus is FIFO, so every task end the action caused has been counted by
  * then. Marker tasks are not counted. */
final class EngineListener extends SparkListener {

  private val jobs, stages, tasks, taskMs, shufWrite, shufRead,
    inputBytes, recordsRead, spill = new AtomicLong(0L)
  private val markerStages = ConcurrentHashMap.newKeySet[Int]()
  private val markerJobs = new ConcurrentHashMap[Int, (String, Seq[Int])]()
  private val pending = new ConcurrentHashMap[String, CountDownLatch]()
  private val seq = new AtomicLong(0L)
  private val MarkerPrefix = "graftbench-drain-"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    if (desc != null && desc.startsWith(MarkerPrefix)) {
      e.stageIds.foreach(markerStages.add)
      markerJobs.put(e.jobId, (desc, e.stageIds)); ()
    } else {
      jobs.incrementAndGet()
      stages.addAndGet(e.stageInfos.count(_.numTasks > 0).toLong); ()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && !markerStages.contains(e.stageId)) {
      tasks.incrementAndGet()
      taskMs.addAndGet(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
      ()
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val entry = markerJobs.remove(e.jobId)
    if (entry != null) {
      entry._2.foreach(markerStages.remove)
      val latch = pending.remove(entry._1)
      if (latch != null) latch.countDown()
    }
  }

  /** Counters after every event posted so far has been processed. */
  def drained(sc: SparkContext): EngineSnap = {
    val desc = s"$MarkerPrefix${seq.incrementAndGet()}"
    val latch = new CountDownLatch(1)
    pending.put(desc, latch)
    val prev = sc.getLocalProperty("spark.job.description")
    try {
      sc.setJobDescription(desc)
      try sc.parallelize(Seq(1), 1).foreach(_ => ())
      finally sc.setJobDescription(prev)
      if (!latch.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("listener drain timed out")
    } finally pending.remove(desc)
    EngineSnap(jobs.get, stages.get, tasks.get, taskMs.get, shufWrite.get,
      shufRead.get, inputBytes.get, recordsRead.get, spill.get)
  }
}

/** Engine counters at one instant; subtract two for a window. */
final case class EngineSnap(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    shufWrite: Long, shufRead: Long, inputBytes: Long, recordsRead: Long, spill: Long) {
  def -(o: EngineSnap): EngineSnap = EngineSnap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, shufWrite - o.shufWrite, shufRead - o.shufRead,
    inputBytes - o.inputBytes, recordsRead - o.recordsRead, spill - o.spill)

  /** The `spark.*` per-layer metrics of a window. */
  def metrics(gcS: Double): Map[String, Double] = {
    val mb = 1048576.0
    Map("spark.task_s" -> taskMs / 1000.0, "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble, "spark.tasks" -> tasks.toDouble,
      "spark.shuffle_write_mb" -> shufWrite / mb, "spark.shuffle_read_mb" -> shufRead / mb,
      "spark.input_mb" -> inputBytes / mb, "spark.spill_mb" -> spill / mb, "spark.gc_s" -> gcS)
  }
}

/** Host and JVM state around a measured window. */
object Host {
  /** Jiffies per second of /proc/stat (USER_HZ on Linux). */
  private val UserHz = 100.0

  final case class Window(steal0: Long, gcMs0: Long)

  def open(): Window = {
    heapPools.foreach(_.resetPeakUsage())
    Window(graft.Bench.sysSnap().stealJiffies, graft.Bench.gcSnap()._1)
  }
  def stealS(w: Window): Double = (graft.Bench.sysSnap().stealJiffies - w.steal0) / UserHz
  def gcS(w: Window): Double = (graft.Bench.gcSnap()._1 - w.gcMs0) / 1000.0

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Median of the sentinel calibration probes (fixed-work CPU loop). */
  def sentinelS(): Double = graft.Bench.calibrateSentinel()(2)

  /** One sentinel probe after one discarded warm-up probe: the cheap form
    * for untraced runs. */
  def sentinelProbeS(): Double = { graft.Bench.sentinel(); graft.Bench.sentinel() }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

object Dirs {
  /** The regular, non-hidden files under `dir` (recursive). */
  private def data(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p) && !hidden(p)).toSeq
      finally st.close()
    }
  }
  def bytes(dir: String): Long = data(dir).map(Files.size).sum
  def files(dir: String): Int = data(dir).length
  private def hidden(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith(".") || n.startsWith("_")
  }
  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
  }
}

/** What one workload run reports: operations attempted and failed, the
  * check verdict, and its metrics by name. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
    metrics: Map[String, Double], notes: Seq[String] = Nil)
