package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Process-wide JVM counters, read around every operation. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList

  final case class Snap(wallNs: Long, cpuNs: Long, jitCpuMs: Long, jitMs: Long, gcMs: Long) {
    def to(end: Snap): Map[String, Double] = Map(
      "wall_ms" -> (end.wallNs - wallNs) / 1e6,
      "cpu_ms" -> (end.cpuNs - cpuNs) / 1e6,
      "jit_cpu_ms" -> (end.jitCpuMs - jitCpuMs).toDouble,
      "jit_ms" -> (end.jitMs - jitMs).toDouble,
      "gc_ms" -> (end.gcMs - gcMs).toDouble)
  }

  def snap(): Snap = Snap(System.nanoTime(), os.getProcessCpuTime, compilerCpuMs(),
    jit.getTotalCompilationTime, gcs.map(_.getCollectionTime.max(0L)).sum)

  /** CPU time (ms) of the JIT compiler threads, from the kernel's per-thread
    * accounting (they are hidden from ThreadMXBean). Assumes 100 clock
    * ticks per second and a fixed set of compiler threads
    * (-XX:-UseDynamicNumberOfCompilerThreads). */
  def compilerCpuMs(): Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles
    if (tasks == null) return 0L
    tasks.iterator.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "comm").toPath)).trim
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10L // utime + stime, fields 14 and 15
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }
}

/** Spark task and job counters, summed between two [[take]] calls. Only
  * installed on traced runs; the caller drains the listener bus first. */
final class TaskProbe extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var shuffleWrite = 0L
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  /** Counters since the previous call; resets them. `task_skew` is the
    * largest max/mean task duration over stages with at least 2 tasks. */
  def take(): Map[String, Double] = synchronized {
    val skews = stageTaskMs.values.filter(_.size >= 2).map { d =>
      val mean = d.sum.toDouble / d.size
      if (mean > 0) d.max / mean else 1.0
    }
    val out = Map(
      "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
      "task_cpu_ms" -> cpuNs / 1e6, "task_offcpu_ms" -> (runMs - cpuNs / 1e6),
      "shuffle_write_bytes" -> shuffleWrite.toDouble,
      "task_skew" -> (if (skews.isEmpty) 1.0 else skews.max))
    jobs = 0; tasks = 0; runMs = 0; cpuNs = 0; shuffleWrite = 0; stageTaskMs.clear()
    out
  }
}

/** A traced interval on the `System.nanoTime` axis. Once [[clipped]],
  * self times over a whole tree add up to the root's wall time. */
final case class Span(name: String, startNs: Long, endNs: Long, children: Seq[Span] = Nil) {
  def durMs: Double = (endNs - startNs) / 1e6

  /** This span cut to [lo, hi], with each child cut to it and to start no
    * earlier than its previous sibling ends, so siblings never overlap. */
  def clipped(lo: Long, hi: Long): Span = {
    val s = math.min(math.max(startNs, lo), hi)
    val e = math.max(math.min(endNs, hi), s)
    var at = s
    val kids = children.sortBy(_.startNs).map { c => val k = c.clipped(at, e); at = k.endNs; k }
    copy(startNs = s, endNs = e, children = kids)
  }

  /** Duration minus the part of it covered by children, in ns. */
  def selfNs: Long = {
    val iv = children.map(c => (c.startNs, c.endNs)).filter(c => c._2 > c._1).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    endNs - startNs - covered
  }

  def selfMs: Double = selfNs / 1e6

  def selfTotalNs: Long = selfNs + children.map(_.selfTotalNs).sum

  /** Self time summed per span name over the tree. */
  def selfByName(acc: mutable.Map[String, Double] = mutable.Map.empty): mutable.Map[String, Double] = {
    acc(name) = acc.getOrElse(name, 0.0) + selfMs
    children.foreach(_.selfByName(acc))
    acc
  }

  def toJson(origin: Long): Map[String, Any] = Map(
    "name" -> name, "start_ms" -> (startNs - origin) / 1e6, "dur_ms" -> durMs,
    "self_ms" -> selfMs, "children" -> children.map(_.toJson(origin)))
}

/** Minimal JSON rendering for maps, sequences, numbers, booleans and strings. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Stats {
  /** Median; NaN on an empty sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least 10 samples above it: the value
    * of rank n-11 (0-based) when n >= 11, else the maximum. Returns the
    * value and the percentile it stands for. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size >= 11) (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    else (s.last, 100.0)
  }
}
