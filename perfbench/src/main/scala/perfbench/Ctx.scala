package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the phase loop, per-operation records,
  * spans, failures and the metrics computed from them. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val warmOps: Int, val trace: Boolean,
                workDir: File) {
  val probe: Option[TaskProbe] =
    if (trace) { val p = new TaskProbe; spark.sparkContext.addSparkListener(p); Some(p) } else None
  val setupReps = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
  private val opPhase = mutable.ArrayBuffer.empty[String]
  val spans = mutable.ArrayBuffer.empty[Span]
  val totals = mutable.Map.empty[String, Double]
  val failures = mutable.Map.empty[Int, Seq[String]]
  val runErrors = mutable.ArrayBuffer.empty[String]
  /** (exact, estimate) per approximate surface, for buckets above 512 uids. */
  val rsePairs = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]

  def newDir(name: String): File = {
    val d = new File(workDir, name); d.mkdirs(); d
  }

  /** `warmOps` warm-up operations, then timed ones until `seconds` have
    * passed (at least one; the one in flight is finished). */
  def phases(op: Int => Unit): Unit = {
    probe.foreach(sparkCounters) // drop what set-up left behind
    var index = 0
    def run(phase: String): Unit = { op(index); opPhase += phase; index += 1 }
    (0 until warmOps).foreach(_ => run("warm"))
    val t0 = System.nanoTime()
    do run("timed") while ((System.nanoTime() - t0) / 1e9 < seconds)
  }

  /** Records an operation's JVM counters and, on traced runs, the Spark
    * task counters accumulated since the previous operation. */
  def opRecord(index: Int, events: Int, j0: Jvm.Snap, j1: Jvm.Snap): mutable.Map[String, Double] = {
    val rec = mutable.Map[String, Double]("index" -> index.toDouble, "events" -> events.toDouble)
    rec ++= j0.to(j1)
    probe.foreach { p =>
      rec ++= sparkCounters(p)
      rec("driver_cpu_ms") = rec("cpu_ms") - rec("spark.task_cpu_ms")
    }
    ops += rec
    rec
  }

  def sparkCounters(p: TaskProbe): Map[String, Double] = {
    BusBridge.drain(spark.sparkContext)
    p.take().map { case (k, v) => s"spark.$k" -> v }
  }

  def pairs(surface: String): mutable.Buffer[(Long, Long)] =
    rsePairs.getOrElseUpdate(surface, mutable.ArrayBuffer.empty)

  def fail(op: Int, errs: Seq[String]): Unit = if (errs.nonEmpty) failures(op) = errs

  private def timed: Seq[mutable.Map[String, Double]] =
    ops.indices.filter(i => opPhase(i) == "timed").map(ops)

  /** End-to-end metrics over the timed phase, and per-layer ones on
    * traced runs. Per-operation figures are medians over timed operations. */
  def metrics(): (Map[String, Double], Double) = {
    val t = timed
    val walls = t.map(_("wall_ms"))
    val events = t.map(_("events")).sum
    val (tail, pct) = Stats.tail(walls)
    val m = mutable.Map[String, Double](
      "setup_s" -> Stats.median(setupReps.toSeq),
      "throughput_eps" -> events / (walls.sum / 1000.0),
      "op_p50_ms" -> Stats.median(walls),
      "op_tail_ms" -> tail,
      "cpu_ms_per_kevent" -> t.map(_("cpu_ms")).sum / (events / 1000.0))
    if (trace) {
      def med(field: String) = Stats.median(t.map(_.getOrElse(field, 0.0)))
      val perOp = Seq(
        "streaming.microbatches_per_step" -> "streaming.microbatches",
        "streaming.state_stores_per_step" -> "streaming.state_stores",
        "streaming.checkpoint_files_per_step" -> "streaming.checkpoint_files",
        "spark.jobs_per_step" -> "spark.jobs",
        "spark.tasks_per_step" -> "spark.tasks") ++
        Seq("streaming.planning_ms", "streaming.wal_ms", "streaming.state_commit_ms",
          "streaming.state_removal_ms", "streaming.add_batch_ms", "streaming.state_update_ms",
          "streaming.state_rows", "streaming.state_bytes", "streaming.state_bytes_per_bucket",
          "spark.task_offcpu_ms", "spark.task_cpu_ms", "spark.shuffle_write_bytes",
          "spark.task_skew") .map(k => k -> k) ++
        Seq("jvm.jit_ms" -> "jit_ms", "jvm.gc_ms" -> "gc_ms", "jvm.driver_cpu_ms" -> "driver_cpu_ms") ++
        BatchWorkload.Calls.flatMap { c =>
          Seq(s"${c}_ms", s"$c.jobs", s"$c.shuffle_bytes").map(k => k -> k)
        }
      perOp.foreach { case (name, field) => if (t.exists(_.contains(field))) m(name) = med(field) }
      m ++= totals
      m("jvm.jit_share_pct") = 100.0 * t.map(_("jit_cpu_ms")).sum / t.map(_("cpu_ms")).sum
      m("outputs.count_rse_pct") = rsePct
      m("outputs.fail_frac") = failures.size.toDouble / ops.size
      m("trace.self_time_gap_ms") =
        if (spans.isEmpty) 0.0 else spans.map(s => math.abs(s.selfTotalNs - (s.endNs - s.startNs))).max / 1e6
    }
    (m.toMap, pct)
  }

  /** Relative standard error (%) over every estimated bucket of the run,
    * all approximate surfaces pooled: one surface may hold a single bucket
    * above 512 uids (a day, in the batch pass), and the error of one
    * bucket is not an RSE. 0 when no bucket was estimated. */
  def rsePct: Double = Ctx.rse(rsePairs.values.flatten.toSeq)

  def rseBySurface: Map[String, Double] = rsePairs.map { case (k, ps) => k -> Ctx.rse(ps.toSeq) }.toMap

  def timedOps: Int = timed.size
  def phaseOf(i: Int): String = opPhase(i)
}

object Ctx {
  def rse(pairs: Seq[(Long, Long)]): Double =
    if (pairs.isEmpty) 0.0
    else 100.0 * math.sqrt(pairs.map { case (e, g) => math.pow((g - e).toDouble / e, 2) }.sum / pairs.size)
}

/** Output checks against the reference. */
object Check {
  /** Buckets above this many uids are estimated by a dense HLL sketch. */
  val ExactUpTo = 512
  /** Per-bucket relative tolerance for estimated buckets: about five
    * standard errors of a p=14 HLL (1.04/sqrt(2^14) = 0.81 %). */
  val Tolerance = 0.04
  /** The paper's contract: relative standard error under 1 %. */
  val MaxRsePct = 1.0

  private val SinkLine = """\{"Type":"([a-z_]+)","Timestamp":(-?\d+),"Value":(\d+)\}""".r

  def parseSink(line: String): (Reference.Key, Long) = line match {
    case SinkLine(t, ts, v) => ((t, ts.toLong), v.toLong)
    case other => (("unparsable:" + other, 0L), -1L)
  }

  /** Compares one operation's outputs with the exact answer. Buckets of at
    * most `exactUpTo` uids must match exactly (pass -1 for a surface with
    * no exact mode); larger ones within [[Tolerance]]. */
  def outputs(label: String, truth: Map[Reference.Key, Long], got: Seq[(Reference.Key, Long)],
              errs: mutable.Buffer[String], pairs: mutable.Buffer[(Long, Long)],
              exactUpTo: Long = ExactUpTo): Unit = {
    val gotMap = got.toMap
    if (gotMap.size != got.size) errs += s"$label: ${got.size - gotMap.size} duplicate outputs"
    val missing = truth.keySet -- gotMap.keySet
    val extra = gotMap.keySet -- truth.keySet
    if (missing.nonEmpty) errs += s"$label: ${missing.size} buckets missing, e.g. ${missing.head}"
    if (extra.nonEmpty) errs += s"$label: ${extra.size} unexpected buckets, e.g. ${extra.head}"
    truth.foreach { case (k, exact) =>
      gotMap.get(k).foreach { v =>
        if (exact <= exactUpTo) {
          if (v != exact) errs += s"$label: $k = $v, exact $exact"
        } else {
          if (math.abs(v - exact).toDouble / exact > Tolerance)
            errs += s"$label: $k = $v, exact $exact, beyond ${Tolerance * 100} %"
          if (exact > ExactUpTo) pairs += ((exact, v))
        }
      }
    }
  }
}
