package perfbench

import java.io.{BufferedWriter, File, FileWriter}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.core.Cardinality
import graft.sources.JsonlSource

/** `batch_rollup`: repeated passes over a seeded JSONL file. A pass is
  * `JsonlSource.read` (counted), `Cardinality.sketchRollup`,
  * `Cardinality.statsAllGranularities` and `hll_distinct_native` per day,
  * each collected. */
final class BatchWorkload(ctx: Ctx) {
  import ctx.spark

  val lines = 100000
  val chunk = 10000

  private def write(f: File, steps: Seq[Step]): Unit = {
    val w = new BufferedWriter(new FileWriter(f))
    try steps.foreach(_.lines.foreach { l => w.write(l); w.write('\n') }) finally w.close()
  }

  private def valueRows(rows: Array[Row]): Seq[(Reference.Key, Long)] =
    rows.toSeq.map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))

  /** One pass; returns each call's result and its span. */
  private def pass(path: String): (Span, Long, Map[String, Seq[(Reference.Key, Long)]], Map[String, Double]) = {
    val counters = mutable.Map.empty[String, Double]
    val spans = mutable.ArrayBuffer.empty[Span]
    def call[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      val t1 = System.nanoTime()
      spans += Span(name, t0, t1)
      counters(s"${name}_ms") = (t1 - t0) / 1e6
      ctx.probe.foreach { p =>
        val c = ctx.sparkCounters(p)
        counters(s"$name.jobs") = c("spark.jobs")
        counters(s"$name.shuffle_bytes") = c("spark.shuffle_write_bytes")
        c.foreach { case (k, v) =>
          val prev = counters.getOrElse(k, 0.0)
          counters(k) = if (k == "spark.task_skew") math.max(prev, v) else prev + v
        }
      }
      r
    }
    val t0 = System.nanoTime()
    val df = JsonlSource.read(spark, path)
    val ts = col("event_time")
    val uid = col("uid")
    val n = call("sources.jsonl_read")(df.count())
    val rollup = call("core.sketch_rollup")(Cardinality.sketchRollup(df, ts, uid).collect())
    val exact = call("core.stats_exact")(Cardinality.statsAllGranularities(df, ts, uid).collect())
    val native = call("functions.hll_native") {
      df.groupBy(unix_timestamp(date_trunc("day", ts)).as("Timestamp"))
        .agg(expr("hll_distinct_native(uid)").as("Value"))
        .select(lit("day_count"), col("Timestamp"), col("Value")).collect()
    }
    val span = Span("pass", t0, System.nanoTime(), spans.toSeq).clipped(Long.MinValue, Long.MaxValue)
    (span, n, Map("sketch_rollup" -> valueRows(rollup), "stats_exact" -> valueRows(exact),
      "hll_native" -> valueRows(native)), counters.toMap)
  }

  def run(): Unit = {
    val gen = new Gen.Dense(ctx.seed, chunk)
    val steps = (0 until lines / chunk).map(_ => gen.next())
    val input = new File(ctx.newDir("input"), "events.jsonl")
    write(input, steps)
    val truth = Reference.batch(steps)
    val dayTruth = truth.filter(_._1._1 == "day_count")
    val wellFormed = steps.map(s => s.size - s.count(Kind.Malformed)).sum.toLong

    // set-up: a first pass over a small, fresh file, 3 times
    val setupStep = new Gen.Dense(ctx.seed ^ 0x5e7L, 5000).next()
    (0 until 3).foreach { r =>
      val f = new File(ctx.newDir(s"setup$r"), "events.jsonl")
      write(f, Seq(setupStep))
      val t0 = System.nanoTime()
      pass(f.getPath)
      ctx.setupReps += (System.nanoTime() - t0) / 1e9
    }

    ctx.phases { index =>
      val j0 = Jvm.snap()
      val (span, n, results, counters) = pass(input.getPath)
      val rec = ctx.opRecord(index, lines, j0, Jvm.snap())
      rec ++= counters
      if (ctx.trace) rec("driver_cpu_ms") = rec("cpu_ms") - rec("spark.task_cpu_ms")
      if (ctx.trace) ctx.spans += span
      val errs = mutable.ArrayBuffer.empty[String]
      if (n != wellFormed) errs += s"pass $index: read $n rows, expected $wellFormed"
      Check.outputs(s"pass $index stats_exact", truth, results("stats_exact"), errs,
        ctx.pairs("stats_exact"), exactUpTo = Long.MaxValue)
      Check.outputs(s"pass $index sketch_rollup", truth, results("sketch_rollup"), errs,
        ctx.pairs("sketch_rollup"), exactUpTo = -1)
      Check.outputs(s"pass $index hll_native", dayTruth, results("hll_native"), errs,
        ctx.pairs("hll_native"), exactUpTo = -1)
      ctx.fail(index, errs.toSeq)
    }
    if (ctx.trace) {
      val kept = for (s <- steps; i <- 0 until s.size if s.kind(i) != Kind.Malformed) yield (s.uid(i), s.ts(i))
      FunctionsProbe.run(ctx, kept, gen.uidString)
    }
  }
}

object BatchWorkload {
  /** The calls of a pass, as named in per-layer metrics. */
  val Calls: Seq[String] =
    Seq("sources.jsonl_read", "core.sketch_rollup", "core.stats_exact", "functions.hll_native")
}
