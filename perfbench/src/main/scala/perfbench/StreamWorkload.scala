package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.{CalendarAppendWindows, CardinalityStream}

/** `live_ref` and `replay_dense`: the cardinality pipeline
  * (`parse` → `CalendarAppendWindows.allGranularities` → `toSinkFormat`)
  * fed from a `MemoryStream` in a closed loop: `addData`, then
  * `processAllAvailable`, then the next step. */
final class StreamWorkload(ctx: Ctx) {
  import ctx.spark
  import spark.implicits._

  val stepEvents: Int = if (ctx.workload == "live_ref") 2000 else 50000

  /** Pipeline prefixes: 0 raw source, 1 + parse, 2 + calendar windows,
    * 3 + sink format (the full pipeline, into a collecting sink). */
  private def pipeline(raw: DataFrame, depth: Int): DataFrame = depth match {
    case 0 => raw
    case 1 => CardinalityStream.parse(raw)
    case 2 => CalendarAppendWindows.allGranularities(spark, CardinalityStream.parse(raw))
    case _ => CardinalityStream.toSinkFormat(
      CalendarAppendWindows.allGranularities(spark, CardinalityStream.parse(raw)))
  }

  /** One running query over its own `MemoryStream` and checkpoint dir. */
  import StreamWorkload.StepResult

  final class Query(depth: Int, name: String) {
    private val input = MemoryStream[String](spark)
    val ckpt: File = ctx.newDir(name)
    private val out = mutable.ArrayBuffer.empty[String]
    private val writer = pipeline(input.toDF(), depth).writeStream
      .outputMode("append").option("checkpointLocation", ckpt.getPath)
    private val query =
      if (depth == 3) writer.foreachBatch { (df: Dataset[Row], _: Long) =>
        val rows = df.collect().map(_.getString(0))
        out.synchronized { out ++= rows; () }
      }.start()
      else writer.format("noop").start()
    private var lastBatch = -1L

    /** Runs one closed-loop step; returns its spans' raw material. */
    def step(lines: Array[String]): StepResult = {
      val before = out.synchronized(out.size)
      val t0 = System.nanoTime(); val epoch0 = System.currentTimeMillis()
      input.addData(lines.toSeq)
      val tAdd = System.nanoTime()
      query.processAllAvailable()
      val t1 = System.nanoTime()
      val progress = query.recentProgress
        .filter(p => p.batchId > lastBatch && p.durationMs.containsKey("addBatch"))
        .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)
      progress.lastOption.foreach(p => lastBatch = p.batchId)
      val rows = out.synchronized(out.slice(before, out.size).toSeq)
      StepResult(t0, epoch0, tAdd, t1, progress, rows)
    }

    def stop(): Unit = query.stop()
  }

  /** Streaming counters of one step, from its micro-batches' progress. */
  def progressStats(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val ops = ps.flatMap(_.stateOperators)
    val last = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    val parse = ps.flatMap(p => Option(p.observedMetrics.get("graft_parse")))
    def obs(f: String) = parse.map(r => r.getAs[Long](f)).sum.toDouble
    val drops = ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark)).filter(_.nonEmpty)
      .reduceOption((a, b) => a.zip(b).map(x => x._1 + x._2)).getOrElse(Array(0L))
    val rows = last.map(_.numRowsTotal).sum.toDouble
    val bytes = last.map(_.memoryUsedBytes).sum.toDouble
    Map(
      "microbatches" -> ps.size.toDouble,
      "planning_ms" -> dur("queryPlanning"),
      "wal_ms" -> (dur("walCommit") + dur("commitOffsets")),
      "add_batch_ms" -> dur("addBatch"),
      "state_stores" -> ops.map(_.numStateStoreInstances).sum.toDouble,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble,
      "state_removal_ms" -> ops.map(_.allRemovalsTimeMs).sum.toDouble,
      "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum.toDouble,
      "state_rows" -> rows,
      "state_bytes" -> bytes,
      "state_bytes_per_bucket" -> (if (rows > 0) bytes / rows else 0.0),
      "parse_rows_in" -> obs("n_in"),
      // the parser's counters overlap (a line that is not JSON counts as
      // both bad uid and malformed); every generated bad line has no
      // readable ts, so malformed + non-positive ts counts each drop once
      "parse_dropped" -> (obs("n_malformed") + obs("n_nonpos_ts")),
      "dropped_min" -> drops.min.toDouble,
      "dropped_max" -> drops.max.toDouble)
  }

  private def ckptFiles(dir: File): Set[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(dir).map(_.getPath)
      .filterNot(p => p.contains(".snapshot") || p.endsWith(".crc")).toSet
  }

  def run(): Unit = {
    // set-up: bring a fresh query up and through its first step, 3 times
    val setupStep = Gen.forWorkload(ctx.workload, ctx.seed ^ 0x5e7L, math.min(stepEvents, 10000)).next()
    (0 until 3).foreach { r =>
      val t0 = System.nanoTime()
      val q = new Query(3, s"setup$r")
      q.step(setupStep.lines)
      q.stop()
      ctx.setupReps += (System.nanoTime() - t0) / 1e9
    }

    val gen = Gen.forWorkload(ctx.workload, ctx.seed, stepEvents)
    val steps = mutable.ArrayBuffer.empty[Step]
    val results = mutable.ArrayBuffer.empty[StepResult]
    val main = new Query(3, "main")
    var files = Set.empty[String]
    ctx.phases { index =>
      val s = gen.next()
      steps += s
      val j0 = Jvm.snap()
      val r = main.step(s.lines)
      val rec = ctx.opRecord(index, s.size, j0, Jvm.snap())
      val ps = progressStats(r.progress)
      rec ++= ps.map { case (k, v) => s"streaming.$k" -> v }
      if (ctx.trace) {
        val now = ckptFiles(main.ckpt)
        rec("streaming.checkpoint_files") = (now -- files).size.toDouble
        files = now
        ctx.spans += r.span
      }
      results += r
    }
    main.stop()

    // reference checks, step by step
    val ref = new Reference.Stream()
    steps.indices.foreach { k =>
      val truth = ref.step(steps(k))
      val rec = ctx.ops(k)
      val errs = mutable.ArrayBuffer.empty[String]
      Check.outputs(s"step $k", truth.sealedBuckets, results(k).rows.map(Check.parseSink), errs,
        ctx.pairs("stream"))
      def expect(name: String, want: Long): Unit = {
        val got = rec.getOrElse(name, -1.0)
        if (got != want.toDouble) errs += s"step $k: $name = $got, expected $want"
      }
      expect("streaming.parse_rows_in", truth.rowsIn)
      expect("streaming.parse_dropped", truth.parseDropped)
      expect("streaming.dropped_min", truth.droppedByWatermark)
      expect("streaming.dropped_max", truth.droppedByWatermark)
      ctx.fail(k, errs.toSeq)
    }

    val kept = for {
      s <- steps.toSeq
      i <- 0 until s.size if s.kind(i) == Kind.Regular || s.kind(i) == Kind.OutOfOrder
    } yield (s.uid(i), s.ts(i))
    ctx.totals("streaming.parse_rows_in") = ctx.ops.map(_("streaming.parse_rows_in")).sum
    ctx.totals("streaming.parse_dropped") = ctx.ops.map(_("streaming.parse_dropped")).sum
    ctx.totals("streaming.dropped_by_watermark") = ctx.ops.map(_("streaming.dropped_max")).sum
    if (ctx.trace) {
      FunctionsProbe.run(ctx, kept, gen.uidString)
      prefixSelfTimes()
    }
  }

  /** Self time of parse, windows and sink format, per 1000 events: the
    * same first steps through each pipeline prefix, differenced. */
  private def prefixSelfTimes(): Unit = {
    val n = if (ctx.workload == "live_ref") 3 else 2
    val walls = (0 to 3).map { depth =>
      val gen = Gen.forWorkload(ctx.workload, ctx.seed, stepEvents)
      val q = new Query(depth, s"prefix$depth")
      val w = (0 until n).map { _ => val r = q.step(gen.next().lines); (r.t1 - r.t0) / 1e6 }
      q.stop()
      w.sum
    }
    val kev = n * stepEvents / 1000.0
    ctx.totals("streaming.parse_self_ms_per_kevent") = (walls(1) - walls(0)) / kev
    ctx.totals("streaming.aggregate_self_ms_per_kevent") = (walls(2) - walls(1)) / kev
    ctx.totals("streaming.sink_self_ms_per_kevent") = (walls(3) - walls(2)) / kev
  }
}

object StreamWorkload {
  /** A step's timestamps, micro-batch progress and sink rows. */
  final case class StepResult(t0: Long, epoch0: Long, tAdd: Long, t1: Long,
                              progress: Seq[StreamingQueryProgress], rows: Seq[String]) {
    def span: Span = {
      val batches = progress.map { p =>
        val s = t0 + (java.time.Instant.parse(p.timestamp).toEpochMilli - epoch0) * 1000000L
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        var at = s
        val phases = PhaseOrder.filter(d.contains).map { k =>
          val sp = Span(k, at, at + d(k) * 1000000L); at = sp.endNs; sp
        }
        Span("microbatch", s, s + d.getOrElse("triggerExecution", 0L) * 1000000L, phases)
      }
      Span("step", t0, t1, Span("source.addData", t0, tAdd) +: batches).clipped(t0, t1)
    }
  }

  /** Order in which a micro-batch runs the phases it reports. */
  val PhaseOrder: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
}
