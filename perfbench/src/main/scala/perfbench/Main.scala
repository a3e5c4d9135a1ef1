package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its run record (JSON) to `--out`, and on
  * traced runs its spans to `--spans`. `run.py` launches this and prints
  * the summary line.
  *
  * {{{
  * Main --workload live_ref|replay_dense|batch_rollup --seed N --seconds S
  *      --warmup-ops N --trace 0|1 --work DIR --out FILE [--spans FILE]
  * }}}
  */
object Main {
  val Workloads: Seq[String] = Seq("live_ref", "replay_dense", "batch_rollup")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val work = new File(opt("work")).getAbsoluteFile
    work.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors()

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - s0) / 1e9

    val trace = opt.getOrElse("trace", "0") == "1"
    val ctx = new Ctx(spark, workload, opt("seed").toLong, opt("seconds").toDouble,
      opt("warmup-ops").toInt, trace, work)
    try {
      if (workload == "batch_rollup") new BatchWorkload(ctx).run()
      else new StreamWorkload(ctx).run()
    } catch {
      case e: Throwable =>
        ctx.runErrors += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }

    val (metrics, tailPct) =
      if (ctx.ops.nonEmpty && ctx.setupReps.nonEmpty) ctx.metrics() else (Map.empty[String, Double], 0.0)
    val rse = ctx.rsePct
    if (rse >= Check.MaxRsePct) ctx.runErrors += f"count RSE $rse%.3f %% is not under ${Check.MaxRsePct} %%"
    val errors = ctx.runErrors.toSeq ++ ctx.failures.toSeq.sortBy(_._1).flatMap(_._2)
    val record = Map(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> trace, "nproc" -> nproc,
      "seconds" -> ctx.seconds, "warmup_ops" -> ctx.warmOps,
      "correct" -> errors.isEmpty, "attempted" -> ctx.ops.size, "failed" -> ctx.failures.size,
      "errors" -> errors.take(20), "metrics" -> metrics,
      "tail_percentile" -> tailPct, "timed_ops" -> (if (ctx.ops.nonEmpty) ctx.timedOps else 0),
      "span_self_ms" -> ctx.spans.foldLeft(scala.collection.mutable.Map.empty[String, Double])(
        (acc, s) => s.selfByName(acc)),
      "session_start_s" -> sessionS, "setup_reps_s" -> ctx.setupReps.toSeq, "count_rse_pct" -> rse,
      "rse_pct_by_surface" -> ctx.rseBySurface,
      "ops" -> ctx.ops.indices.map(i => ctx.ops(i).toMap + ("phase" -> ctx.phaseOf(i))))
    Files.write(new File(opt("out")).toPath, Json.render(record).getBytes(StandardCharsets.UTF_8))
    opt.get("spans").filter(_ => trace).foreach { f =>
      val origin = ctx.spans.headOption.map(_.startNs).getOrElse(0L)
      Files.write(new File(f).toPath,
        Json.render(ctx.spans.map(_.toJson(origin))).getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
