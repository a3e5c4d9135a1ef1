package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Job/stage-level profiler for single queries — the measurement harness
  * behind OPTIMIZATION_r*.md (guide §1: decide where time goes before
  * touching anything). Runs each named query through the noop sink like
  * the bench, with a listener that attributes wall time to Spark jobs
  * (callsite-labelled) and reports per-stage shuffle bytes, so a slow
  * query decomposes into "which action, which stage, shuffle or compute".
  *
  * Usage: runMain graft.Profile <q1>[,q2...] — env contract as Bench
  * (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`, runs via
  * `SPARK_GRAFT_PROFILE_RUNS`, default 2; run 1 is warmup).
  */
object Profile {
  private case class StageRec(stageId: Int, name: String, numTasks: Int,
                              var wallMs: Long = 0L,
                              var taskTimeMs: Long = 0L,
                              var shuffleReadMB: Double = 0.0,
                              var shuffleWriteMB: Double = 0.0,
                              var inputMB: Double = 0.0,
                              var spillMB: Double = 0.0)

  private class Prof extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, (String, Long)]() // id -> (callsite, t0)
    val jobWall = mutable.LinkedHashMap[Int, (String, Long)]()
    val stages = mutable.LinkedHashMap[Int, StageRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val taskDurs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.taskInfo != null)
        taskDurs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += te.taskInfo.duration
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val site = Option(js.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
      jobs(js.jobId) = (site, System.nanoTime())
      js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobs.get(je.jobId).foreach { case (site, t0) =>
        jobWall(je.jobId) = (site, (System.nanoTime() - t0) / 1000000L)
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val rec = StageRec(si.stageId, si.name, si.numTasks)
      rec.wallMs = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(0L)
      val m = si.taskMetrics
      if (m != null) {
        rec.taskTimeMs = m.executorRunTime
        rec.shuffleReadMB = m.shuffleReadMetrics.totalBytesRead / 1048576.0
        rec.shuffleWriteMB = m.shuffleWriteMetrics.bytesWritten / 1048576.0
        rec.inputMB = m.inputMetrics.bytesRead / 1048576.0
        rec.spillMB = m.diskBytesSpilled / 1048576.0
      }
      stages(si.stageId) = rec
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <q1>[,q2...]")
    val names = args.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    // same untimed warmup as Bench
    Tables.all.foreach(t => Tables(spark, sfDir, t).write.format("noop").mode("overwrite").save())
    names.foreach { q =>
      (1 to runs).foreach { r =>
        val prof = new Prof
        spark.sparkContext.addSparkListener(prof)
        val t0 = System.nanoTime()
        val dfq = SparkEntry.queries(q)(spark, sfDir)
        try dfq.write.format("noop").mode("overwrite").save()
        catch { case NonFatal(e) => System.err.println(s"[profile] $q failed: $e") }
        if (r == runs && sys.env.contains("SPARK_GRAFT_PROFILE_PLAN"))
          println(s"=== $q FINAL PLAN ===\n" + dfq.queryExecution.executedPlan.toString.take(12000))
        val wall = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        Checkpoints.releaseAll()
        org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(prof)
        if (r == runs) { // report the last (warm) run
          println(f"%n=== $q run $r/$runs wall=$wall%.3f s | jobs=${prof.jobWall.size} stages=${prof.stages.size} ===")
          val byJob = prof.jobWall.toSeq.sortBy(-_._2._2).take(25)
          byJob.foreach { case (jid, (site, ms)) =>
            val jstages = prof.stages.values.filter(st => prof.stageToJob.get(st.stageId).contains(jid))
            val sr = jstages.map(_.shuffleReadMB).sum
            val sw = jstages.map(_.shuffleWriteMB).sum
            val in = jstages.map(_.inputMB).sum
            println(f"  job $jid%4d $ms%6d ms  [$site]  stages=${jstages.size} shufR=$sr%.1fMB shufW=$sw%.1fMB in=$in%.1fMB")
          }
          println(s"  --- top stages by task time ---")
          prof.stages.values.toSeq.sortBy(-_.taskTimeMs).take(15).foreach { st =>
            val ds = prof.taskDurs.getOrElse(st.stageId, mutable.ArrayBuffer.empty).sorted
            val p50 = if (ds.isEmpty) 0L else ds(ds.size / 2)
            val mx = if (ds.isEmpty) 0L else ds.last
            println(f"  stage ${st.stageId}%5d wall=${st.wallMs}%6d ms task=${st.taskTimeMs}%7d ms tasks=${st.numTasks}%4d p50=$p50%5d max=$mx%6d " +
              f"shufR=${st.shuffleReadMB}%8.2fMB shufW=${st.shuffleWriteMB}%8.2fMB in=${st.inputMB}%8.2fMB spill=${st.spillMB}%6.1fMB  ${st.name.take(80)}")
          }
        }
      }
    }
    spark.stop()
  }
}
