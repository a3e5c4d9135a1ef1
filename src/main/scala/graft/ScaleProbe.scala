package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Builds a k× IDENTICAL-replica copy of an SF directory, for timing the
  * registered queries beyond the provided scale factors (SURVEY §8.5).
  * A dev tool: no registered query calls it. Replicas are exact copies
  * with shifted ids, so the dedup pair generators exhibit the documented
  * quadratic-in-duplication law (that's the point: the numbers pin the
  * law). `Bench` does the timing:
  *
  * {{{
  * tools/run_class.sh graft.ScaleProbe      # SPARK_GRAFT_SCALE_K, default 10
  * SPARK_GRAFT_SF_DIR=/tmp/sf10x SPARK_GRAFT_BENCH_ONLY=<list> \
  *   SPARK_GRAFT_BENCH_RUNS=1 SPARK_GRAFT_CPUS=32 tools/run_class.sh graft.Bench
  * }}}
  */
object ScaleProbe {
  /** Writes `k` replicas of `src`'s documents, embeddings, events, orders
    * and lineitem to `dst`, plus unreplicated copies of the dimension
    * tables, so `dst` holds every [[Tables.all]] table. Ids are shifted
    * per replica by offsets above every id in sf0.1, so replicas never
    * collide; event users are shifted too, so replica users are disjoint
    * and every per-bucket distinct count grows exactly k×. lineitem/orders
    * replicate against the SAME part and customer dims: per-dim groups
    * grow k× — the correlated-agg and outer-join-distribution scaling
    * shape. */
  def build(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    /** k× replication via a broadcast range cross-join (one scan, no k-way
      * union plan). The write repartitions: the cross-join multiplies rows
      * WITHIN each input partition, and a handful of fat output files would
      * cap every downstream map stage's parallelism at the file count
      * (measured: 6× slowdown on the pair generators) — exactly the
      * small-files-in-reverse lesson a 100 TB layout encodes as "write
      * enough splits for the readers you expect". */
    def writeReplicated(table: String, shifts: (String, Long)*): Unit =
      shifts.foldLeft(Tables(spark, src, table).crossJoin(spark.range(k).toDF("rep"))) {
        case (df, (c, step)) => df.withColumn(c, col(c) + col("rep") * step)
      }.drop("rep").repartition(64).write.mode("overwrite").parquet(s"$dst/$table.parquet")

    writeReplicated("documents", "doc_id" -> 1000000L)
    writeReplicated("embeddings", "vec_id" -> 1000000L)
    writeReplicated("events", "user_id" -> 10000L, "event_id" -> 10000000L)
    writeReplicated("lineitem", "l_orderkey" -> 100000000L)
    writeReplicated("orders", "o_orderkey" -> 100000000L)
    Seq("region", "nation", "supplier", "part", "customer").foreach { t =>
      Tables(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[*]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val dst = s"/tmp/sf${k}x"
    val t0 = System.nanoTime()
    build(spark, src, dst, k)
    println(f"[scaleprobe] wrote ${k}x replica of $src to $dst in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
