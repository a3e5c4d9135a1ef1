package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `ScaleProbe.build`, behind the scaling table (SURVEY §8.5): a k× copy
  * must be a complete SF directory whose ids never collide across
  * replicas, so the registered queries read it as k times the data. */
class ScaleProbeSpec extends AnyFunSuite with SparkTestBase {

  test("build writes every table, k× the replicated rows with unique ids, disjoint replica users") {
    val k = 2
    val dst = java.nio.file.Files.createTempDirectory("graft-scale").toString
    ScaleProbe.build(spark, sf, dst, k)

    def rowsAndIds(dir: String, table: String, id: String): (Long, Long) = {
      val df = Tables(spark, dir, table)
      (df.count(), df.select(col(id)).distinct().count())
    }
    val replicated = Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
      "events" -> "event_id", "events" -> "user_id",
      "orders" -> "o_orderkey", "lineitem" -> "l_orderkey")
    replicated.foreach { case (t, id) =>
      val (srcRows, srcIds) = rowsAndIds(sf, t, id)
      assert(rowsAndIds(dst, t, id) == ((k * srcRows, k * srcIds)), s"$t.$id")
    }
    Tables.all.filterNot(replicated.map(_._1).toSet).foreach { t =>
      assert(Tables(spark, dst, t).count() == Tables(spark, sf, t).count(), t)
    }

    def stats(dir: String): Map[(String, Any), Long] =
      SparkEntry.queries("q_card_stats_all")(spark, dir).collect()
        .map(r => (r.getAs[String]("Type"), r.getAs[Any]("Timestamp")) -> r.getAs[Long]("Value"))
        .toMap
    val base = stats(sf)
    assert(base.nonEmpty)
    assert(stats(dst) == base.map { case (key, v) => key -> k * v })
  }
}
