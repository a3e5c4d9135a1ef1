package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JsonlSource
import graft.streaming.{CardinalityStream, DataDrivenWindows}

class JsonlSourceSpec extends AnyFunSuite with SparkTestBase {

  private def writeFixture(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-src").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "stream.jsonl"))
    lines.foreach(w.println)
    w.close()
    dir.getAbsolutePath
  }

  private def writeBytes(dir: java.io.File, name: String, text: String): Unit =
    java.nio.file.Files.write(new java.io.File(dir, name).toPath,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, java.sql.Timestamp)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getTimestamp(1))).sortBy(r => (r._1, r._2.getTime))

  test("batch JSONL read drops malformed lines and parses the rest") {
    val path = writeFixture(Seq(
      """{"uid":"a","ts":1468244384}""",
      """{"uid":"b","ts":1468244389}""",
      "garbage",
      """{"uid":"","ts":1468244395}""")) // empty uid is still a valid record
    val got = JsonlSource.read(spark, path).collect()
    assert(got.length == 3)
    assert(got.map(_.getString(0)).sorted.toSeq == Seq("", "a", "b"))
  }

  test("end-to-end file replay: JSONL -> data-driven windows -> JSONL stats with capitalized keys") {
    import spark.implicits._
    val base = 1468244384L
    val path = writeFixture((0 until 200).map(i =>
      s"""{"uid":"u${i % 9}","ts":${base + i * 45}}"""))
    val msgs = JsonlSource.read(spark, path)
      .select($"uid", org.apache.spark.sql.functions.unix_timestamp($"event_time").as("ts"))
      .as[graft.streaming.UserMsg]
    val stats = DataDrivenWindows.batch(spark, msgs)
    val outDir = java.nio.file.Files.createTempDirectory("graft-stats-out").toString
    JsonlSource.writeStats(stats.toDF(), outDir)
    val lines = spark.read.text(outDir).collect().map(_.getString(0))
    assert(lines.nonEmpty)
    lines.foreach { l =>
      assert(l.startsWith("""{"Type":""") && l.contains(""""Timestamp":""") &&
        l.contains(""""Value":"""), l)
    }
  }

  test("a small file is read on every core") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-split").toFile
    // CRLF line ends, a blank line, a malformed line, a non-ASCII uid and
    // no trailing newline; long enough for one split per core
    val lines = (0 until 12).map(i => s"""{"uid":"user-$i","ts":${1468244384L + i * 7}}""") ++
      Seq("", "{not json", """{"uid":"Zoë-東京","ts":1468244999}""")
    writeBytes(dir, "stream.jsonl", lines.mkString("\r\n"))
    val path = dir.getAbsolutePath
    val df = JsonlSource.read(spark, path)
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val got = rows(df)
    assert(got == rows(CardinalityStream.parse(spark.read.text(path))))
    assert(got.length == 13 && got.exists(_._1 == "Zoë-東京"))
  }

  test("a directory reads its data files only, and the parse counters add up across tasks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-dir").toFile
    val a = (0 until 20).map(i => s"""{"uid":"a$i","ts":${1468244384L + i}}""") :+ "garbage"
    val b = Seq("""{"uid":"b0","ts":1468244500}""", "{", """{"uid":"b1","ts":1468244501}""")
    writeBytes(dir, "part-0.jsonl", a.mkString("", "\n", "\n"))
    writeBytes(dir, "part-1.jsonl", b.mkString("", "\n", "\n"))
    writeBytes(dir, "_SUCCESS", "")
    writeBytes(dir, ".part.crc", """{"uid":"crc","ts":1468244600}""" + "\n")
    val df = JsonlSource.read(spark, dir.getAbsolutePath)
    assert(df.rdd.getNumPartitions > 1)
    // the counters are read off this frame's own executed plan, so the
    // action must run it: `count()` plans a separate `groupBy().count()`,
    // after which the observation is absent rather than all zeros
    assert(df.count() == 22L)
    assert(!graft.Observed.metrics(df).contains("graft_parse"))
    assert(rows(df).map(_._1).sorted == ((0 until 20).map(i => s"a$i") ++ Seq("b0", "b1")).sorted)
    val m = graft.Observed.metrics(df)("graft_parse")
    assert(m.getAs[Long]("n_in") == (a.length + b.length).toLong)
    assert(m.getAs[Long]("n_malformed") == 2L)
  }
}
