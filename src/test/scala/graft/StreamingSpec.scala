package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CardinalityStream, DataDrivenWindows, StatMsg, UserMsg}

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  import org.apache.spark.sql.functions._

  test("parse drops malformed JSON, null fields, and ts<=0 (log-and-skip parity)") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    input.addData(
      """{"uid":"alice","ts":1468244384}""",
      """{"uid":"bob","ts":1468244389}""",
      """not json at all""",
      """{"uid":"carol"}""", // missing ts
      """{"uid":"dave","ts":0}""", // reference would u64-underflow
      """{"ts":1468244395}""") // missing uid
    val q = CardinalityStream.parse(input.toDF())
      .writeStream.format("memory").queryName("parsed").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("parsed").collect()
      assert(rows.map(_.getString(0)).sorted.toSeq == Seq("alice", "bob"))
    } finally q.stop()
  }

  test("reference-parity parse counts a missing uid as the empty string (jsoniter decode)") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    input.addData(
      """{"uid":"alice","ts":1468244384}""",
      """{"ts":1468244395}""", // missing uid -> "" (processor.go:87 counts it)
      """{"uid":null,"ts":1468244396}""", // explicit null -> "" likewise
      """not json at all""", // malformed still dropped (log-and-skip)
      """{"uid":"ghost"}""") // missing ts -> still dropped (u64-underflow guard)
    val q = CardinalityStream.parse(input.toDF(), referenceParity = true)
      .writeStream.format("memory").queryName("parity").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("parity").collect().map(_.getString(0)).sorted.toSeq
      assert(rows == Seq("", "", "alice"))
    } finally q.stop()
  }

  test("reference-parity parse drops non-string uid values (jsoniter type error)") {
    import spark.implicits._
    // jsoniter errors on {"uid":123} (type mismatch) and the reference drops
    // the whole message (kafkaio.go:78-81); Spark's Jackson parser would
    // coerce 123 -> "123" and count it. Parity mode must drop; default mode
    // keeps the coerced string (documented divergence, now flag-gated).
    val dirty = Seq(
      """{"uid":"alice","ts":1468244384}""",
      """{"uid":123,"ts":1468244385}""", // number -> jsoniter type error
      """{"uid":true,"ts":1468244386}""", // bool -> type error
      """{"uid":["x"],"ts":1468244387}""", // array -> type error
      """{"uid":{"a":1},"ts":1468244388}""", // object -> type error
      """{"uid": "spaced","ts":1468244389}""", // whitespace before quote: kept
      """{"uid":null,"ts":1468244390}""") // null -> "" (no error in Go)
    val parityIn = MemoryStream[String](spark)
    parityIn.addData(dirty: _*)
    val qp = CardinalityStream.parse(parityIn.toDF(), referenceParity = true)
      .writeStream.format("memory").queryName("parity_nonstr").outputMode("append").start()
    val defaultIn = MemoryStream[String](spark)
    defaultIn.addData(dirty: _*)
    val qd = CardinalityStream.parse(defaultIn.toDF())
      .writeStream.format("memory").queryName("default_nonstr").outputMode("append").start()
    try {
      qp.processAllAvailable()
      qd.processAllAvailable()
      val parity = spark.table("parity_nonstr").collect().map(_.getString(0)).sorted.toSeq
      assert(parity == Seq("", "alice", "spaced"))
      val dflt = spark.table("default_nonstr").collect().map(_.getString(0)).sorted.toSeq
      // default mode: Jackson coerces the number to "123"; true/array/object
      // fail Jackson's string read -> null uid -> dropped; null uid dropped
      assert(dflt.contains("123") && dflt.contains("alice") && dflt.contains("spaced"))
      assert(!dflt.contains(""))
    } finally { qp.stop(); qd.stop() }
  }

  test("reference-parity parse matches jsoniter case-insensitive keys and strict-integer ts") {
    import spark.implicits._
    val rows = Seq(
      """{"UID":"carol","ts":1468244384}""", // case-insensitive key fallback -> counted
      """{"Uid":"dan","Ts":1468244385}""", // both keys case-folded -> counted
      """{"uid":"eve","ts":"1468244386"}""", // STRING ts -> uint64 type error -> drop
      """{"uid":"frank","ts":1468244387.5}""", // float ts -> type error -> drop
      """{"uid":"gina","ts":15e2}""", // exponent form -> type error -> drop
      // poison regression: case-colliding keys must NOT kill the query (a
      // lowered-key map would throw DUPLICATED_MAP_KEY); Go processes
      // fields in order and every case-insensitive match overwrites, so
      // the LAST one wins
      """{"uid":"ivy","UID":"shadow","ts":1468244389}""", // -> shadow
      // duplicate EXACT keys: last value wins too
      """{"uid":"junk","uid":"kara","ts":1468244390}""", // -> kara
      // a trailing null assignment is a NO-OP in Go's decoder, not a wipe
      """{"uid":"mona","uid":null,"ts":1468244392}""", // -> mona
      // unrelated case-colliding keys parse fine
      """{"x":1,"X":2,"uid":"liam","ts":1468244391}""", // -> liam
      """{"uid":"hank","ts":1468244388}""") // plain -> counted
    val parityIn = MemoryStream[String](spark)
    parityIn.addData(rows: _*)
    val qp = CardinalityStream.parse(parityIn.toDF(), referenceParity = true)
      .writeStream.format("memory").queryName("parity_keys").outputMode("append").start()
    val defaultIn = MemoryStream[String](spark)
    defaultIn.addData(rows: _*)
    val qd = CardinalityStream.parse(defaultIn.toDF())
      .writeStream.format("memory").queryName("default_keys").outputMode("append").start()
    try {
      qp.processAllAvailable()
      qd.processAllAvailable()
      val parity = spark.table("parity_keys").collect().map(_.getString(0)).sorted.toSeq
      assert(parity == Seq("carol", "dan", "hank", "kara", "liam", "mona", "shadow"),
        parity.mkString(","))
      // default (case-sensitive struct) mode: UID/Uid-only rows lose their
      // uid and drop; the struct parser also rejects string/float ts tokens
      // outright; rows with an exact-case "uid" key survive (duplicate-key
      // resolution inside the struct parser is left unpinned here)
      val dflt = spark.table("default_keys").collect().map(_.getString(0)).toSet
      assert(dflt.contains("hank") && dflt.contains("ivy") && dflt.contains("liam"))
      assert(!dflt.contains("carol") && !dflt.contains("dan") && !dflt.contains("shadow"))
    } finally { qp.stop(); qd.stop() }
  }

  test("parse surfaces drop counters through Dataset.observe (graft_parse metrics)") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    input.addData(
      """{"uid":"alice","ts":1468244384}""", // kept
      """not json at all""", // malformed
      """{"uid":"carol"}""", // missing ts -> malformed bucket
      """{"uid":"dave","ts":0}""", // non-positive ts
      """{"uid":"eve","ts":-5}""", // non-positive ts
      """{"ts":1468244395}""") // null uid (default mode: bad uid)
    val q = CardinalityStream.parse(input.toDF())
      .writeStream.format("memory").queryName("observed_parse").outputMode("append").start()
    try {
      q.processAllAvailable()
      val metrics = q.recentProgress
        .flatMap(p => Option(p.observedMetrics.get("graft_parse")))
        .find(r => r.getAs[Long]("n_in") > 0)
        .getOrElse(fail("no graft_parse observation with rows reported"))
      assert(metrics.getAs[Long]("n_in") == 6)
      // "not json" parses to all-null: counted in BOTH bad_uid and malformed
      assert(metrics.getAs[Long]("n_bad_uid") == 2)
      assert(metrics.getAs[Long]("n_malformed") == 2)
      assert(metrics.getAs[Long]("n_nonpos_ts") == 2)
      assert(spark.table("observed_parse").count() == 1)
    } finally q.stop()
  }

  test("minute-granularity streaming agg counts distinct users per aligned window") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val base = 1468244340L // aligned: 2016-07-11 13:39:00 UTC
    input.addData(
      s"""{"uid":"u1","ts":${base + 5}}""",
      s"""{"uid":"u2","ts":${base + 20}}""",
      s"""{"uid":"u1","ts":${base + 40}}""", // dup in window 1
      s"""{"uid":"u3","ts":${base + 65}}""") // window 2
    val agg = CardinalityStream.aggregated(CardinalityStream.parse(input.toDF()), "minute")
    val q = agg.writeStream.format("memory").queryName("mstats").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("mstats").collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(got == Map(base -> 2L, (base + 60) -> 1L))
    } finally q.stop()
  }

  test("all five granularities stream in the reference output shape") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    input.addData("""{"uid":"x","ts":1468244384}""")
    val all = CardinalityStream.toSinkFormat(
      CardinalityStream.allGranularities(CardinalityStream.parse(input.toDF())))
    val q = all.writeStream.format("memory").queryName("allg").outputMode("update").start()
    try {
      q.processAllAvailable()
      val jsons = spark.table("allg").collect().map(_.getString(0))
      assert(jsons.length == 5)
      // capitalized keys, epoch-seconds Timestamp — kafkaio.go:92 casing
      jsons.foreach { j =>
        assert(j.contains("\"Type\":") && j.contains("\"Timestamp\":") && j.contains("\"Value\":"), j)
      }
      val types = jsons.flatMap("\"Type\":\"(\\w+)\"".r.findFirstMatchIn(_).map(_.group(1))).toSet
      assert(types == Set("minute_count", "day_count", "week_count", "month_count", "year_count"))
    } finally q.stop()
  }

  test("pretty sink format is byte-exact with Go jsoniter.MarshalIndent output") {
    import spark.implicits._
    val stats = Seq(graft.streaming.StatMsg("minute_count", 1468244384L, 997L)).toDF()
    val got = CardinalityStream.toSinkFormatPretty(stats).collect()(0).getString(0)
    // shape from FIXTURES.md / kafkaio.go:92 (Go-default capitalized keys,
    // two-space indent)
    val expected =
      "{\n  \"Type\": \"minute_count\",\n  \"Timestamp\": 1468244384,\n  \"Value\": 997\n}"
    assert(got == expected, s"\ngot:\n$got\nexpected:\n$expected")
  }

  // ---------------------------------------------------------------
  // Exact-semantics tier: data-driven windows (processor.go:79-102)
  // ---------------------------------------------------------------

  /** Independent in-test simulation of the reference processor (SURVEY.md
    * §5): exact distinct sets instead of HLL — flush TIMING must match our
    * operator exactly; Values are compared within the HLL bound. */
  private def simulate(msgs: Seq[UserMsg], statType: String): Seq[(Long, Int)] = {
    var seen = Set.empty[String]
    var lastFlush = 0L
    var interval = DataDrivenWindows.intervalFrom(statType, 0L)
    val out = Seq.newBuilder[(Long, Int)]
    msgs.foreach { m =>
      seen += m.uid
      if (m.ts > lastFlush + interval) {
        out += ((lastFlush, seen.size))
        seen = Set.empty
        lastFlush = m.ts
        interval = DataDrivenWindows.intervalFrom(statType, m.ts)
      }
    }
    out.result()
  }

  test("data-driven windows replicate the reference flush semantics") {
    import spark.implicits._
    // monotone stream shaped like the reference benchmark
    // (processor_test.go:33-38): gaps U[0,3600) — deterministic LCG
    var ts = 1468244384L
    var seed = 12345L
    val msgs = (0 until 600).map { i =>
      seed = (seed * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      ts += seed % 3600
      UserMsg(s"user${seed % 100}", ts)
    }
    val input = MemoryStream[UserMsg](spark)
    val out = DataDrivenWindows(spark, input.toDS())
    val q = out.writeStream.format("memory").queryName("ddw").outputMode("append").start()
    try {
      input.addData(msgs) // single batch: full order preserved, like Kafka
      q.processAllAvailable()
      val got = spark.table("ddw").as[StatMsg].collect()
        .groupBy(_.Type).view.mapValues(_.sortBy(_.Timestamp)).toMap
      graft.core.Buckets.granularities.map(g => s"${g}_count").foreach { st =>
        val sim = simulate(msgs, st)
        val ours = got.getOrElse(st, Array.empty[StatMsg]).toSeq
        // flush timing: exact parity
        assert(ours.map(_.Timestamp) == sim.map(_._1), s"$st flush timestamps diverge")
        // values: within HLL accuracy of the exact simulation
        ours.zip(sim).foreach { case (o, (_, exact)) =>
          assert(math.abs(o.Value - exact) <= math.max(1.0, 0.05 * exact),
            s"$st window ${o.Timestamp}: hll ${o.Value} vs exact $exact")
        }
      }
      // degenerate first window: Timestamp 0 (SURVEY §2.1.3)
      assert(got.values.forall(_.head.Timestamp == 0L))
    } finally q.stop()
  }

  test("exact data-driven tier matches the reference simulation bit-for-bit, ties included") {
    import spark.implicits._
    var ts = 1468244384L
    var seed = 99L
    val base = (0 until 400).map { i =>
      seed = (seed * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      ts += seed % 120 // short gaps → many minute windows, frequent boundary ties
      if (i % 97 == 96) ts += 400000 // occasional jumps → day/week flushes too
      UserMsg(s"user${seed % 50}", ts)
    }
    // duplicate-ts rows — same ts with a different uid, and exact (ts, uid)
    // duplicates — to exercise the one-trigger-per-flush tie rule (the
    // FIRST message in (ts, uid) order closes the old window; later ties,
    // including other copies of the trigger uid, open the new one)
    val msgs = base ++
      base.grouped(7).map(_.head).map(m => m.copy(uid = "zz" + m.uid)).toSeq ++
      base.grouped(11).map(_.head).toSeq
    val sorted = msgs.sortBy(m => (m.ts, m.uid))
    val got = DataDrivenWindows.batchExact(spark, spark.createDataset(msgs)).collect()
      .groupBy(_.Type).view
      .mapValues(_.sortBy(_.Timestamp).toSeq.map(s => (s.Timestamp, s.Value))).toMap
    graft.core.Buckets.granularities.map(g => s"${g}_count").foreach { st =>
      val sim = simulate(sorted, st).map { case (t, v) => (t, v.toLong) }
      assert(got.getOrElse(st, Seq.empty) == sim, s"$st diverges from the simulation")
      assert(sim.nonEmpty && sim.head._1 == 0L) // degenerate first window present
    }
  }

  test("watermark bounds state: events later than the watermark do not resurrect closed windows") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val base = 1468244340L
    val agg = CardinalityStream.aggregated(
      CardinalityStream.parse(input.toDF()), "minute", watermark = "10 minutes")
    // append mode only emits windows the watermark has sealed — the
    // mechanism the reference lacks entirely (SURVEY §2.1.3: no
    // late-data handling, late events silently join the current window)
    val q = agg.writeStream.format("memory").queryName("wmstats").outputMode("append").start()
    try {
      input.addData(s"""{"uid":"a","ts":$base}""", s"""{"uid":"b","ts":${base + 30}}""")
      q.processAllAvailable()
      // watermark is base+30-10min; window [base, base+60) not sealed yet
      assert(spark.table("wmstats").isEmpty)
      // advance event time far past the window; it seals and emits
      input.addData(s"""{"uid":"c","ts":${base + 3600}}""")
      q.processAllAvailable()
      val sealedCounts = spark.table("wmstats").collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(sealedCounts == Map(base -> 2L))
      // a VERY late event for the sealed window is dropped, not re-emitted
      input.addData(s"""{"uid":"zzz","ts":${base + 1}}""")
      // plus another advance so any (incorrect) re-emission would flush
      input.addData(s"""{"uid":"d","ts":${base + 7200}}""")
      q.processAllAvailable()
      val again = spark.table("wmstats").collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(again.getOrElse(base, 2L) == 2L, s"late event resurrected a sealed window: $again")
    } finally q.stop()
  }

  test("append-mode month/year granularities emit once on watermark seal and drop late data") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val jul11 = 1468244384L // 2016-07-11 UTC
    val jul1 = 1467331200L // 2016-07-01 00:00:00 UTC (month bucket start)
    val aug2 = 1470096000L // 2016-08-02 UTC — seals the July bucket
    val agg = graft.streaming.CalendarAppendWindows.aggregated(
      spark, CardinalityStream.parse(input.toDF()), "month", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("capp").outputMode("append").start()
    try {
      input.addData(s"""{"uid":"u1","ts":$jul11}""", s"""{"uid":"u2","ts":${jul11 + 100}}""")
      q.processAllAvailable()
      assert(spark.table("capp").isEmpty, "bucket emitted before watermark sealed it")
      // advance event time into August (watermark passes July's end)...
      input.addData(s"""{"uid":"u3","ts":$aug2}""")
      q.processAllAvailable()
      // ...and one more batch so the timeout fires under the advanced watermark
      input.addData(s"""{"uid":"u4","ts":${aug2 + 60}}""")
      q.processAllAvailable()
      val sealedRows = spark.table("capp").as[StatMsg].collect()
      assert(sealedRows.toSeq == Seq(StatMsg("month_count", jul1, 2L)), sealedRows.mkString(","))
      // a very late July event is dropped; the sealed bucket never re-emits
      input.addData(s"""{"uid":"zzz","ts":${jul11 + 1}}""")
      input.addData(s"""{"uid":"u5","ts":${aug2 + 7200}}""")
      q.processAllAvailable()
      val again = spark.table("capp").as[StatMsg].collect().filter(_.Timestamp == jul1)
      assert(again.toSeq == Seq(StatMsg("month_count", jul1, 2L)),
        s"late event resurrected or re-emitted a sealed month bucket: ${again.mkString(",")}")
    } finally q.stop()
  }

  test("append-mode year bucket seals with calendar-true boundaries") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val jan1_2016 = 1451606400L
    val feb2017 = 1485907200L // 2017-02-01 — seals 2016
    val agg = graft.streaming.CalendarAppendWindows.aggregated(
      spark, CardinalityStream.parse(input.toDF()), "year", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("cappy").outputMode("append").start()
    try {
      input.addData(s"""{"uid":"a","ts":${jan1_2016 + 5000}}""",
                    s"""{"uid":"b","ts":${jan1_2016 + 86400 * 200}}""")
      q.processAllAvailable()
      input.addData(s"""{"uid":"c","ts":$feb2017}""")
      q.processAllAvailable()
      input.addData(s"""{"uid":"d","ts":${feb2017 + 60}}""")
      q.processAllAvailable()
      val sealedRows = spark.table("cappy").as[StatMsg].collect()
      assert(sealedRows.toSeq == Seq(StatMsg("year_count", jan1_2016, 2L)), sealedRows.mkString(","))
    } finally q.stop()
  }

  test("all granularities run as one state operator; a year-boundary advance seals each bucket once") {
    import spark.implicits._
    def utc(mo: Int, d: Int, h: Int, mi: Int, sec: Int, y: Int = 2016): Long =
      java.time.LocalDateTime.of(y, mo, d, h, mi, sec).toEpochSecond(java.time.ZoneOffset.UTC)
    def line(uid: String, ts: Long) = s"""{"uid":"$uid","ts":$ts}"""
    val input = MemoryStream[String](spark)
    val agg = graft.streaming.CalendarAppendWindows.allGranularities(
      spark, CardinalityStream.parse(input.toDF()), watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("calfused").outputMode("append").start()
    def emitted() = spark.table("calfused").as[StatMsg].collect().toSeq
    try {
      // batch 1: one event each in June and on Dec 20 and Dec 27, then four
      // on Dec 31 (uid a twice); the watermark lands at Dec 31 11:55:10
      input.addData(line("f", utc(6, 15, 10, 0, 0)), line("e", utc(12, 20, 8, 0, 0)),
        line("d", utc(12, 27, 9, 0, 0)), line("a", utc(12, 31, 12, 0, 0)),
        line("b", utc(12, 31, 12, 0, 30)), line("c", utc(12, 31, 12, 5, 0)),
        line("a", utc(12, 31, 12, 5, 10)))
      q.processAllAvailable()
      // only buckets ending behind the watermark have sealed
      val first = Set(
        StatMsg("minute_count", utc(6, 15, 10, 0, 0), 1), StatMsg("day_count", utc(6, 15, 0, 0, 0), 1),
        StatMsg("week_count", utc(6, 13, 0, 0, 0), 1), StatMsg("month_count", utc(6, 1, 0, 0, 0), 1),
        StatMsg("minute_count", utc(12, 20, 8, 0, 0), 1), StatMsg("day_count", utc(12, 20, 0, 0, 0), 1),
        StatMsg("week_count", utc(12, 19, 0, 0, 0), 1),
        StatMsg("minute_count", utc(12, 27, 9, 0, 0), 1), StatMsg("day_count", utc(12, 27, 0, 0, 0), 1))
      assert(emitted().toSet == first)
      // batch 2: two very-late lines (behind the watermark) and one on time
      input.addData(line("late1", utc(12, 31, 11, 0, 0)), line("late2", utc(12, 27, 9, 0, 30)),
        line("g", utc(12, 31, 12, 5, 20)))
      q.processAllAvailable()
      assert(emitted().toSet == first)
      // batch 3: one advance to Feb 1 seals every bucket still open in 2016
      input.addData(line("adv", utc(2, 1, 12, 0, 0, y = 2017)))
      q.processAllAvailable()
      val all = emitted()
      assert(all.map(m => (m.Type, m.Timestamp)).distinct.size == all.size,
        s"a bucket emitted twice: $all")
      assert(all.toSet -- first == Set(
        StatMsg("minute_count", utc(12, 31, 12, 0, 0), 2), // a b
        StatMsg("minute_count", utc(12, 31, 12, 5, 0), 3), // c a g
        StatMsg("day_count", utc(12, 31, 0, 0, 0), 4), // + b
        StatMsg("week_count", utc(12, 26, 0, 0, 0), 5), // + d
        StatMsg("month_count", utc(12, 1, 0, 0, 0), 6), // + e
        StatMsg("year_count", utc(1, 1, 0, 0, 0), 7))) // + f
      // one operator for all five granularities, and each very-late event
      // is dropped (and counted) once
      val batches = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        .groupBy(_.batchId).values.map(_.last).toSeq
      assert(batches.nonEmpty && batches.forall(_.stateOperators.length == 1),
        s"state operators per batch: ${batches.map(_.stateOperators.length)}")
      assert(batches.map(_.stateOperators.head.numRowsDroppedByWatermark).sum == 2L)
    } finally q.stop()
  }

  test("streaming dedup drops duplicates within the watermark, state expires after") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val base = 1468244340L
    val out = graft.streaming.StreamDedup.withinWatermark(
      CardinalityStream.parse(input.toDF()), watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      input.addData(
        s"""{"uid":"u1","ts":$base}""",
        s"""{"uid":"u1","ts":${base + 5}}""", // dup within watermark
        s"""{"uid":"u2","ts":${base + 10}}""")
      q.processAllAvailable()
      assert(spark.table("sdedup").collect().map(_.getString(0)).sorted.toSeq == Seq("u1", "u2"))
      // still within horizon: dropped
      input.addData(s"""{"uid":"u1","ts":${base + 30}}""")
      q.processAllAvailable()
      assert(spark.table("sdedup").count() == 2)
      // advance the watermark far past u1's expiry, then u1 reappears: the
      // state was evicted, so it re-emits (at-least-once dedup semantics)
      input.addData(s"""{"uid":"adv","ts":${base + 7200}}""")
      q.processAllAvailable()
      input.addData(s"""{"uid":"u1","ts":${base + 7300}}""")
      q.processAllAvailable()
      val u1Count = spark.table("sdedup").collect().count(_.getString(0) == "u1")
      assert(u1Count == 2, s"expected expired-key re-emission, got $u1Count")
    } finally q.stop()
  }

  test("stream-static anti-join drops incoming docs already fingerprinted in the corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // static side: the sf corpus fingerprint index
    val corpusFps = graft.operators.TextAnalysis.fingerprint(spark, sf)
      .select(col("fp_md5"))
    val knownText = Tables(spark, sf, "documents")
      .select(col("text")).head().getString(0)
    val input = MemoryStream[String](spark)
    val stream = input.toDF()
      .select(col("value").as("text"),
              graft.operators.TextAnalysis.fpMd5(col("value")).as("fp_md5"))
    val out = graft.streaming.StreamDedup.againstCorpus(stream, corpusFps)
    val q = out.writeStream.format("memory").queryName("ccstream").outputMode("append").start()
    try {
      input.addData(
        knownText, // exact duplicate of a corpus doc -> dropped
        "  " + knownText.toUpperCase + "  ", // normalized duplicate -> dropped too
        "a genuinely novel crawl document about nothing in particular")
      q.processAllAvailable()
      // NB using-column join reorders output to (fp_md5, text) — select by name
      val kept = spark.table("ccstream").select("text").collect().map(_.getString(0))
      assert(kept.toSeq == Seq("a genuinely novel crawl document about nothing in particular"),
        s"kept: ${kept.mkString("; ").take(200)}")
    } finally q.stop()
  }

  test("streaming document pipeline composes gate, in-stream dedup, and corpus anti-join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpusFps = graft.operators.TextAnalysis.fingerprint(spark, sf)
      .select(col("fp_md5"))
    // the corpus-dup probe must itself PASS the gates, or the gate (not
    // the anti-join) would drop it and the stage under test never runs —
    // pick a corpus text the shared batch battery admits
    val knownText = graft.operators.TextAnalysis
      .gopherGatesOn(spark, Tables(spark, sf, "documents"), carry = Seq("text"))
      .filter(graft.operators.Curation.SyntheticGates.map(col).reduce(_ && _))
      .select(col("text")).head().getString(0)
    // ≥50 distinct words of mean length in [3, 10]: the gopher word-count
    // and word-length gates (shared with batch curation since round 6)
    val novel = (1 to 60).map(i => s"nov$i").mkString(" ")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val docs = input.toDF().toDF("doc_id", "text", "event_time")
    val out = graft.streaming.DocPipeline(docs, corpusFps)
    val q = out.writeStream.format("memory").queryName("docpipe").outputMode("append").start()
    try {
      input.addData(
        (1L, novel, t0),                       // survives
        (2L, "the the the the the", t0),       // fails gate_word_count -> gated
        (3L, novel + " ", t0),                 // normalized in-stream duplicate -> dropped
        (4L, knownText, t0))                   // already in the corpus index -> dropped
      q.processAllAvailable()
      val kept = spark.table("docpipe").collect()
      assert(kept.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L),
        s"kept: ${kept.map(_.getAs[Long]("doc_id")).mkString(",")}")
      // enrichment columns ride along with the surviving row
      assert(kept.head.getAs[Long]("n_tokens") == novel.split(" ").length.toLong)
      assert(kept.head.getAs[Double]("quality") >= 0.2)
    } finally q.stop()
  }

  test("stream near-dup leg == pair-rule survivors from the full pair set (multi-batch, appending)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Dedup = graft.operators.Dedup
    val split = Dedup.incrementSplitAt(spark, sf)
    val docs = Tables(spark, sf, "documents")
    // arrival order: indexed corpus = batch 0; the new split streams in two
    // micro-batches split by id parity
    val streamedDocs = docs.filter(col("doc_id") >= split)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (batch1, batch2) = streamedDocs.partition(_._1 % 2 == 0)
    val arrival: Map[Long, Int] =
      (batch1.map(_._1 -> 1) ++ batch2.map(_._1 -> 2)).toMap
    // independent oracle: FULL corpus pair set + the documented drop rule —
    // d drops iff some partner arrived strictly earlier, or in the same
    // micro-batch with a smaller id (batch 0 = the index)
    val fullPairs = Dedup.minhashLshPairs(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def arr(id: Long): Int = arrival.getOrElse(id, 0)
    val dropped = streamedDocs.map(_._1).filter { d =>
      fullPairs.exists { case (a, b) =>
        val e = if (a == d) Some(b) else if (b == d) Some(a) else None
        e.exists(o => arr(o) < arr(d) || (arr(o) == arr(d) && o < d))
      }
    }.toSet
    val expected = streamedDocs.map(_._1).toSet -- dropped
    // stream side: index the bottom split, stream the two batches through
    // the foreachBatch near-dup leg with append (batch 2 must see batch 1)
    val idx = java.nio.file.Files.createTempDirectory("mhidx-stream-").toString
    Dedup.buildMinhashIndex(spark, docs.filter(col("doc_id") < split), idx, s"$idx#base")
    val survivors = scala.collection.mutable.Set.empty[Long]
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.StreamDedup.nearDupAgainstIndex(
        input.toDF().toDF("doc_id", "text"), idx, s"$idx#mb") { kept =>
      survivors ++= kept.select("doc_id").collect().map(_.getLong(0))
    }.start()
    try {
      input.addData(batch1.toSeq: _*)
      q.processAllAvailable()
      input.addData(batch2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(dropped.nonEmpty, "fixture should convict at least one streamed doc")
    assert(survivors.toSet == expected,
      s"stream-only=${survivors.toSet -- expected} batch-only=${expected -- survivors.toSet}")
  }

  test("near-dup index append is replay-idempotent per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Dedup = graft.operators.Dedup
    val idx = java.nio.file.Files.createTempDirectory("mhidx-replay-").toString
    val docs = Tables(spark, sf, "documents")
    Dedup.buildMinhashIndex(spark, docs.filter(col("doc_id") < 400), idx, s"$idx#base")
    val batch = docs.filter(col("doc_id") >= 400).select(col("doc_id"), col("text"))
    def counts() = (
      spark.read.parquet(s"$idx/signatures.parquet").count(),
      spark.read.parquet(s"$idx/postings.parquet").count())
    val first = graft.streaming.StreamDedup.nearDupBatch(batch, 7L, idx, s"$idx#r")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val afterFirst = counts()
    // redelivery of the SAME micro-batch id: no index growth, same output
    val replay = graft.streaming.StreamDedup.nearDupBatch(batch, 7L, idx, s"$idx#r2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(counts() == afterFirst, "replay must not grow the index")
    assert(replay == first, "replayed survivors must match the original delivery")
    // a genuinely NEW batch id still appends
    graft.streaming.StreamDedup.nearDupBatch(
      batch.limit(0), 8L, idx, s"$idx#r3").collect()
    assert(new java.io.File(s"$idx/_stream_appends/8").exists)
  }

  test("embedding stream leg == pair-rule survivors from the full pair set (multi-batch)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Dedup = graft.operators.Dedup
    val vecs = Tables(spark, sf, "embeddings")
    val split = 400L
    val streamed = vecs.filter(col("vec_id") >= split).collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val (batch1, batch2) = streamed.partition(_._1 % 2 == 0)
    val arrival: Map[Long, Int] =
      (batch1.map(_._1 -> 1) ++ batch2.map(_._1 -> 2)).toMap
    // independent oracle: FULL corpus pair set + the documented drop rule
    val fullPairs = Dedup.embeddingNearDupPairs(spark, sf)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def arr(id: Long): Int = arrival.getOrElse(id, 0)
    val dropped = streamed.map(_._1).filter { d =>
      fullPairs.exists { case (a, b) =>
        val e = if (a == d) Some(b) else if (b == d) Some(a) else None
        e.exists(o => arr(o) < arr(d) || (arr(o) == arr(d) && o < d))
      }
    }.toSet
    val expected = streamed.map(_._1).toSet -- dropped
    val idx = java.nio.file.Files.createTempDirectory("embidx-stream-").toString
    Dedup.buildEmbeddingIndex(spark, vecs.filter(col("vec_id") < split), idx)
    val survivors = scala.collection.mutable.Set.empty[Long]
    val input = MemoryStream[(Long, Array[Float])](spark)
    val q = graft.streaming.StreamDedup.embeddingAgainstIndex(
        input.toDF().toDF("vec_id", "embedding"), idx) { kept =>
      survivors ++= kept.select("vec_id").collect().map(_.getLong(0))
    }.start()
    try {
      input.addData(batch1.toSeq: _*)
      q.processAllAvailable()
      input.addData(batch2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(dropped.nonEmpty, "fixture should convict at least one streamed vector")
    assert(survivors.toSet == expected,
      s"stream-only=${survivors.toSet -- expected} batch-only=${expected -- survivors.toSet}")
  }

  test("embedding index append is replay-idempotent per micro-batch") {
    import org.apache.spark.sql.functions.col
    val Dedup = graft.operators.Dedup
    val idx = java.nio.file.Files.createTempDirectory("embidx-replay-").toString
    val vecs = Tables(spark, sf, "embeddings")
    Dedup.buildEmbeddingIndex(spark, vecs.filter(col("vec_id") < 400), idx)
    val batch = vecs.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding"))
    def counts() = (
      graft.operators.IndexFamily.readSnapshot(spark, s"$idx/vectors.parquet").count(),
      graft.operators.IndexFamily.readSnapshot(spark, s"$idx/postings.parquet").count())
    val first = graft.streaming.StreamDedup.embeddingBatch(batch, 7L, idx)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val afterFirst = counts()
    val replay = graft.streaming.StreamDedup.embeddingBatch(batch, 7L, idx)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(counts() == afterFirst, "replay must not grow the index")
    assert(replay == first, "replayed survivors must match the original delivery")
    graft.streaming.StreamDedup.embeddingBatch(batch.limit(0), 8L, idx).collect()
    assert(new java.io.File(s"$idx/_stream_appends/8").exists)
  }

  test("semantic stream ingest converges to the one-shot index and replays grow nothing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Dedup = graft.operators.Dedup
    val cents = graft.functions.VectorOps.hyperplanes(8, 64, seed = 31L)
    val vecs = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    def collectVecs(lo: Long, hi: Long) =
      vecs.filter(col("vec_id") >= lo && col("vec_id") < hi).collect()
        .map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val idx = java.nio.file.Files.createTempDirectory("semidx-stream-").toString
    Dedup.buildSemanticIndex(spark, vecs.filter(col("vec_id") < 300), idx, cents)
    val input = MemoryStream[(Long, Array[Float])](spark)
    var delivered = 0
    val q = graft.streaming.StreamDedup.semanticAgainstIndex(
        input.toDF().toDF("vec_id", "embedding"), idx) { out =>
      delivered += out.count().toInt
    }.start()
    try {
      input.addData(collectVecs(300, 400).toSeq: _*)
      q.processAllAvailable()
      input.addData(collectVecs(400, Long.MaxValue).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(delivered > 0, "each micro-batch must deliver its decision output")
    def stateOf(d: String) = spark.read.parquet(s"$d/groups.parquet").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Int]("keep"))).toSet
    val oneShot = java.nio.file.Files.createTempDirectory("semidx-oneshot-").toString
    Dedup.buildSemanticIndex(spark, vecs, oneShot, cents)
    assert(stateOf(idx) == stateOf(oneShot),
      "streamed appends must converge to the one-shot rebuild state")
    val nVecs = graft.operators.IndexFamily
      .readSnapshot(spark, s"$idx/vectors.parquet").count()
    assert(nVecs == vecs.count())
    // redelivery of an already-ledgered micro-batch id grows nothing
    val batch = vecs.filter(col("vec_id") >= 400)
    graft.streaming.StreamDedup.semanticBatch(batch, 1L, idx).collect()
    assert(graft.operators.IndexFamily
        .readSnapshot(spark, s"$idx/vectors.parquet").count() == nVecs,
      "replay must not grow the index")
    assert(stateOf(idx) == stateOf(oneShot), "replay must not disturb state")
  }

  test("span-removal stream ingest converges to the one-shot index and replays grow nothing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Dedup = graft.operators.Dedup
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    def collectDocs(lo: Long, hi: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi).collect()
        .map(r => (r.getLong(0), r.getString(1)))
    val idx = java.nio.file.Files.createTempDirectory("spanidx-stream-").toString
    Dedup.buildSpanIndex(spark, docs.filter(col("doc_id") < 30), idx)
    val input = MemoryStream[(Long, String)](spark)
    var delivered = 0L
    val q = graft.streaming.StreamDedup.spanRemovalAgainstIndex(
        input.toDF().toDF("doc_id", "text"), idx) { out =>
      delivered += out.count()
    }.start()
    try {
      input.addData(collectDocs(30, 40).toSeq: _*)
      q.processAllAvailable()
      input.addData(collectDocs(40, Long.MaxValue).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val total = docs.count()
    assert(delivered == total - 30,
      s"every streamed doc must be delivered cleaned: $delivered")
    def postingsOf(d: String) = spark.read.parquet(s"$d/postings.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = java.nio.file.Files.createTempDirectory("spanidx-oneshot-").toString
    Dedup.buildSpanIndex(spark, docs, oneShot)
    assert(postingsOf(idx) == postingsOf(oneShot),
      "streamed appends must converge to the one-shot rebuild aggregate")
    val nOcc = spark.read.parquet(s"$idx/spans.parquet").count()
    // redelivery of an already-ledgered micro-batch id grows nothing
    graft.streaming.StreamDedup.spanBatch(
      docs.filter(col("doc_id") >= 40), 1L, idx).collect()
    assert(spark.read.parquet(s"$idx/spans.parquet").count() == nOcc,
      "replay must not grow the index")
    assert(postingsOf(idx) == postingsOf(oneShot), "replay must not disturb state")
  }

  test("DocPipeline near-dup leg drops a near (non-exact) duplicate of an indexed doc") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Dedup = graft.operators.Dedup
    // an indexed corpus doc that passes the shared gate battery
    val baseText = graft.operators.TextAnalysis
      .gopherGatesOn(spark, Tables(spark, sf, "documents"), carry = Seq("text"))
      .filter(graft.operators.Curation.SyntheticGates.map(col).reduce(_ && _))
      .select(col("text")).head().getString(0)
    val idx = java.nio.file.Files.createTempDirectory("mhidx-dp-").toString
    Dedup.buildMinhashIndex(spark,
      Seq((1L, baseText)).toDF("doc_id", "text"), idx, s"$idx#base")
    // near-dup: same text with the last word changed — not an exact
    // fingerprint match, but far over the 0.5 estimated-Jaccard threshold
    val nearDup = baseText.split(" ").dropRight(1).mkString(" ") + " zzzaltered"
    val novel = (1 to 60).map(i => s"fresh$i").mkString(" ")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val kept = scala.collection.mutable.Set.empty[Long]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val q = graft.streaming.DocPipeline.withNearDupIndex(
        input.toDF().toDF("doc_id", "text", "event_time"),
        Seq.empty[String].toDF("fp_md5"), idx, s"$idx#dp") { survivors =>
      kept ++= survivors.select("doc_id").collect().map(_.getLong(0))
    }.start()
    try {
      input.addData((10L, nearDup, t0), (11L, novel, t0))
      q.processAllAvailable()
    } finally q.stop()
    assert(kept.toSet == Set(11L),
      s"near-dup should drop at the index probe, novel should survive: kept=$kept")
  }

  test("fullIngest holds bounded checkpoint storage across many micro-batches " +
       "(per-batch scope frees what each batch pinned)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Dedup = graft.operators.Dedup
    val TA = graft.operators.TextAnalysis
    val split = Dedup.incrementSplitAt(spark, sf)
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < split)
    val corpusFps = TA.fingerprint(spark, sf)
      .join(corpus.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("fp_md5"))
    val mh = java.nio.file.Files.createTempDirectory("leak-mh-").toString
    val sp = java.nio.file.Files.createTempDirectory("leak-sp-").toString
    Dedup.buildMinhashIndex(spark, corpus, mh, s"$mh#base")
    Dedup.buildSpanIndex(spark, corpus, sp)
    val streamRows = docs.filter(col("doc_id") >= split).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    var admittedTotal = 0L
    val q = graft.streaming.DocPipeline.fullIngest(
        input.toDF().toDF("doc_id", "text", "event_time"), corpusFps,
        mh, sp, s"$mh#leak") { out => admittedTotal += out.count() }
      .start()
    try {
      // warm one batch so stream-lifetime one-offs don't count as growth
      input.addData((streamRows.head._1 + 30000000L, streamRows.head._2, t0))
      q.processAllAvailable()
      val rddsBefore = spark.sparkContext.getPersistentRDDs.size
      (1 to 20).foreach { i =>
        // monotone fresh ids (the span ordering contract) + per-batch text
        // salt so the exact/in-stream dedup stages don't starve the index
        // legs of work
        val rows = Seq(0, 1).map { j =>
          val r = streamRows((2 * i + j) % streamRows.length)
          (30000000L + i * 1000000L + j, s"${r._2} leakprobe$i$j", t0)
        }
        input.addData(rows: _*)
        q.processAllAvailable()
      }
      val rddsAfter = spark.sparkContext.getPersistentRDDs.size
      // pre-round-14 this grew by ~1 cached relation per micro-batch per
      // index leg (Dataset.cache holds STRONG refs in CacheManager); with
      // registry checkpoints + the per-batch scope the count must be flat
      assert(rddsAfter <= rddsBefore + 2,
        s"persistent RDD count grew $rddsBefore -> $rddsAfter across 20 " +
          "micro-batches — per-batch checkpoint/cache storage is leaking")
      assert(admittedTotal > 0, "fixture must admit at least one doc")
    } finally q.stop()
  }

  test("composed fullIngest == the batch operators applied per micro-batch in arrival order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Dedup = graft.operators.Dedup
    val TA = graft.operators.TextAnalysis
    val split = Dedup.incrementSplitAt(spark, sf)
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < split)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val mid = split + (maxId - split) / 2
    def rowsOf(lo: Long, hi: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi).collect()
        .map(r => (r.getLong(0), r.getString(1)))
    val batch1 = rowsOf(split, mid)
    val batch2 = rowsOf(mid, Long.MaxValue)
    val corpusFps = TA.fingerprint(spark, sf)
      .join(corpus.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("fp_md5"))
    // BATCH twin: the same operators, called per batch in arrival order
    // against twin indexes (gates -> enrich -> exact stages -> near-dup
    // survivors with append -> span cleanup of the admitted, with append)
    val mhB = java.nio.file.Files.createTempDirectory("full-mh-b-").toString
    val spB = java.nio.file.Files.createTempDirectory("full-sp-b-").toString
    Dedup.buildMinhashIndex(spark, corpus, mhB, s"$mhB#base")
    Dedup.buildSpanIndex(spark, corpus, spB)
    def batchTwin(rows: Seq[(Long, String)], tag: String): Map[Long, (Long, String)] = {
      val b = rows.toDF("doc_id", "text")
      val gated = TA.gopherGatesOn(spark, b, carry = Seq("text"))
        .filter(graft.operators.Curation.SyntheticGates.map(col).reduce(_ && _))
        .withColumn("fp_md5", TA.fpMd5(col("text")))
        .join(corpusFps, Seq("fp_md5"), "left_anti")
        .select(col("doc_id"), col("text"))
      val admitted = Dedup.nearDupIncrementSurvivors(spark, gated, mhB,
        s"$mhB#$tag", append = true)
      Dedup.spanRemovalIncrement(spark,
        admitted.select(col("doc_id"), col("text")), spB, append = true)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    }
    val expected = batchTwin(batch1, "b1") ++ batchTwin(batch2, "b2")
    // STREAM side: the one composed operator over the same two batches
    val mhA = java.nio.file.Files.createTempDirectory("full-mh-a-").toString
    val spA = java.nio.file.Files.createTempDirectory("full-sp-a-").toString
    Dedup.buildMinhashIndex(spark, corpus, mhA, s"$mhA#base")
    Dedup.buildSpanIndex(spark, corpus, spA)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val got = scala.collection.mutable.Map.empty[Long, (Long, String)]
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val q = graft.streaming.DocPipeline.fullIngest(
        input.toDF().toDF("doc_id", "text", "event_time"), corpusFps,
        mhA, spA, s"$mhA#stream") { out =>
      got ++= out.select("doc_id", "n_removed", "clean_text").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
    }.start()
    try {
      input.addData(batch1.map { case (id, t) => (id, t, t0) }.toSeq: _*)
      q.processAllAvailable()
      input.addData(batch2.map { case (id, t) => (id, t, t0) }.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == expected,
      s"stream-only=${got.keySet -- expected.keySet} " +
        s"batch-only=${expected.keySet -- got.keySet} " +
        s"diff=${expected.keys.find(k => got.get(k) != expected.get(k))}")
    // the composition actually exercised its legs on this fixture
    assert(expected.size < batch1.size + batch2.size,
      "some doc should be gated or near-dup-dropped")
    assert(expected.values.exists(_._1 > 0),
      "some admitted doc should have a duplicate span removed")
  }

  test("streaming and batch curation agree on which documents the gates admit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // shared fixture: real corpus texts (mixed pass/fail) + synthetic
    // edge docs, all DISTINCT and absent from the corpus index, so the
    // dedup stages are inert and the gate is the only filter
    val corpusTexts = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1) + " uniquesuffix" + r.getLong(0)))
    val edge = Seq(
      (9001L, (1 to 49).map(i => s"w$i").mkString(" ")),        // 49 words: fails count gate
      (9002L, (1 to 50).map(i => s"w$i").mkString(" ")),        // 50 words: passes count gate
      (9003L, (1 to 60).map(_ => "## ###").mkString(" ")))      // symbol-heavy: fails symbol gate
    val fixture = corpusTexts.toSeq ++ edge
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // batch side: the Curation gate predicate over the same fixture
    val batchDf = fixture.toDF("doc_id", "text")
    val batchKept = graft.operators.TextAnalysis.gopherGatesOn(spark, batchDf)
      .filter(graft.operators.Curation.SyntheticGates.map(col).reduce(_ && _))
      .collect().map(_.getLong(0)).toSet
    assert(batchKept.nonEmpty && batchKept.size < fixture.size,
      s"fixture should split: ${batchKept.size} of ${fixture.size} pass")
    // stream side: DocPipeline with an empty corpus index
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val docs = input.toDF().toDF("doc_id", "text", "event_time")
    val emptyFps = Seq.empty[String].toDF("fp_md5")
    val q = graft.streaming.DocPipeline(docs, emptyFps).writeStream
      .format("memory").queryName("gateparity").outputMode("append").start()
    try {
      input.addData(fixture.map { case (id, t) => (id, t, t0) }: _*)
      q.processAllAvailable()
      val streamKept = spark.table("gateparity").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(streamKept == batchKept,
        s"stream/batch gate disagreement: stream-only=${streamKept.diff(batchKept)}, " +
          s"batch-only=${batchKept.diff(streamKept)}")
    } finally q.stop()
  }

  test("append-mode month bucket seals correctly in a non-UTC session zone") {
    import spark.implicits._
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata") // +05:30
    try {
      val input = MemoryStream[String](spark)
      val ist = java.time.ZoneId.of("Asia/Kolkata")
      val julStart = java.time.ZonedDateTime.of(2016, 7, 1, 0, 0, 0, 0, ist).toEpochSecond
      // late July IST — would fall in the WRONG bucket if ends were UTC math
      val jul31 = java.time.ZonedDateTime.of(2016, 7, 31, 12, 0, 0, 0, ist).toEpochSecond
      val sep1 = java.time.ZonedDateTime.of(2016, 9, 1, 0, 0, 0, 0, ist).toEpochSecond
      val agg = graft.streaming.CalendarAppendWindows.aggregated(
        spark, CardinalityStream.parse(input.toDF()), "month", watermark = "10 minutes")
      val q = agg.writeStream.format("memory").queryName("istm").outputMode("append").start()
      try {
        input.addData(s"""{"uid":"a","ts":${julStart + 3600}}""",
                      s"""{"uid":"b","ts":$jul31}""")
        q.processAllAvailable()
        input.addData(s"""{"uid":"c","ts":$sep1}""")
        q.processAllAvailable()
        input.addData(s"""{"uid":"d","ts":${sep1 + 60}}""")
        q.processAllAvailable()
        val sealedRows = spark.table("istm").as[StatMsg].collect().filter(_.Timestamp == julStart)
        assert(sealedRows.toSeq == Seq(StatMsg("month_count", julStart, 2L)),
          s"IST July bucket wrong: ${spark.table("istm").as[StatMsg].collect().toSeq}")
      } finally q.stop()
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("intervalFrom matches the reference's epoch-0 initial intervals") {
    assert(DataDrivenWindows.intervalFrom("minute_count", 0) == 60L)
    assert(DataDrivenWindows.intervalFrom("day_count", 0) == 86400L)
    assert(DataDrivenWindows.intervalFrom("week_count", 0) == 604800L)
    assert(DataDrivenWindows.intervalFrom("month_count", 0) == 2678400L) // Jan 1970: 31 days
    assert(DataDrivenWindows.intervalFrom("year_count", 0) == 31536000L) // 1970: 365 days
  }

  test("goAddDate normalizes month-end overflow like Go time.AddDate") {
    // 1970-01-31 + 1 month = 1970-03-03 (Feb 1970 has 28 days) — NOT Feb 28
    val jan31 = java.time.LocalDateTime.of(1970, 1, 31, 12, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val got = java.time.LocalDateTime.ofEpochSecond(
      DataDrivenWindows.goAddDate(jan31, 0, 1), 0, java.time.ZoneOffset.UTC)
    assert(got == java.time.LocalDateTime.of(1970, 3, 3, 12, 0))
    // leap-day + 1 year: 2024-02-29 + 1y = 2025-03-01 (Go normalization)
    val leap = java.time.LocalDateTime.of(2024, 2, 29, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val gotY = java.time.LocalDateTime.ofEpochSecond(
      DataDrivenWindows.goAddDate(leap, 1, 0), 0, java.time.ZoneOffset.UTC)
    assert(gotY == java.time.LocalDateTime.of(2025, 3, 1, 0, 0))
  }
}
