package perfbench

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** Hand-checked cases for the benchmark's reference, generators and
  * output checks. Run with `sbt test` in the benchmark's directory. */
class ReferenceSpec extends AnyFunSuite {
  private def step(events: (Int, Long, Byte)*): Step =
    Step(events.map(e => s"""{"uid":"u${e._1}","ts":${e._2}}""").toArray,
      events.map(_._1).toArray, events.map(_._2).toArray, events.map(_._3).toArray)

  test("calendar buckets of 2023-11-14T22:13:20Z, a Tuesday") {
    val ts = 1700000000L
    assert(Reference.bucketStart("minute", ts) == 1699999980L) // 22:13:00
    assert(Reference.bucketStart("day", ts) == 1699920000L) // 2023-11-14
    assert(Reference.bucketStart("week", ts) == 1699833600L) // Monday 2023-11-13
    assert(Reference.bucketStart("month", ts) == 1698796800L) // 2023-11-01
    assert(Reference.bucketStart("year", ts) == 1672531200L) // 2023-01-01
    assert(Reference.bucketEnd("month", 1698796800L) == 1701388800L) // 2023-12-01
    assert(Reference.bucketEnd("year", 1672531200L) == 1704067200L) // 2024-01-01
    assert(Reference.bucketEnd("week", 1699833600L) == 1699833600L + 7 * 86400)
    // a Monday is the start of its own week; the Sunday before is not
    assert(Reference.bucketStart("week", 1699833600L) == 1699833600L)
    assert(Reference.bucketStart("week", 1699833599L) == 1699833600L - 7 * 86400)
  }

  test("watermark replay: sealing, out-of-order rows and late drops") {
    val b = 1699999980L // a minute start
    val ref = new Reference.Stream()
    val r0 = ref.step(step((1, b + 10, Kind.Regular), (2, b + 20, Kind.Regular),
      (1, b + 70, Kind.Regular), (9, 0L, Kind.Malformed)))
    // watermark is now b + 70 - 600: nothing ends behind it
    assert(r0.sealedBuckets.isEmpty)
    assert(r0.rowsIn == 4 && r0.parseDropped == 1 && r0.droppedByWatermark == 0)

    val r1 = ref.step(step((3, b + 700, Kind.Regular), (4, b + 50, Kind.OutOfOrder)))
    // b + 50 is ahead of the old watermark, so it joins minute b; the new
    // watermark b + 100 seals minute b (ends at b + 60), not minute b + 60
    assert(r1.sealedBuckets == Map(("minute_count", b) -> 3L))
    assert(r1.droppedByWatermark == 0)

    val r2 = ref.step(step((5, b + 90, Kind.OutOfOrder), (7, b + 100, Kind.OutOfOrder),
      (6, b + 1400, Kind.Regular)))
    // b + 90 is behind the watermark b + 100 and b + 100 is on it: both
    // dropped. The watermark moves to b + 800 and seals two minutes.
    assert(r2.droppedByWatermark == 2)
    assert(r2.sealedBuckets == Map(("minute_count", b + 60) -> 1L, ("minute_count", b + 660) -> 1L))
  }

  test("batch reference counts distinct uids per bucket, skipping malformed lines") {
    val t = 1699999980L
    val truth = Reference.batch(Seq(step((1, t, Kind.Regular), (1, t + 5, Kind.Regular),
      (2, t + 61, Kind.Regular), (3, t + 1, Kind.Malformed), (4, t - 86400, Kind.VeryLate))))
    assert(truth(("minute_count", t)) == 1L)
    assert(truth(("minute_count", t + 60)) == 1L)
    assert(truth(("day_count", 1699920000L)) == 2L)
    assert(truth(("day_count", 1699920000L - 86400)) == 1L)
    assert(truth(("year_count", 1672531200L)) == 3L)
    assert(truth(("week_count", 1699833600L)) == 3L) // the row a day late is in the same week
    assert(truth.size == 3 + 2 + 1 + 1 + 1)
  }

  test("IntSet counts distinct values across growth") {
    val s = new IntSet
    val r = new java.util.Random(7)
    val xs = Seq.fill(20000)(r.nextInt(5000))
    xs.foreach(s.add)
    assert(s.size == xs.toSet.size)
    s.add(0); s.add(0)
    assert(s.size == (xs.toSet + 0).size)
  }

  test("generators are deterministic and keep very late rows behind the watermark") {
    val a = new Gen.Dense(5, 20000)
    val b = new Gen.Dense(5, 20000)
    val s0 = a.next(); val s1 = a.next()
    assert(b.next().lines.sameElements(s0.lines) && b.next().lines.sameElements(s1.lines))
    assert(s0.count(Kind.VeryLate) == 0 && s1.count(Kind.VeryLate) > 0)
    assert(s1.count(Kind.Malformed) > 0 && s1.count(Kind.OutOfOrder) > 0)
    val maxBefore = s0.ts.indices.filter(s0.kind(_) != Kind.Malformed).map(s0.ts).max
    s1.ts.indices.filter(s1.kind(_) == Kind.VeryLate).foreach { i =>
      assert(s1.ts(i) <= maxBefore - 86400)
    }
    val ref = new Reference.Stream()
    ref.step(s0)
    assert(ref.step(s1).droppedByWatermark == s1.count(Kind.VeryLate))
    val live = new Gen.Live(5, 100)
    val l = live.next()
    assert(l.ts.sliding(2).forall(p => p(1) >= p(0)) && l.uid.forall(u => u >= 0 && u < 100))
  }

  test("output check: exact up to 512 uids, tolerance above, duplicates and gaps") {
    val truth = Map(("minute_count", 0L) -> 512L, ("minute_count", 60L) -> 1000L)
    def check(got: Seq[(Reference.Key, Long)]) = {
      val errs = mutable.ArrayBuffer.empty[String]
      val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
      Check.outputs("t", truth, got, errs, pairs)
      (errs, pairs)
    }
    val (ok, pairs) = check(Seq(("minute_count", 0L) -> 512L, ("minute_count", 60L) -> 1030L))
    assert(ok.isEmpty && pairs == Seq((1000L, 1030L)))
    assert(check(Seq(("minute_count", 0L) -> 511L, ("minute_count", 60L) -> 1000L))._1.size == 1)
    assert(check(Seq(("minute_count", 0L) -> 512L, ("minute_count", 60L) -> 1041L))._1.size == 1)
    assert(check(Seq(("minute_count", 0L) -> 512L))._1.exists(_.contains("missing")))
    assert(check(Seq(("minute_count", 0L) -> 512L, ("minute_count", 0L) -> 512L,
      ("minute_count", 60L) -> 1000L))._1.exists(_.contains("duplicate")))
    assert(Check.parseSink("""{"Type":"day_count","Timestamp":86400,"Value":7}""") ==
      (("day_count", 86400L), 7L))
  }

  test("tail percentile keeps at least 10 samples above it") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == ((30.0, 75.0)))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0)))
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
  }

  test("span self times add up to the root's wall time") {
    val root = Span("step", 0, 100, Seq(Span("a", 10, 40, Seq(Span("x", 20, 30))),
      Span("b", 30, 60), Span("c", 90, 130))).clipped(0, 100)
    assert(root.selfTotalNs == 100L)
    // b is moved to start where a ends; c is cut at the root's end
    assert(root.children.map(c => (c.startNs, c.endNs)) == Seq((10L, 40L), (40L, 60L), (90L, 100L)))
    assert(root.selfMs == (100 - 60) / 1e6)
  }
}
