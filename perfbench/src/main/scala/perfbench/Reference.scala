package perfbench

import java.time.LocalDate

import scala.collection.mutable

/** Exact answers, computed from the generated ground truth with plain
  * collections and calendar arithmetic of its own: nothing here calls the
  * program. */
object Reference {
  val Granularities: Seq[String] = Seq("minute", "day", "week", "month", "year")

  /** UTC calendar start (epoch seconds) of the bucket holding `ts`. Weeks
    * start on Monday (1970-01-01 was a Thursday). */
  def bucketStart(g: String, ts: Long): Long = {
    val day = Math.floorDiv(ts, 86400L)
    g match {
      case "minute" => ts - Math.floorMod(ts, 60L)
      case "day" => day * 86400L
      case "week" => (day - Math.floorMod(day + 3, 7L)) * 86400L
      case "month" => LocalDate.ofEpochDay(day).withDayOfMonth(1).toEpochDay * 86400L
      case "year" => LocalDate.ofEpochDay(day).withDayOfYear(1).toEpochDay * 86400L
    }
  }

  def bucketEnd(g: String, start: Long): Long = g match {
    case "minute" => start + 60
    case "day" => start + 86400
    case "week" => start + 7 * 86400
    case "month" => LocalDate.ofEpochDay(start / 86400).plusMonths(1).toEpochDay * 86400L
    case "year" => LocalDate.ofEpochDay(start / 86400).plusYears(1).toEpochDay * 86400L
  }

  /** Output key in the program's wire shape: `("minute_count", start)`. */
  type Key = (String, Long)

  /** What one streaming step must produce. */
  final case class StepTruth(sealedBuckets: Map[Key, Long], rowsIn: Long, parseDropped: Long,
                             droppedByWatermark: Long)

  /** Streaming reference with Spark's event-time semantics replayed step
    * by step. Step k's data batch filters rows at or behind the watermark
    * set after step k-1 (10 minutes behind the largest event time seen so
    * far); the step's no-data batch then seals every bucket whose end lies
    * strictly behind the new watermark. */
  final class Stream {
    private val delaySec = 600L
    private var wmMs = 0L
    private var maxTs = Long.MinValue
    private val open = Granularities.map(_ => mutable.HashMap.empty[Long, IntSet]).toArray

    def step(s: Step): StepTruth = {
      var dropped = 0L
      var malformed = 0L
      var i = 0
      while (i < s.size) {
        if (s.kind(i) == Kind.Malformed) malformed += 1
        else {
          val t = s.ts(i)
          maxTs = math.max(maxTs, t)
          if (t * 1000L <= wmMs) dropped += 1
          else {
            var g = 0
            while (g < Granularities.size) {
              open(g).getOrElseUpdate(bucketStart(Granularities(g), t), new IntSet).add(s.uid(i))
              g += 1
            }
          }
        }
        i += 1
      }
      if (maxTs != Long.MinValue) wmMs = math.max(wmMs, (maxTs - delaySec) * 1000L)
      val sealedNow = mutable.Map.empty[Key, Long]
      Granularities.indices.foreach { g =>
        val gran = Granularities(g)
        val done = open(g).keys.filter(b => bucketEnd(gran, b) * 1000L < wmMs).toList
        done.foreach { b => sealedNow((s"${gran}_count", b)) = open(g).remove(b).get.size.toLong }
      }
      StepTruth(sealedNow.toMap, s.size.toLong, malformed, dropped)
    }
  }

  /** Exact distinct uids per bucket of every granularity over all
    * well-formed lines (a batch pass has no watermark). */
  def batch(steps: Seq[Step]): Map[Key, Long] = {
    val sets = mutable.HashMap.empty[Key, IntSet]
    for (s <- steps; i <- 0 until s.size if s.kind(i) != Kind.Malformed; g <- Granularities)
      sets.getOrElseUpdate((s"${g}_count", bucketStart(g, s.ts(i))), new IntSet).add(s.uid(i))
    sets.view.mapValues(_.size.toLong).toMap
  }
}

/** Open-addressing set of non-negative ints. */
final class IntSet {
  private var slots = new Array[Int](16) // stores value + 1; 0 is empty
  private var n = 0

  def size: Int = n

  def add(v: Int): Unit = {
    if (2 * (n + 1) > slots.length) grow()
    if (insert(slots, v + 1)) n += 1
  }

  private def insert(tab: Array[Int], x: Int): Boolean = {
    val mask = tab.length - 1
    var p = (x * 0x9E3779B9) >>> 7 & mask
    while (tab(p) != 0) {
      if (tab(p) == x) return false
      p = (p + 1) & mask
    }
    tab(p) = x
    true
  }

  private def grow(): Unit = {
    val bigger = new Array[Int](slots.length * 2)
    slots.foreach(x => if (x != 0) insert(bigger, x))
    slots = bigger
  }
}
