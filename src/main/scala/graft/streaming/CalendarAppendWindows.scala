package graft.streaming

import java.time.{Instant, ZoneId, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{Hll, SparseHll}

/** Append-mode calendar-bucket distinct counting for ALL five reference
  * granularities — including month/year, which the windowed-aggregate tier
  * ([[CardinalityStream.aggregated]]) can only run in update/complete
  * modes: `window()` cannot express calendar months, and grouping by
  * `date_trunc` severs the watermark→aggregation linkage that append mode
  * requires (SURVEY.md §8.4 gap 2).
  *
  * Mechanism: ONE `flatMapGroupsWithState` operator over one row per
  * event — `uid`, `event_time` and the array of its bucket starts, one
  * per granularity, each `unix_timestamp(date_trunc(g, event_time))`
  * computed in SQL in the session time zone. Every row carries the same
  * constant key, so one state value holds every open
  * `(granularity, start) → SparseHll` sketch as parallel arrays
  * ([[OpenBuckets]]). A row hashes its uid once and adds the hash to one
  * sketch per granularity, as the reference's processor updates its five
  * sketches per message (`processor.go:67-102`). Every call — with rows or
  * on timeout — emits `(Type, Timestamp, Value)` for each bucket with
  * `bucketEnd(g, start) * 1000 < watermark` and drops it from the state,
  * then sets the EVENT-TIME TIMEOUT to the earliest remaining bucket end,
  * so the no-data batch that advances the watermark past a bucket end
  * seals it. A bucket emits exactly once. Late rows behind the watermark
  * are filtered by Spark before they reach the operator (late-data drop,
  * counted once per event in `numRowsDroppedByWatermark`), so a sealed
  * bucket can never resurrect.
  *
  * Scale notes: the stateful step runs in ONE task — like the reference's
  * single process — while parsing and bucketing run on every partition
  * ahead of the shuffle. Each micro-batch commits one operator's state
  * stores (`spark.sql.shuffle.partitions`, all but one empty) instead of
  * one set per granularity, and shuffles each event once. State is the
  * open buckets only, bounded by the watermark delay: each sketch is a
  * [[graft.functions.SparseHll]] — exact sorted-hash-set bytes while
  * small, a dense 16 KiB HLL register file only past 512 distinct uids
  * (the axiomhq two-mode design the reference depends on) — so total
  * state is Σ min(uids, 512)×8B + dense-bucket count × 16 KiB over the
  * open buckets, independent of stream length. Spreading the stateful
  * step over executors would need keys finer than the query; one
  * process's hashing rate is the reference's own ceiling.
  *
  * Checkpoints written before the operators were fused (five operators,
  * one key per bucket) cannot be resumed by this plan; restart such a
  * query from a fresh checkpoint and replay the topic from the start, as
  * the reference does on every run (`README.md:5`).
  *
  * Surviving-row invariant: a row reaching the operator has
  * `event_time ≥ watermark`, and its bucket end > event_time, so a row
  * never lands in a bucket that is due to seal, and every remaining
  * bucket end is at or ahead of the watermark (required by
  * `setTimeoutTimestamp`).
  */
object CalendarAppendWindows {

  /** Every open bucket: bucket `i` is `granularity(i)`'s bucket starting at
    * `start(i)` (epoch seconds), with its sketch `sketch(i)`. */
  final case class OpenBuckets(granularity: Array[String], start: Array[Long],
                               sketch: Array[Array[Byte]])

  /** Calendar end (epoch seconds) of the bucket starting at `bucketStart`.
    * Calendar-true for month/year (java.time clamping is irrelevant here:
    * `date_trunc` starts are always day 1 / Jan 1).
    *
    * `zone` MUST be the session time zone that produced the `date_trunc`
    * bucket starts — calendar arithmetic in a different zone mis-places
    * month boundaries by the zone offset (and DST-transition days are 23
    * or 25 hours long, which `ZonedDateTime.plusDays` handles and fixed
    * UTC arithmetic does not). A premature bucket end would let a sealed
    * bucket re-emit or make the event-time timeout non-monotonic. */
  def bucketEnd(granularity: String, bucketStart: Long,
                zone: ZoneId = ZoneOffset.UTC): Long = {
    val zdt = Instant.ofEpochSecond(bucketStart).atZone(zone)
    (granularity match {
      case "minute" => zdt.plusMinutes(1)
      case "day"    => zdt.plusDays(1)
      case "week"   => zdt.plusDays(7)
      case "month"  => zdt.plusMonths(1)
      case "year"   => zdt.plusYears(1)
      case other    => throw new IllegalArgumentException(other)
    }).toInstant.getEpochSecond
  }

  private def update(granularities: Seq[String], zone: ZoneId)(
      key: Int, rows: Iterator[(String, java.sql.Timestamp, Array[Long])],
      state: GroupState[OpenBuckets]): Iterator[StatMsg] = {
    // per granularity: bucket start → sketch
    val open = granularities.map(_ => mutable.LongMap.empty[Array[Byte]]).toArray
    state.getOption.foreach { s =>
      s.granularity.indices.foreach { i =>
        val g = granularities.indexOf(s.granularity(i))
        require(g >= 0, s"checkpointed ${s.granularity(i)} bucket; this query counts $granularities")
        open(g)(s.start(i)) = s.sketch(i)
      }
    }
    rows.foreach { case (uid, _, starts) =>
      val h = Hll.hash(uid)
      var g = 0
      while (g < open.length) {
        val buckets = open(g)
        val start = starts(g)
        buckets(start) = SparseHll.add(buckets.getOrElse(start, SparseHll.empty()), h)
        g += 1
      }
    }

    val watermarkMs = state.getCurrentWatermarkMs()
    val sealedStats = mutable.ArrayBuffer.empty[StatMsg]
    val kept = mutable.ArrayBuffer.empty[(String, Long, Array[Byte])]
    var earliestEndMs = Long.MaxValue
    granularities.zipWithIndex.foreach { case (name, g) =>
      open(g).toSeq.sortBy(_._1).foreach { case (start, sketch) =>
        val endMs = bucketEnd(name, start, zone) * 1000L
        if (endMs < watermarkMs)
          sealedStats += StatMsg(s"${name}_count", start, SparseHll.estimate(sketch))
        else {
          kept += ((name, start, sketch))
          earliestEndMs = math.min(earliestEndMs, endMs)
        }
      }
    }
    if (kept.isEmpty) state.remove()
    else {
      val (names, starts, sketches) = kept.unzip3
      state.update(OpenBuckets(names.toArray, starts.toArray, sketches.toArray))
      state.setTimeoutTimestamp(earliestEndMs)
    }
    sealedStats.iterator
  }

  /** The append-mode stream of `granularities` over `parsed` (`uid`,
    * `event_time` — [[CardinalityStream.parse]] output): one stateful
    * operator for all of them. */
  private def windows(spark: SparkSession, parsed: DataFrame, granularities: Seq[String],
                      watermark: String): Dataset[StatMsg] = {
    import spark.implicits._
    // date_trunc buckets in the SESSION time zone — bucket ends must be
    // computed in the same zone. Parsed ONCE here (ZoneId serializes into
    // the closure); SHORT_IDS because Spark accepts three-letter session
    // zones ("PST") that plain ZoneId.of rejects
    val zone = ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone, ZoneId.SHORT_IDS)
    // event_time stays in the grouped rows: Spark's late-row filter in
    // front of the state operator reads the watermarked column
    parsed.withWatermark("event_time", watermark)
      .select(col("uid"), col("event_time"),
        array(granularities.map(g =>
          unix_timestamp(date_trunc(g, col("event_time")))): _*).as("starts"))
      .as[(String, java.sql.Timestamp, Array[Long])]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        update(granularities, zone))
  }

  /** One granularity's append-mode stream over `parsed` (`uid`,
    * `event_time` — [[CardinalityStream.parse]] output). */
  def aggregated(spark: SparkSession, parsed: DataFrame, granularity: String,
                 watermark: String = "10 minutes"): Dataset[StatMsg] =
    windows(spark, parsed, Seq(granularity), watermark)

  /** All five granularities, one append-mode stream in the reference
    * output shape — the full O3 fan-out with watermark-bounded state. */
  def allGranularities(spark: SparkSession, parsed: DataFrame,
                       watermark: String = "10 minutes"): DataFrame =
    windows(spark, parsed, graft.core.Buckets.granularities, watermark).toDF()
}
