package graft.streaming

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Hll

/** Exact-semantics tier (SURVEY.md §2.1/§2.2 tier 3): bit-for-bit replica
  * of the reference's data-driven flush behavior
  * (`/root/reference/processor/processor.go:79-102`):
  *
  *  1. insert uid into the sketch BEFORE the flush check — the triggering
  *     message counts toward the window being closed (`:87`);
  *  2. flush when `ts > lastFlush + interval` (STRICTLY greater, `:89`);
  *  3. emitted Timestamp is the PREVIOUS flush time (window start, `:91`);
  *  4. on flush: fresh sketch, `lastFlush = ts`, interval recomputed from
  *     the new window start with Go `AddDate` calendar overflow
  *     normalization (`:36-53`);
  *  5. initial state: `lastFlush = 0`, `interval = intervalFrom(0)` —
  *     so the first message of any realistic stream immediately emits a
  *     degenerate `(Type, 0, 1)` window (`:80-82`);
  *  6. the trailing in-flight window is never emitted (`main.go` shutdown
  *     discards state — O8).
  *
  * Implemented as `flatMapGroupsWithState` keyed by granularity, holding
  * `(hllRegisters, lastFlush, interval)` — the direct Spark analogue of the
  * reference's per-granularity closure state. Values are sorted by ts
  * within each micro-batch; cross-batch ordering relies on source order,
  * exactly as the reference relies on Kafka single-partition order
  * (SURVEY.md §2.1.3). Differences: UTC calendar (Go uses the process-local
  * zone) and xxHash64-based estimates (reference: metroHash) — flush
  * timing and window boundaries are hash-independent and match exactly.
  */
object DataDrivenWindows {

  final case class WindowState(registers: Array[Byte], lastFlush: Long, interval: Long)

  /** Go `time.AddDate(years, months, 0)` from epoch seconds, UTC: month-end
    * overflow NORMALIZES (Jan 31 + 1 month = Mar 2/3), unlike java.time's
    * `plusMonths` clamping (`processor.go:46,49`). */
  def goAddDate(ts: Long, years: Int, months: Int): Long = {
    val dt = LocalDateTime.ofEpochSecond(ts, 0, ZoneOffset.UTC)
    val firstOfTarget = LocalDate.of(dt.getYear + years, 1, 1)
      .plusMonths(dt.getMonthValue - 1 + months)
    val datePart = firstOfTarget.plusDays(dt.getDayOfMonth - 1)
    LocalDateTime.of(datePart, dt.toLocalTime).toEpochSecond(ZoneOffset.UTC)
  }

  /** `StatType.intervalFrom(timestamp)` — `processor.go:36-53`. */
  def intervalFrom(statType: String, ts: Long): Long = statType match {
    case "minute_count" => 60L
    case "day_count"    => 86400L
    case "week_count"   => 604800L
    case "month_count"  => goAddDate(ts, 0, 1) - ts
    case "year_count"   => goAddDate(ts, 1, 0) - ts
    case other          => throw new IllegalArgumentException(other)
  }

  private def freshState(statType: String): WindowState =
    WindowState(Hll.emptyRegisters(), 0L, intervalFrom(statType, 0L))

  /** The reference's per-message loop (`processor.go:85-101`) over an
    * event-time-ordered iterator. Shared by the streaming (stateful) and
    * batch (fresh-state) paths. */
  private def processSorted(statType: String, msgs: Iterator[UserMsg],
                            init: WindowState): (Seq[StatMsg], WindowState) = {
    var st = init
    val out = Seq.newBuilder[StatMsg]
    msgs.foreach { m =>
      Hll.add(st.registers, Hll.hash(m.uid)) // insert BEFORE flush check
      if (m.ts > st.lastFlush + st.interval) { // strict >
        // estimate includes the just-inserted triggering uid
        out += StatMsg(statType, st.lastFlush, Hll.estimate(st.registers))
        st = WindowState(Hll.emptyRegisters(), m.ts, intervalFrom(statType, m.ts))
      }
    }
    (out.result(), st)
  }

  private def update(statType: String, msgs: Iterator[(String, UserMsg)],
                     state: GroupState[WindowState]): Iterator[StatMsg] = {
    // per-micro-batch event-time sort; the reference's cross-message order
    // comes from Kafka, ours from the source within a batch. Array +
    // in-place stable sort, not toSeq.sortBy — this tier's parallelism is
    // capped at 5 groups, so per-group constant factors are the throughput
    val arr = msgs.map(_._2).toArray
    scala.util.Sorting.stableSort(arr, (a: UserMsg, b: UserMsg) => a.ts < b.ts)
    val (out, st) = processSorted(statType, arr.iterator,
      state.getOption.getOrElse(freshState(statType)))
    state.update(st)
    out.iterator
  }

  /** Fan the message stream out to all five granularities and apply the
    * stateful data-driven windowing. Works on streaming Datasets (the
    * driver path) — batch parity tests go through MemoryStream. */
  def apply(spark: SparkSession, msgs: Dataset[UserMsg]): Dataset[StatMsg] = {
    import spark.implicits._
    msgs
      .flatMap(m => graft.core.Buckets.granularities.map(g => (s"${g}_count", m)))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Batch replay of the same semantics: `flatMapSortedGroups` hands each
    * granularity an event-time-sorted iterator (Spark sorts within the
    * shuffle — no driver-side collect), fresh state per run — exactly the
    * reference's "re-run reprocesses the topic from the start"
    * (`README.md:5`). Trailing windows are discarded, as in the reference.
    *
    * Parallelism is capped at 5 (one sequential pass per granularity) BY
    * DESIGN: the reference's flush rule is order-dependent, so exact parity
    * requires a single in-order scan per granularity. This tier exists for
    * parity; the scalable tiers are [[graft.core.Cardinality]] (batch),
    * whose aggregations partition freely, and [[CalendarAppendWindows]]
    * (streaming append), which keeps only watermark-bounded open buckets.
    */
  def batch(spark: SparkSession, msgs: Dataset[UserMsg]): Dataset[StatMsg] = {
    import spark.implicits._
    msgs
      .flatMap(m => graft.core.Buckets.granularities.map(g => (s"${g}_count", m)))
      .groupByKey(_._1)
      .flatMapSortedGroups(col("_2").getField("ts")) { (statType, it) =>
        processSorted(statType, it.map(_._2), freshState(statType))._1
      }
  }

  /** [[processSorted]] with EXACT distinct counting (a HashSet instead of
    * the HLL sketch) — flush timing identical, `Value` exact. */
  private def processSortedExact(statType: String, msgs: Iterator[UserMsg]): Seq[StatMsg] = {
    var lastFlush = 0L
    var interval = intervalFrom(statType, 0L)
    var seen = new java.util.HashSet[String]()
    val out = Seq.newBuilder[StatMsg]
    msgs.foreach { m =>
      seen.add(m.uid) // insert BEFORE flush check, like the reference
      if (m.ts > lastFlush + interval) { // strict >
        out += StatMsg(statType, lastFlush, seen.size.toLong)
        seen = new java.util.HashSet[String]()
        lastFlush = m.ts
        interval = intervalFrom(statType, m.ts)
      }
    }
    out.result()
  }

  /** [[batch]] with exact counts and a FULLY deterministic scan order —
    * sorted by `(ts, uid)`, so boundary ties (several messages sharing the
    * flush-triggering timestamp: the FIRST closes the old window, the rest
    * open the new one) resolve identically on every run and in the DuckDB
    * oracle ([[batchExactSql]]). This puts the reference's data-driven
    * flush semantics (§2.1: state init at epoch 0, insert-before-check,
    * strict `>`, Timestamp = previous flush, calendar `AddDate` intervals,
    * trailing window discarded) under the driver's hash gate end-to-end;
    * [[batch]] remains the HLL-estimate tier (parity-tested, rows-only). */
  def batchExact(spark: SparkSession, msgs: Dataset[UserMsg]): Dataset[StatMsg] = {
    import spark.implicits._
    msgs
      .flatMap(m => graft.core.Buckets.granularities.map(g => (s"${g}_count", m)))
      .groupByKey(_._1)
      .flatMapSortedGroups(col("_2").getField("ts"), col("_2").getField("uid")) {
        (statType, it) => processSortedExact(statType, it.map(_._2))
      }
  }

  /** DuckDB twin of [[batchExact]] over the `events` table.
    *
    * Shape: per granularity, a recursive CTE walks the flush-boundary
    * chain `t₀ = 0, tⱼ₊₁ = min{ts > tⱼ + interval(tⱼ)}` — the working row
    * CARRIES the remaining sorted distinct-ts list and each step is one
    * in-memory `list_filter` (a correlated `min(ts)` subquery would
    * re-scan the parquet per step: measured 94 s vs 6 s for the ~8k-step
    * minute chain at sf0.01). Go `AddDate` month-end normalization is
    * `make_date(y,1,1) + (m−1) months + (d−1) days` — month arithmetic on
    * a first-of-month never clamps, day addition re-normalizes the
    * overflow, matching [[goAddDate]]. Events then map to windows with an
    * ASOF join (greatest boundary ≤ ts); the one flush-triggering message
    * per boundary (min uid at that ts, first duplicate only) belongs to
    * the CLOSED window (insert-before-check), everything else at that ts
    * to the new one; the trailing window is dropped. */
  def batchExactSql: String = {
    def goAddSql(t: String, years: Int, months: Int): String = {
      val dt = s"make_timestamp($t * 1000000)"
      s"epoch(make_date(CAST(year($dt) + $years AS INT), 1, 1)" +
        s" + to_months(CAST(month($dt) - 1 + $months AS INT))" +
        s" + to_days(CAST(day($dt) - 1 AS INT))" +
        s" + ($dt - date_trunc('day', $dt)))"
    }
    def one(label: String, boundSql: String): String =
      s"""(WITH RECURSIVE ev AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts, CAST(user_id AS VARCHAR) AS uid FROM events),
        |b(t, rem) AS (
        |  SELECT CAST(0 AS BIGINT), (SELECT list_sort(list(DISTINCT ts)) FROM ev)
        |  UNION ALL
        |  SELECT r2[1], r2 FROM (
        |    SELECT list_filter(rem, x -> x > bnd) AS r2
        |    FROM (SELECT t, rem, ($boundSql) AS bnd FROM b) i) s
        |  WHERE len(r2) > 0),
        |bo AS (SELECT t, lag(t) OVER (ORDER BY t) AS prev_t FROM b),
        |tm AS (SELECT ts, min(uid) AS trig_uid FROM ev GROUP BY ts),
        |e2 AS (SELECT uid, ts, row_number() OVER (PARTITION BY ts, uid ORDER BY uid) AS cp FROM ev),
        |assign AS (
        |  SELECT e.uid,
        |    CASE WHEN a.t = e.ts AND a.prev_t IS NOT NULL AND e.uid = t2.trig_uid AND e.cp = 1
        |         THEN a.prev_t ELSE a.t END AS w
        |  FROM e2 e
        |  ASOF LEFT JOIN bo a ON a.t <= e.ts
        |  LEFT JOIN tm t2 ON t2.ts = e.ts)
        |SELECT '$label' AS "Type", CAST(w AS BIGINT) AS "Timestamp",
        |       CAST(count(DISTINCT uid) AS BIGINT) AS "Value"
        |FROM assign WHERE w < (SELECT max(t) FROM bo) GROUP BY w)""".stripMargin
    Seq(
      one("minute_count", "t + 60"),
      one("day_count", "t + 86400"),
      one("week_count", "t + 604800"),
      // flush bound t + intervalFrom(t) IS goAddDate(t, …) for calendar granularities
      one("month_count", goAddSql("t", 0, 1)),
      one("year_count", goAddSql("t", 1, 0))
    ).mkString("\nUNION ALL\n")
  }
}
