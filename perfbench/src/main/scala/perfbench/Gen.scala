package perfbench

import java.util.SplittableRandom

/** One closed-loop step of input (or the whole batch input): the raw JSONL
  * lines the program receives, plus the ground truth the reference needs.
  * `kind` is one of [[Kind]]; `uid` and `ts` are meaningless for malformed
  * lines. */
final case class Step(lines: Array[String], uid: Array[Int], ts: Array[Long], kind: Array[Byte]) {
  def size: Int = lines.length
  def count(k: Byte): Int = kind.count(_ == k)
}

object Kind {
  val Regular: Byte = 0
  val OutOfOrder: Byte = 1
  val VeryLate: Byte = 2
  val Malformed: Byte = 3
}

/** A deterministic sequence of steps: the same seed gives the same steps,
  * and step k's content never depends on how fast earlier steps ran. */
trait Gen {
  def next(): Step
  def uidString(uid: Int): String
}

object Gen {
  /** Workload shape of the reference's processor benchmark: 100 users,
    * event time monotone with U[0,3600) s gaps, nothing late or malformed. */
  final class Live(seed: Long, stepEvents: Int) extends Gen {
    private val rnd = new SplittableRandom(seed)
    private var t = 1_400_000_000L + rnd.nextInt(365 * 86400)

    def uidString(uid: Int): String = s"user$uid"

    def next(): Step = {
      val n = stepEvents
      val lines = new Array[String](n); val uid = new Array[Int](n)
      val ts = new Array[Long](n); val kind = new Array[Byte](n)
      var i = 0
      while (i < n) {
        t += rnd.nextInt(3600)
        uid(i) = rnd.nextInt(100); ts(i) = t
        lines(i) = s"""{"uid":"${uidString(uid(i))}","ts":$t}"""
        i += 1
      }
      Step(lines, uid, ts, kind)
    }
  }

  /** A backlog being replayed: Zipf(0.9) uids over 1M users, 20 events per
    * event-second, and a small share of out-of-order (≤ 60 s),
    * very late (more than a day, always behind the watermark) and
    * malformed lines. Step 0 holds no very late lines: its watermark is
    * still 0, so they would not be dropped. */
  final class Dense(seed: Long, stepEvents: Int) extends Gen {
    import Dense._
    private val rnd = new SplittableRandom(seed)
    private val start = 1_600_000_000L + rnd.nextInt(365 * 86400)
    private val cdf = zipfCdf
    private var i = 0L
    private var stepNo = 0

    def uidString(uid: Int): String = s"u$uid"

    private def zipf(): Int = {
      val j = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (j >= 0) j else -j - 1, users - 1)
    }

    def next(): Step = {
      val n = stepEvents
      val lines = new Array[String](n); val uid = new Array[Int](n)
      val ts = new Array[Long](n); val kind = new Array[Byte](n)
      val stepStart = start + i / perSecond
      var e = 0
      while (e < n) {
        val base = start + i / perSecond
        val u = rnd.nextDouble()
        val id = zipf()
        val k =
          if (u < malformed) Kind.Malformed
          else if (u < malformed + veryLate && stepNo > 0) Kind.VeryLate
          else if (u < malformed + veryLate + outOfOrder) Kind.OutOfOrder
          else Kind.Regular
        val t = k match {
          case Kind.VeryLate => stepStart - 86401 - rnd.nextInt(86400)
          case Kind.OutOfOrder => base - 1 - rnd.nextInt(60)
          case _ => base
        }
        uid(e) = id; ts(e) = t; kind(e) = k
        lines(e) =
          if (k == Kind.Malformed) malformedLine(rnd.nextInt(4), uidString(id), t)
          else s"""{"uid":"${uidString(id)}","ts":$t}"""
        i += 1; e += 1
      }
      stepNo += 1
      Step(lines, uid, ts, kind)
    }
  }

  object Dense {
    val users = 1000000
    val skew = 0.9
    val perSecond = 20
    val outOfOrder = 0.01
    val veryLate = 0.005
    val malformed = 0.005

    /** Lines the parser must drop: truncated JSON, a missing `ts`, plain
      * text, and a non-numeric `ts`. */
    def malformedLine(variant: Int, uid: String, t: Long): String = variant match {
      case 0 => s"""{"uid":"$uid","ts":${t / 1000}"""
      case 1 => s"""{"uid":"$uid"}"""
      case 2 => s"uid=$uid ts=$t"
      case _ => s"""{"uid":"$uid","ts":"soon"}"""
    }

    /** Cumulative Zipf(skew) probabilities over ranks 1..users. */
    lazy val zipfCdf: Array[Double] = {
      val c = new Array[Double](users)
      var acc = 0.0
      var r = 0
      while (r < users) { acc += math.pow(r + 1.0, -skew); c(r) = acc; r += 1 }
      r = 0
      while (r < users) { c(r) /= acc; r += 1 }
      c
    }
  }

  def forWorkload(workload: String, seed: Long, stepEvents: Int): Gen = workload match {
    case "live_ref" => new Live(seed, stepEvents)
    case _ => new Dense(seed, stepEvents)
  }
}
