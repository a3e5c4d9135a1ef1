package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Adversarial skew for the LSH banding path — the likeliest 100 TB
  * failure mode: a NEAR-duplicate cluster too large for its band buckets.
  * The fixture plants one 400-doc cluster sharing a 30-token base text
  * (each member differing only by a unique suffix token, so EXACT dedup
  * cannot collapse it); most of each member's minhash band keys come from
  * the shared shingles, so every band grows one bucket holding ~30-60% of
  * the cluster's signatures. Uncapped, that bucket alone emits Θ(|cluster|²)
  * candidate pairs per band; capped, the bucket is dropped and the loss is
  * REPORTED through the `graft_lsh_trim` observation — never silent.
  *
  * Asserted, not narrated: candidate-count bounds on both paths, trim
  * telemetry magnitudes, and a wall-clock ordering (the capped run does
  * ≥10× less verify work and must not be slower). The at-scale reading of
  * the same adversary is in SURVEY §8.5.7; the retired probe mode that
  * took it is at `git show a8d165c:src/main/scala/graft/ScaleProbe.scala`. */
class LshSkewSpec extends AnyFunSuite with SparkTestBase {

  private val nHot = 400
  private val nCold = 600
  private val cap = 150

  private lazy val fixtureDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("lsh_skew").toString
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    val docs =
      (0 until nHot).map(i => (i.toLong, s"$base uniq$i")) ++
        // cold docs: disjoint vocabularies, no cross-doc shingles
        (0 until nCold).map(i => (nHot + i.toLong,
          (0 until 30).map(j => s"w${i}_$j").mkString(" ")))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("skewfix"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  test("a hot near-dup cluster floods band buckets uncapped; the cap bounds candidates and reports the trim") {
    val dir = fixtureDir

    // uncapped baseline: the hot cluster's pairwise Jaccard is ~0.85, so
    // nearly every hot pair collides in some band — Θ(|cluster|²) output
    val (uncappedPairs, uncappedSec) = timed {
      Dedup.minhashLshPairs(spark, dir, threshold = 0.5, bucketCap = Int.MaxValue)
        .collect().length
    }
    val allHotPairs = nHot.toLong * (nHot - 1) / 2
    assert(uncappedPairs >= (allHotPairs * 9) / 10,
      s"adversary lost its teeth: $uncappedPairs of $allHotPairs hot pairs uncapped")

    // capped run: every band's modal bucket exceeds the cap and is shed;
    // residual buckets are the unique-suffix stragglers
    val capped = Dedup.minhashLshPairs(spark, dir, threshold = 0.5, bucketCap = cap)
    val (cappedPairs, cappedSec) = timed(capped.collect().length)

    // candidate bound: the quadratic cluster must be GONE, not thinned
    assert(cappedPairs <= uncappedPairs / 10,
      s"cap failed to bound candidates: $cappedPairs vs uncapped $uncappedPairs")

    // telemetry bound: the shed rows are accounted for — at least one hot
    // bucket per band in most bands, each holding > cap signatures
    val m = Observed.metrics(capped).collectFirst {
      case (name, row) if name.startsWith("graft_lsh_trim_") => row
    }.getOrElse(fail("hot buckets trimmed but no graft_lsh_trim observation"))
    val hotBuckets = m.getAs[Long]("n_hot_buckets")
    val trimmedRows = m.getAs[Long]("n_trimmed_rows")
    assert(hotBuckets >= 16, s"expected a hot bucket in most of 32 bands, saw $hotBuckets")
    assert(trimmedRows > hotBuckets * cap,
      s"each trimmed bucket must exceed the cap: $trimmedRows rows over $hotBuckets buckets")

    // wall bound: the capped run skips ≥10x of the verify join and should
    // not be slower. Both sides are single-shot timings on a host whose
    // same-code bench envelope spans 2x+ under contention (BASELINE.md),
    // and inside a full `sbt test` JVM a single GC pause can eat more
    // than this query's whole runtime (observed: one flaky failure at
    // 1.5x slack in an otherwise-green suite) — so allow 3x. The
    // structural candidate-count assertions above are the load-bearing
    // check; this one only catches a capped path that somehow does MORE
    // work, and that failure mode blows past any constant factor.
    assert(cappedSec <= uncappedSec * 3.0,
      f"capped path much slower than uncapped: $cappedSec%.2f s vs $uncappedSec%.2f s")
  }

  test("a cluster larger than HotShingleCap is defused at the shingle tier, with telemetry") {
    import spark.implicits._
    // cluster size over the shingle cap: the 28 base shingles each occur
    // in every member, exceed the cap, and are shed BEFORE signatures —
    // the quadratic never forms and the shed volume is reported
    val n = Dedup.HotShingleCap + 200
    val dir = Files.createTempDirectory("shingle_skew").toString
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    (0 until n).map(i => (i.toLong, s"$base uniq$i")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("skewfix"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val pairs = Dedup.minhashLshPairs(spark, dir)
    assert(pairs.collect().isEmpty,
      "shared shingles above the cap must never reach banding")
    val m = Observed.metrics(pairs).collectFirst {
      case (name, row) if name.startsWith("graft_shingle_trim_") => row
    }.getOrElse(fail("shingles trimmed but no graft_shingle_trim observation"))
    // 31 tokens -> 29 shingles/doc: 28 all-base (hot), 1 unique suffix
    assert(m.getAs[Long]("n_hot_shingles") == 28L)
    assert(m.getAs[Long]("n_dropped_postings") == 28L * n)
  }
}
