package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{CalendarAppendWindows, DataDrivenWindows, UserMsg}

/** Single-node streaming throughput bench on the REFERENCE's benchmark
  * workload (`/root/reference/processor/processor_test.go:32-39`): uid
  * drawn from ≤100 users, event time monotone with U[0,3600)-second gaps —
  * so the numbers are directly comparable to `go test -bench
  * BenchmarkProcessMessages` on the reference (which publishes no absolute
  * figure; BASELINE.md).
  *
  * Measures three streaming tiers end-to-end through a MemoryStream:
  *  - exact-semantics data-driven windows (the bit-faithful replica);
  *  - append-mode calendar buckets (the scalable watermarked tier);
  *  - built-in windowed `approx_count_distinct` in update mode.
  *
  * On this workload (whose ~30-min mean gaps make nearly every message
  * its own minute bucket) the built-in windowed tier keeps a dense
  * ~22 KiB HLL++ buffer per group, so fine-grained buckets thrash the
  * state store, which is precisely what CalendarAppendWindows'
  * sparse-until-threshold state avoids. No ratio between the tiers is
  * pinned here: the last one was measured while the calendar tier still
  * ran one state operator per granularity. `perfbench` (`live_ref`,
  * `replay_dense`) is the maintained measurement of the calendar tier.
  *
  * Prints ONE JSON line. Not part of the driver contract — evidence for
  * the "matches-or-beats single-node throughput" goal.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_N", "200000").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // host telemetry rides the artifact (same self-diagnosis contract as
    // graft.Bench): a contended run convicts itself instead of silently
    // anchoring a bogus throughput number
    val hostBefore = Bench.hostSnapshot()

    // reference benchmark workload shape (processor_test.go:32-39),
    // deterministic LCG instead of math/rand
    var ts = 1468244384L
    var seed = 12345L
    val msgs = (0 until n).map { _ =>
      seed = (seed * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      ts += seed % 3600
      UserMsg(s"user${seed % 100}", ts)
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    val ddSec = timed {
      val in = MemoryStream[UserMsg](spark)
      val q = DataDrivenWindows(spark, in.toDS()).writeStream
        .format("noop").outputMode("append").start()
      in.addData(msgs)
      q.processAllAvailable(); q.stop()
    }

    val calSec = timed {
      val in = MemoryStream[UserMsg](spark)
      val parsed = in.toDS().select($"uid", timestamp_seconds($"ts").as("event_time"))
      val q = CalendarAppendWindows.allGranularities(spark, parsed).writeStream
        .format("noop").outputMode("append").start()
      in.addData(msgs)
      q.processAllAvailable(); q.stop()
    }

    // idiomatic tier: windowed approx_count_distinct, update mode — the
    // recommended production path when per-bucket re-emission is acceptable
    val idSec = timed {
      val in = MemoryStream[UserMsg](spark)
      val parsed = in.toDS().select($"uid", timestamp_seconds($"ts").as("event_time"))
      val q = graft.streaming.CardinalityStream.allGranularities(parsed).writeStream
        .format("noop").outputMode("update").start()
      in.addData(msgs)
      q.processAllAvailable(); q.stop()
    }

    // ingest document pipeline (DocPipeline): quality gate + fingerprint +
    // watermark dedup + stream-static corpus anti-join, on synthetic docs
    // shaped like the corpus (~80 tokens) with a 10% duplicate rate
    val nDocs = n / 10
    val docTexts = new Array[String](nDocs)
    (0 until nDocs).foreach { i =>
      seed = (seed * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      // ~10% duplicate the PREDECESSOR'S TEXT (copying the index instead
      // would break dup chains: a dup-of-a-dup would rebuild from the
      // wrong base and not actually match)
      docTexts(i) =
        if (i > 0 && seed % 10 == 0) docTexts(i - 1)
        else (0 until 80).map(j => s"w${(i.toLong * 80 + j) % 5000}").mkString(" ")
    }
    val docRows = (0 until nDocs).map { i =>
      (i.toLong, docTexts(i), new java.sql.Timestamp((1704067200L + i) * 1000L))
    }
    // corpus dir is configurable (the rest of the bench is synthetic) —
    // a hardcoded absolute path would break or silently measure the wrong
    // corpus on hosts/scales where it is absent
    val corpusDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      args.headOption.getOrElse("/root/testdata/sf0.01"))
    def docTier(dir: String, rows: Seq[(Long, String, java.sql.Timestamp)]): Double = {
      val corpusFps = graft.operators.TextAnalysis
        .fingerprint(spark, dir).select($"fp_md5")
      timed {
        val in = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
        val docs = in.toDF().toDF("doc_id", "text", "event_time")
        val q = graft.streaming.DocPipeline(docs, corpusFps).writeStream
          .format("noop").outputMode("append").start()
        in.addData(rows)
        q.processAllAvailable(); q.stop()
      }
    }
    // untimed warm-up on a small prefix: a controlled two-slot experiment
    // (r10) showed the FIRST DocPipeline run pays ~1.8x in plan/codegen/
    // state-store init regardless of which corpus it reads (2.9-3.3k vs
    // 5.1-5.2k docs/s with corpora swapped) — without this, the tier
    // measures cold-start, and slot order masks any real signal
    docTier(corpusDir, docRows.take(2000))
    val docSec = docTier(corpusDir, docRows)
    // PINNED-fixture twin (VERDICT r9 #1): the corpus anti-join side is
    // the ONLY StreamBench input the driver regenerates each round (the
    // message tiers run on the internal deterministic LCG workload), so
    // this run is comparable round-over-round by construction — a drop
    // that reproduces here is a code/host effect, never data shift.
    val fixtureDir = sys.env.getOrElse("SPARK_GRAFT_STREAM_FIXTURE", "fixtures/stream")
    val fixSec: Option[Double] =
      if (new java.io.File(s"$fixtureDir/documents.parquet").exists)
        Some(docTier(fixtureDir, docRows))
      else { System.err.println(s"[streambench] fixture corpus $fixtureDir absent — skipping pinned tier"); None }

    // NEAR-dup ingest tier (r12 task 2): the full at-ingest path — gates,
    // exact dedup, corpus anti-join, then the per-micro-batch MinHash-index
    // probe (DocPipeline.withNearDupIndex) against an index of the PINNED
    // fixture corpus, so the row is comparable round-over-round like the
    // fixture twin above. Warm-up runs append=false so the timed run probes
    // a clean index.
    val nearDupSec: Option[Double] =
      if (new java.io.File(s"$fixtureDir/documents.parquet").exists) {
        val idx = java.nio.file.Files.createTempDirectory("sb-mhidx-").toString
        graft.operators.Dedup.buildMinhashIndex(spark,
          Tables(spark, fixtureDir, "documents"), idx, s"$idx#base")
        val corpusFps = graft.operators.TextAnalysis
          .fingerprint(spark, fixtureDir).select($"fp_md5")
        def run(rows: Seq[(Long, String, java.sql.Timestamp)], tag: String,
                doAppend: Boolean): Double = timed {
          val in = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
          val docs = in.toDF().toDF("doc_id", "text", "event_time")
          val q = graft.streaming.DocPipeline.withNearDupIndex(docs, corpusFps,
              idx, s"$idx#$tag", append = doAppend) { kept =>
            kept.write.format("noop").mode("overwrite").save()
          }.start()
          in.addData(rows)
          q.processAllAvailable(); q.stop()
        }
        run(docRows.take(2000), "warm", doAppend = false)
        Some(run(docRows, "timed", doAppend = true))
      } else None

    // SPAN-ingest tier (round-12, fifth index family): boilerplate
    // removal at ingest against a span index of the PINNED fixture
    // corpus — comparable round-over-round like the near-dup tier.
    // Streamed ids are shifted out of the fixture id range (the
    // increment's disjoint-ids contract).
    val spanIngestSec: Option[Double] =
      if (new java.io.File(s"$fixtureDir/documents.parquet").exists) {
        val idx = java.nio.file.Files.createTempDirectory("sb-spanidx-").toString
        graft.operators.Dedup.buildSpanIndex(spark,
          Tables(spark, fixtureDir, "documents").select($"doc_id", $"text"), idx)
        val spanRows = docRows.map(r => (r._1 + 10000000L, r._2))
        def run(rows: Seq[(Long, String)], doAppend: Boolean): Double = timed {
          val in = MemoryStream[(Long, String)](spark)
          val q = graft.streaming.StreamDedup.spanRemovalAgainstIndex(
              in.toDF().toDF("doc_id", "text"), idx, append = doAppend) { out =>
            out.write.format("noop").mode("overwrite").save()
          }.start()
          in.addData(rows)
          q.processAllAvailable(); q.stop()
        }
        run(spanRows.take(2000), doAppend = false) // warm-up, clean index
        Some(run(spanRows, doAppend = true))
      } else None

    // COMPOSED at-ingest pipeline tier (round-13 verdict task 2): the ONE
    // deployment composition — gates → exact → near-dup index probe →
    // span cleanup — per micro-batch (DocPipeline.fullIngest), both index
    // legs against PINNED-fixture indexes so the row is comparable
    // round-over-round. Streamed ids shifted above the fixture id range
    // (the span ordering contract).
    val fullIngestSec: Option[Double] =
      if (new java.io.File(s"$fixtureDir/documents.parquet").exists) {
        val mhIdx = java.nio.file.Files.createTempDirectory("sb-full-mh-").toString
        val spIdx = java.nio.file.Files.createTempDirectory("sb-full-sp-").toString
        graft.operators.Dedup.buildMinhashIndex(spark,
          Tables(spark, fixtureDir, "documents"), mhIdx, s"$mhIdx#base")
        graft.operators.Dedup.buildSpanIndex(spark,
          Tables(spark, fixtureDir, "documents").select($"doc_id", $"text"), spIdx)
        val corpusFps = graft.operators.TextAnalysis
          .fingerprint(spark, fixtureDir).select($"fp_md5")
        val fullRows = docRows.map(r => (r._1 + 20000000L, r._2, r._3))
        def run(rows: Seq[(Long, String, java.sql.Timestamp)], tag: String,
                doAppend: Boolean): Double = timed {
          val in = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
          val docs = in.toDF().toDF("doc_id", "text", "event_time")
          val q = graft.streaming.DocPipeline.fullIngest(docs, corpusFps,
              mhIdx, spIdx, s"$mhIdx#$tag", append = doAppend) { out =>
            out.write.format("noop").mode("overwrite").save()
          }.start()
          in.addData(rows)
          q.processAllAvailable(); q.stop()
        }
        run(fullRows.take(2000), "warm", doAppend = false)
        Some(run(fullRows, "timed", doAppend = true))
      } else None

    // fullIngest with the PERSISTED exact state maintained per batch
    // (round-16: the reworked keeper ladder — partitioned base + bloom +
    // flat delta — in the stream composition; the default tier above
    // keeps the continuous watermark-dedup exact stages)
    val fullExactStateSec: Option[Double] =
      if (new java.io.File(s"$fixtureDir/documents.parquet").exists) {
        val mhIdx = java.nio.file.Files.createTempDirectory("sb-fullx-mh-").toString
        val spIdx = java.nio.file.Files.createTempDirectory("sb-fullx-sp-").toString
        graft.operators.Dedup.buildMinhashIndex(spark,
          Tables(spark, fixtureDir, "documents"), mhIdx, s"$mhIdx#base")
        graft.operators.Dedup.buildExactState(spark,
          Tables(spark, fixtureDir, "documents").select($"doc_id", $"text"), mhIdx)
        graft.operators.Dedup.buildSpanIndex(spark,
          Tables(spark, fixtureDir, "documents").select($"doc_id", $"text"), spIdx)
        val corpusFps = graft.operators.TextAnalysis
          .fingerprint(spark, fixtureDir).select($"fp_md5")
        val fullRows = docRows.map(r => (r._1 + 40000000L, r._2, r._3))
        def run(rows: Seq[(Long, String, java.sql.Timestamp)], tag: String,
                mh: String, sp: String, doAppend: Boolean): Double = timed {
          val in = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
          val docs = in.toDF().toDF("doc_id", "text", "event_time")
          val q = graft.streaming.DocPipeline.fullIngest(docs, corpusFps,
              mh, sp, s"$mh#$tag", append = doAppend,
              maintainExactState = true) { out =>
            out.write.format("noop").mode("overwrite").save()
          }.start()
          in.addData(rows)
          q.processAllAvailable(); q.stop()
        }
        // warm against THROWAWAY state: appendExactState always appends
        // (no probe-only mode), so warming on the timed index would
        // register the warm texts and convict their timed re-arrivals
        locally {
          val mhW = java.nio.file.Files.createTempDirectory("sb-fullxw-mh-").toString
          val spW = java.nio.file.Files.createTempDirectory("sb-fullxw-sp-").toString
          graft.operators.Dedup.buildMinhashIndex(spark,
            Tables(spark, fixtureDir, "documents"), mhW, s"$mhW#base")
          graft.operators.Dedup.buildExactState(spark,
            Tables(spark, fixtureDir, "documents").select($"doc_id", $"text"), mhW)
          graft.operators.Dedup.buildSpanIndex(spark,
            Tables(spark, fixtureDir, "documents").select($"doc_id", $"text"), spW)
          run(fullRows.take(2000), "xwarm", mhW, spW, doAppend = false)
        }
        Some(run(fullRows, "xtimed", mhIdx, spIdx, doAppend = true))
      } else None

    // SELECTION-ingest tier (round-14): the frozen-model at-ingest scorer
    // (StreamSelect.scoredIngest — DSIR weight + Gumbel-threshold
    // admission + backoff-LM score per doc) with the model trained ONCE
    // on the PINNED fixture corpus, so the row is comparable
    // round-over-round. Stateless map-side scoring: this tier prices the
    // pure per-batch scoring cost with no index append in the path.
    val selectIngestSec: Option[Double] =
      if (new java.io.File(s"$fixtureDir/documents.parquet").exists) {
        val md = java.nio.file.Files.createTempDirectory("sb-selmodel-").toString
        graft.operators.Selection.buildSelectionModel(spark,
          Tables(spark, fixtureDir, "documents"), md)
        val selRows = docRows.map(r => (r._1, r._2))
        def run(rows: Seq[(Long, String)]): Double = timed {
          val in = MemoryStream[(Long, String)](spark)
          val q = graft.streaming.StreamSelect.scoredIngest(
              in.toDF().toDF("doc_id", "text"), md) { out =>
            out.write.format("noop").mode("overwrite").save()
          }.start()
          in.addData(rows)
          q.processAllAvailable(); q.stop()
        }
        run(selRows.take(2000)) // untimed warm-up (plan/codegen init)
        Some(run(selRows))
      } else None

    // VECTOR-ingest tiers: the embedding and semantic stream legs on a
    // fully SYNTHETIC deterministic workload — index side and streamed
    // batches both LCG-generated, so these rows are comparable
    // round-over-round by construction. Round 13 RE-BASED the tiers
    // (verdict task 6): the r12 rows (2k vectors, one micro-batch — 128 /
    // 417 vecs/s) were job-launch-floor artifacts that could not detect a
    // real regression; now 50k vectors stream through 5 micro-batches of
    // 10k against a 20k-vector index (plus an untimed warm-up batch), so
    // per-batch launch cost amortizes and the rate measures the probe.
    // Every 10th streamed vector is an exact copy of an indexed one
    // (convicted at the probe; the rest survive).
    def synthVec(id: Long): Array[Float] = {
      var x = id * 6364136223846793005L + 1442695040888963407L
      Array.tabulate(64) { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 40).toInt % 2048) / 1024.0f - 1.0f
      }
    }
    val nIdxVecs = 20000
    val nStreamVecs = 50000
    val vecBatches = 5
    val idxVecs = (0 until nIdxVecs).map(i => (i.toLong, synthVec(i.toLong)))
    val streamVecs = (0 until nStreamVecs).map { i =>
      val v = if (i % 10 == 0) synthVec((i % nIdxVecs).toLong) // exact copy
              else synthVec(1000000L + i)
      (100000L + i, v)
    }
    val warmVecs = (0 until 2000).map(i => (900000L + i, synthVec(2000000L + i)))
    def vecTier(buildIdx: String => Unit)
               (start: (org.apache.spark.sql.DataFrame, String, Boolean) =>
                 org.apache.spark.sql.streaming.StreamingQuery): Double = {
      val idx = java.nio.file.Files.createTempDirectory("sb-vecidx-").toString
      buildIdx(idx)
      def run(rows: Seq[(Long, Array[Float])], batches: Int,
              doAppend: Boolean): Double =
        timed {
          val in = MemoryStream[(Long, Array[Float])](spark)
          val q = start(in.toDF().toDF("vec_id", "embedding"), idx, doAppend)
          val per = (rows.size + batches - 1) / batches
          rows.grouped(per).foreach { chunk =>
            in.addData(chunk)
            q.processAllAvailable() // drain per chunk -> one micro-batch each
          }
          q.stop()
        }
      run(warmVecs, 1, doAppend = false) // untimed warm-up, clean index
      run(streamVecs, vecBatches, doAppend = true)
    }
    val idxVecDf = idxVecs.toDF("vec_id", "embedding")
    // 12-bit bands (not the 4-bit small-corpus default): the scaladoc's
    // scale dial (embeddingNearDupPairs) applied to the bench's own
    // workload — at 70k near-orthogonal vectors, 4-bit bands hold only 16
    // buckets per band, so a large fraction of ALL pairs collides in some
    // band and the un-trimmed probe's candidate set, not the stream
    // machinery, becomes the row (it broadcast-OOM'd the proxy-bounded
    // r12 code — the defect this workload exposed and fixed). Exact
    // copies still collide in every band, so the conviction path is live.
    val embIngestSec = vecTier(
      idx => graft.operators.Dedup.buildEmbeddingIndex(spark, idxVecDf, idx,
        nBands = 16, bandBits = 12)) {
      (vecs, idx, doAppend) =>
        graft.streaming.StreamDedup.embeddingAgainstIndex(vecs, idx,
            nBands = 16, bandBits = 12, append = doAppend) {
          kept => kept.write.format("noop").mode("overwrite").save()
        }.start()
    }
    // k = 256 literal centroids: at 70k vectors the k = 8 spec model
    // would put ~9k vectors in every cell and the same-cell pair join,
    // not the stream machinery, would dominate the row (the §8.5.11
    // K-knob, applied to the bench's own workload)
    val semIngestSec = vecTier(
      idx => graft.operators.Dedup.buildSemanticIndex(spark, idxVecDf, idx,
        graft.functions.VectorOps.hyperplanes(256, 64, seed = 31L))) {
      (vecs, idx, doAppend) =>
        graft.streaming.StreamDedup.semanticAgainstIndex(vecs, idx, append = doAppend) {
          out => out.write.format("noop").mode("overwrite").save()
        }.start()
    }

    def f0(v: Double): String = String.format(java.util.Locale.ROOT, "%.0f", Double.box(v))
    println(s"""{"metric":"stream_msgs_per_sec","msgs":$n,""" +
      s""""data_driven":${f0(n / ddSec)},"calendar_append":${f0(n / calSec)},""" +
      s""""windowed_update":${f0(n / idSec)},""" +
      s""""data_driven_sec":${f0(ddSec)},"calendar_append_sec":${f0(calSec)},""" +
      s""""windowed_update_sec":${f0(idSec)},""" +
      s""""doc_pipeline_docs":$nDocs,"doc_pipeline_docs_per_sec":${f0(nDocs / docSec)},""" +
      s""""doc_pipeline_fixture_docs_per_sec":${fixSec.map(x => f0(nDocs / x)).getOrElse("null")},""" +
      s""""doc_pipeline_neardup_docs_per_sec":${nearDupSec.map(x => f0(nDocs / x)).getOrElse("null")},""" +
      s""""doc_pipeline_full_docs_per_sec":${fullIngestSec.map(x => f0(nDocs / x)).getOrElse("null")},""" +
      s""""doc_pipeline_full_exactstate_docs_per_sec":${fullExactStateSec.map(x => f0(nDocs / x)).getOrElse("null")},""" +
      s""""span_ingest_docs_per_sec":${spanIngestSec.map(x => f0(nDocs / x)).getOrElse("null")},""" +
      s""""select_ingest_docs_per_sec":${selectIngestSec.map(x => f0(nDocs / x)).getOrElse("null")},""" +
      s""""stream_vecs":$nStreamVecs,""" +
      s""""embedding_ingest_vecs_per_sec":${f0(nStreamVecs / embIngestSec)},""" +
      s""""semantic_ingest_vecs_per_sec":${f0(nStreamVecs / semIngestSec)},""" +
      s""""host_before":$hostBefore,"host_after":${Bench.hostSnapshot()}}""")
    spark.stop()
  }
}
