package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with SparkTestBase {

  test("exact dedup partitions the corpus (sum of copies = doc count)") {
    val d = Dedup.exactDedup(spark, sf).collect()
    assert(d.map(_.getAs[Long]("n_copies")).sum == Tables(spark, sf, "documents").count())
  }

  test("minhash-LSH finds the high-Jaccard pairs and estimates within 0.2") {
    val exact = Dedup.ngramJaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = Dedup.minhashLshPairs(spark, sf, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // recall on strong pairs (exact jaccard >= 0.7): LSH banding at 32x4
    // has >99.9% collision probability there
    val strong = exact.filter(_._2 >= 0.7).keySet
    assert(strong.nonEmpty, "test data should contain strong near-dup pairs")
    assert(strong.subsetOf(est.keySet),
      s"missed strong pairs: ${strong -- est.keySet}")
    // estimate quality on pairs found by both
    est.keySet.intersect(exact.keySet).foreach { k =>
      assert(math.abs(est(k) - exact(k)) <= 0.2, s"pair $k: est ${est(k)} vs exact ${exact(k)}")
    }
  }

  test("star clustering collapses a 512-node chain in logarithmic rounds") {
    import spark.implicits._
    // a duplication CHAIN is the adversarial case for neighbor-min label
    // propagation (O(diameter) = 511 rounds); star alternation must finish
    // inside the logarithmic budget — maxRounds THROWS on overrun, so this
    // passing is itself the round-count assertion
    val chain = (0L until 511L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.clusterPairs(chain, localBelow = 0L, maxRounds = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 512)
    assert(labels.values.forall(_ == 0L), "every chain node must label to the minimum")
  }

  test("both clustering tiers agree on degenerate self-pair inputs") {
    import spark.implicits._
    // doc 7 appears ONLY in a self-pair: both tiers must keep it as its own
    // root rather than dropping it (star's canon removes self-loop EDGES,
    // so the node has to re-enter via the singleton union)
    val pairs = Seq((1L, 2L), (7L, 7L), (2L, 2L)).toDF("doc_a", "doc_b")
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labelsOf(Dedup.clusterPairs(pairs, localBelow = Long.MaxValue))
    val star = labelsOf(Dedup.clusterPairs(pairs, localBelow = 0L))
    assert(local == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    assert(star == local, "tiers must agree on self-pair inputs")
  }

  test("star and local clustering tiers produce identical corpus labels") {
    def lbls(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lbls(Dedup.nearDupClustersStar(spark, sf)) ==
      lbls(Dedup.nearDupClustersLocal(spark, sf)))
  }

  test("local union-find tier matches the distributed tiers, and tiered dispatches both ways") {
    import spark.implicits._
    def lbls(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // corpus-grain agreement on the real LSH pair set
    val pairs = Dedup.minhashLshPairs(spark, sf).select("doc_a", "doc_b")
    val star = lbls(Dedup.clusterPairs(pairs, localBelow = 0L))
    assert(lbls(Dedup.clusterPairs(pairs, localBelow = Long.MaxValue)) == star)
    // default bound -> local branch; equal to the star branch
    assert(lbls(Dedup.clusterPairs(pairs)) == star)
    // the dispatch boundary: exactly `localBelow` edges stay local, one
    // edge over goes star; both sides equal
    val nEdges = pairs.count()
    assert(lbls(Dedup.clusterPairs(pairs, localBelow = nEdges)) == star)
    assert(lbls(Dedup.clusterPairs(pairs, localBelow = nEdges - 1)) == star)
    // adversarial corners: self-pair singleton, chain, disjoint components
    val tricky = (Seq((7L, 7L), (9L, 9L), (20L, 30L)) ++
      (0L until 64L).map(i => (i + 100L, i + 101L))).toDF("doc_a", "doc_b")
    assert(lbls(Dedup.clusterPairs(tricky, localBelow = Long.MaxValue)) ==
      lbls(Dedup.clusterPairs(tricky, localBelow = 0L)))
    // empty edge list: empty result, correct schema
    val empty = Dedup.clusterPairs(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"),
      localBelow = Long.MaxValue)
    assert(empty.columns.toSeq == Seq("doc_id", "cluster_id") && empty.count() == 0)
  }

  test("span-dup stats match a local span computation") {
    val texts = Tables(spark, sf, "documents").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def spans(t: String): Seq[String] =
      t.split(" ", -1).grouped(10).map(_.mkString(" ")).toSeq
    val docsPerSpan = texts.toSeq
      .flatMap { case (id, t) => spans(t).distinct.map(sp => (sp, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val got = Dedup.spanDupStats(spark, sf).collect()
    assert(got.length == texts.size)
    got.foreach { r =>
      val id = r.getLong(0)
      val sp = spans(texts(id))
      assert(r.getAs[Long]("n_spans") == sp.size.toLong, s"doc $id n_spans")
      assert(r.getAs[Long]("n_dup_spans") == sp.count(s0 => docsPerSpan(s0) > 1).toLong,
        s"doc $id n_dup_spans")
    }
  }

  test("multi-scale substring-dup stats match a local per-scale recomputation") {
    val texts = Tables(spark, sf, "documents").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scales = Seq(10, 25, 50)
    def spans(t: String, l: Int): Seq[String] =
      t.split(" ", -1).grouped(l).map(_.mkString(" ")).toSeq
    val docsPerSpan: Map[(Int, String), Int] = scales.flatMap { l =>
      texts.toSeq
        .flatMap { case (id, t) => spans(t, l).distinct.map(sp => ((l, sp), id)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toSeq
    }.toMap
    val got = Dedup.substringDupStats(spark, sf).collect()
    // one row per (doc, scale); scales must never cross-talk
    assert(got.length == texts.size * scales.size)
    got.foreach { r =>
      val (id, l) = (r.getLong(0), r.getAs[Long]("scale").toInt)
      val sp = spans(texts(id), l)
      assert(r.getAs[Long]("n_spans") == sp.size.toLong, s"doc $id scale $l n_spans")
      assert(r.getAs[Long]("n_dup_spans") == sp.count(s0 => docsPerSpan((l, s0)) > 1).toLong,
        s"doc $id scale $l n_dup_spans")
    }
    // consistency law: the scale-10 tier must agree exactly with the
    // single-scale operator it generalizes
    val single = Dedup.spanDupStats(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"))).toMap
    got.filter(_.getAs[Long]("scale") == 10L).foreach { r =>
      assert(single(r.getLong(0)) == (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans")),
        s"scale-10 tier diverged from q_dedup_spans for doc ${r.getLong(0)}")
    }
  }

  test("contamination matches a local shingle-overlap computation") {
    val texts = Tables(spark, sf, "documents").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => w(i) + " " + w(i + 1) + " " + w(i + 2)).toSet
    }
    val trainSh = texts.filter(_._1 >= 50).values.flatMap(shingles).toSet
    val got = Dedup.contamination(spark, sf).collect()
    assert(got.length == 50)
    got.foreach { r =>
      val id = r.getLong(0)
      val sh = shingles(texts(id))
      assert(r.getAs[Long]("n_sh") == sh.size.toLong, s"doc $id n_sh")
      assert(r.getAs[Long]("n_hit") == sh.count(trainSh.contains).toLong, s"doc $id n_hit")
    }
    // the synthetic corpus contains exact duplicates across the split, so
    // at least one benchmark doc must be fully contaminated
    assert(got.exists(r => r.getAs[Double]("contamination") == 1.0))
  }

  test("hot-bucket trimming is observable via graft_lsh_trim metrics") {
    // default cap: nothing trims at this scale — AQE prunes the empty trim
    // anti-join, so the metric is either absent or all-zero (both mean
    // "no recall loss"; documented contract on bandedCandidatePairs)
    val calm = Dedup.minhashLshPairs(spark, sf, threshold = 0.5)
    calm.collect()
    Observed.metrics(calm).collectFirst {
      case (name, row) if name.startsWith("graft_lsh_trim_") => row
    }.foreach { m =>
      assert(m.getAs[Long]("n_hot_buckets") == 0L)
      assert(m.getAs[Long]("n_trimmed_rows") == 0L)
    }
    // cap=1: every multi-member bucket trims; the loss is REPORTED, and the
    // trimmed run can only shrink the pair set (never invent pairs)
    val trimmed = Dedup.minhashLshPairs(spark, sf, threshold = 0.5, bucketCap = 1)
    val trimmedPairs = trimmed.collect().length
    val trimMetrics = Observed.metrics(trimmed).collectFirst {
      case (name, row) if name.startsWith("graft_lsh_trim_") => row
    }.getOrElse(fail("trimming happened but no graft_lsh_trim observation reported"))
    assert(trimMetrics.getAs[Long]("n_hot_buckets") > 0L)
    assert(trimMetrics.getAs[Long]("n_trimmed_rows") >
           trimMetrics.getAs[Long]("n_hot_buckets")) // each hot bucket had >1 member
    assert(trimmedPairs <= calm.collect().length)
  }

  test("simhash banding is EXACT for hamming <= 7 (pigeonhole law) vs brute force") {
    val fps = Dedup.simhashFingerprints(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // local brute-force all-pairs hamming
    val expected = (for {
      (ida, fa) <- fps
      (idb, fb) <- fps
      if ida < idb && java.lang.Long.bitCount(fa ^ fb) <= 7
    } yield (ida, idb)).toSet
    val got = Dedup.simhashPairs(spark, sf, maxHamming = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("wide-key simhash is EXACT for hamming <= 3 (pigeonhole law) and a subset of the narrow tier") {
    val fps = Dedup.simhashFingerprints(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (ida, fa) <- fps
      (idb, fb) <- fps
      if ida < idb && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ida, idb)).toSet
    // uncapped: the pigeonhole law itself (C(6,3) tables, 3-of-6-block keys)
    val got = Dedup.simhashPairsWide(spark, sf, bucketCap = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    // the wide tier's radius-3 output is exactly the narrow tier's pairs at hamming <= 3
    val narrow = Dedup.simhashPairs(spark, sf, maxHamming = 7).collect()
      .filter(_.getLong(2) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == narrow)
  }

  test("wide-key simhash hot-bucket cap trims observably and only shrinks the pair set") {
    // default cap on the corpus: no 32-bit-key bucket can be hot at this
    // scale — capped output must equal the uncapped law output
    val capped = Dedup.simhashPairsWide(spark, sf)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.simhashPairsWide(spark, sf, bucketCap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs == uncapped)
    // cap=3: clusters above the cap trim, the loss is REPORTED, and
    // trimming can only remove pairs — the minhash trim contract, now
    // sound on wide keys. The output stays non-empty, which is what
    // guarantees the observation survives (see the cap=1 case below).
    val trimmed = Dedup.simhashPairsWide(spark, sf, bucketCap = 3)
    val trimmedPairs = trimmed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trimmedPairs.nonEmpty && trimmedPairs != uncapped,
      "cap=3 must be a PARTIAL trim on this corpus or the test is vacuous")
    val m = Observed.metrics(trimmed).collectFirst {
      case (name, row) if name.startsWith("graft_lsh_trim_") => row
    }.getOrElse(fail("trimming happened but no graft_lsh_trim observation reported"))
    assert(m.getAs[Long]("n_hot_buckets") > 0L)
    assert(m.getAs[Long]("n_trimmed_rows") > m.getAs[Long]("n_hot_buckets"))
    assert(trimmedPairs.subsetOf(uncapped))
    // cap=1 is DEGENERATE by construction: any pair-producing bucket has
    // >= 2 members, so every candidate is trimmed and the result is empty
    // — and AQE's empty-relation propagation may then prune the plan
    // (observation node included), so the counts are best-effort here.
    // The empty result itself is the signal in this corner.
    val allTrimmed = Dedup.simhashPairsWide(spark, sf, bucketCap = 1)
    assert(allTrimmed.collect().isEmpty)
  }

  test("near-dup clusters equal a local union-find over the same pairs") {
    val pairs = Dedup.ngramJaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // local union-find oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val got = Dedup.clusterPairs(
        Dedup.ngramJaccardPairs(spark, sf).select(col("doc_a"), col("doc_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"missing=${expected.toSet -- got.toSet} extra=${got.toSet -- expected.toSet}")
  }

  test("LSH dedup pipeline equals a local union-find over the same pairs plus exact groups") {
    // the production composition: kept = every doc that is the minimum of
    // its component in the graph (LSH pairs ∪ exact-duplicate groups)
    val lshPairs = Dedup.minhashLshPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val texts = Tables(spark, sf, "documents").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val exactEdges = texts.groupBy(_._2).values.flatMap { g =>
      val ids = g.map(_._1).sorted
      ids.tail.map(id => (ids.head, id))
    }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (lshPairs ++ exactEdges).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // component minimum = the root (unions always hang max under min);
    // docs in no component keep themselves
    val expected = texts.map(_._1).filter(id => find(id) == id).toSet
    val got = Dedup.dedupPipelineLsh(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    // cardinality sanity: the pipeline keeps something and removes something
    assert(got.nonEmpty && got.size < texts.length)
  }

  test("cross-corpus bloom-prefiltered dedup is exact vs a local fingerprint check") {
    val split = 250L
    val fps = graft.operators.TextAnalysis.fingerprint(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val baseFps = fps.filter(_._1 < split).map(_._2).toSet
    val expected = fps.filter { case (id, fp) => id >= split && !baseFps.contains(fp) }
      .map(_._1).toSet
    val got = Dedup.crossCorpusNewDocs(spark, sf, splitAt = split).collect()
      .map(_.getLong(0)).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("embedding near-dup: exact precision, bounded recall vs brute force") {
    // local brute-force oracle: all pairs with cosine >= threshold
    val vecs = Tables(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val exact = (for {
      (ida, va) <- vecs
      (idb, vb) <- vecs
      if ida < idb && cos(va, vb) >= 0.4
    } yield (ida, idb)).toSet
    assert(exact.nonEmpty, "test data should contain near-dup embedding pairs")

    val pairs = Dedup.embeddingNearDupPairs(spark, sf, threshold = 0.4).collect()
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val e4 = r.getAs[Long]("cos_e4") // e4-floored integer score
      assert(e4 >= 3999L && e4 <= 10001L)
    }
    // verification is exact cosine => NO false positives, ever
    assert(got.subsetOf(exact), s"false positives: ${got -- exact}")
    // LSH candidates => recall approximate; 16x4 banding expects ~0.94 at
    // this corpus's similarity range (deterministic planes, fixed seed)
    assert(got.size >= math.ceil(0.6 * exact.size).toInt,
      s"recall too low: ${got.size}/${exact.size}")
  }

  test("duplicate-span removal matches a local re-implementation and round-trips clean docs") {
    import org.apache.spark.sql.functions.col
    val L = 10
    val got = Dedup.removeDuplicateSpans(spark, sf, L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // independent driver-side re-implementation of the whole rule
    val texts = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val spans = texts.flatMap { case (id, t) =>
      t.split(" ", -1).grouped(L).zipWithIndex.map { case (g, i) =>
        (id, i.toLong, g.mkString(" ")) }
    }
    val bySpan = spans.groupBy(_._3)
    val keepOcc = bySpan.values.flatMap { occs =>
      if (occs.map(_._1).distinct.length == 1) occs
      else occs.filter(o => (o._1, o._2) == occs.map(x => (x._1, x._2)).min)
    }.map(o => (o._1, o._2)).toSet
    val expect = spans.groupBy(_._1).map { case (id, ss) =>
      val kept = ss.sortBy(_._2).filter(o => keepOcc((o._1, o._2)))
      id -> (ss.length.toLong, (ss.length - kept.length).toLong,
             kept.map(_._3).mkString(" "))
    }
    // NOTE: scalatest clues evaluate eagerly — keep this Option-safe
    val bad = expect.keys.find(k => got.get(k) != expect.get(k))
    assert(got == expect,
      s"first differing doc: ${bad.map(k => (k, got.get(k), expect.get(k)))}")
    // round-trip: a doc with nothing removed reproduces its text exactly
    val untouched = texts.filter { case (id, _) => got(id)._2 == 0L }
    assert(untouched.nonEmpty, "fixture lost its clean docs")
    untouched.foreach { case (id, t) =>
      assert(got(id)._3 == t, s"clean doc $id did not round-trip")
    }
    // all-but-one: every cross-doc duplicated span keeps exactly one
    // occurrence corpus-wide
    val dupSpans = bySpan.filter(_._2.map(_._1).distinct.length > 1).keySet
    val keptPerSpan = spans.filter(o => keepOcc((o._1, o._2)))
      .groupBy(_._3).view.mapValues(_.length).toMap
    dupSpans.foreach { sp =>
      assert(keptPerSpan(sp) == 1, s"dup span kept ${keptPerSpan(sp)} copies")
    }
  }

  test("spreadForCompute sizes width from the plan without executing (r18)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // a plan WITH an exchange: the pre-r18 df.rdd probe materialized every
    // upstream query stage under AQE just to read a partition count
    val withExchange = spark.range(0, 64).toDF("doc_id")
      .groupBy(col("doc_id")).count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    // drained on both sides, so only jobs posted by the probe itself count
    org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Dedup.spreadForCompute(withExchange)
      // a SMALL exchange-bearing frame gets the explicit spread (AQE
      // would coalesce it to ~1 partition at this size), decided from
      // planning-time stats — never by executing the upstream stages
      assert(out ne withExchange, "small shuffled frame should spread")
      org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
      assert(jobs.get() == 0,
        s"width probe launched ${jobs.get()} job(s) — the r17 advice regression")
    } finally { spark.sparkContext.removeSparkListener(listener); () }
    // a narrow raw scan still spreads to the session's parallelism
    val narrow = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val spread = Dedup.spreadForCompute(narrow)
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism, "narrow scan should spread")
    // streaming frames pass through (df.rdd would throw on them)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ms = MemoryStream[String](spark)
    val sdf = ms.toDF()
    assert(Dedup.spreadForCompute(sdf) eq sdf, "streaming frame must pass through")
  }

  test("metaRowMemo keeps one entry per index dir and re-reads a rebuilt meta row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("meta-memo").toString
    def build(perms: Int): Unit =
      Seq((perms, 32)).toDF("perms", "bands")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta.parquet")
    import scala.jdk.CollectionConverters._
    def entries = Dedup.metaRowMemo.keySet.asScala.count(_.startsWith(dir))
    build(128)
    assert(Dedup.readMetaRow(spark, dir).getInt(0) == 128)
    build(64)
    assert(Dedup.readMetaRow(spark, dir).getInt(0) == 64, "stale row after a rebuild")
    assert(entries == 1, s"memo holds $entries entries for one index dir")
  }

  test("estimatedWidth sums the widths of a union's children") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("union-width").toString
    Seq(1L, 2L, 3L).toDF("doc_id").write.parquet(s"$dir/a")
    Seq(4L, 5L).toDF("doc_id").write.parquet(s"$dir/b")
    val a = spark.read.parquet(s"$dir/a")
    val b = spark.read.parquet(s"$dir/b")
    def width(df: org.apache.spark.sql.DataFrame) =
      Dedup.estimatedWidth(df.queryExecution.sparkPlan, unknown = 1000)
    val (wa, wb) = (width(a), width(b))
    assert(wa >= 1 && wb >= 1)
    assert(width(a.union(b)) == wa + wb)
  }
}
