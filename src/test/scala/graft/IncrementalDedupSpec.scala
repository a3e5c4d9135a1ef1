package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Laws of the persisted/incremental MinHash-LSH index (round-11 verdict
  * task 1): an increment against an index must agree pair-for-pair and
  * estimate-for-estimate with the full-corpus recompute restricted to
  * pairs touching the batch — signatures are a pure per-document
  * function, so indexing cannot change what a pair estimates. */
class IncrementalDedupSpec extends AnyFunSuite with SparkTestBase {

  private def tmpIdx(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"mhidx-spec-$tag-").toString

  private def pairSet(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def docsAt(dir: String) = Tables(spark, dir, "documents")

  test("increment == full recompute restricted to pairs touching the new split") {
    val full = pairSet(Dedup.minhashLshPairs(spark, sf))
    val split = Dedup.incrementSplitAt(spark, sf)
    val expected = full.filter { case ((a, b), _) => a >= split || b >= split }
    val idx = tmpIdx("base")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < split), idx, s"$idx#old")
    val inc = pairSet(Dedup.dedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idx, s"$idx#new", append = false))
    assert(inc == expected,
      s"missing=${expected.keySet -- inc.keySet} extra=${inc.keySet -- expected.keySet}")
    assert(expected.nonEmpty, "split should leave pairs touching the new half")
  }

  test("two appended increments cover exactly the full pair set minus base-internal pairs") {
    val full = pairSet(Dedup.minhashLshPairs(spark, sf))
    // three-way split: base [0, 150), batch1 [150, 300), batch2 [300, ...)
    val idx = tmpIdx("append")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 150), idx, s"$idx#b0")
    val inc1 = pairSet(Dedup.dedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 150 && col("doc_id") < 300),
      idx, s"$idx#b1", append = true))
    val inc2 = pairSet(Dedup.dedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 300), idx, s"$idx#b2", append = true))
    // batch1 pairs touch [150,300) only vs base+itself; batch2 pairs touch
    // [300,...) vs everything earlier (the append made batch1 visible)
    val exp1 = full.filter { case ((a, b), _) =>
      Seq(a, b).exists(i => i >= 150 && i < 300) && a < 300 && b < 300 }
    val exp2 = full.filter { case ((a, b), _) => a >= 300 || b >= 300 }
    assert(inc1 == exp1,
      s"batch1: missing=${exp1.keySet -- inc1.keySet} extra=${inc1.keySet -- exp1.keySet}")
    assert(inc2 == exp2,
      s"batch2: missing=${exp2.keySet -- inc2.keySet} extra=${inc2.keySet -- exp2.keySet}")
    // disjoint emission, and the union is everything except base-internal
    assert(inc1.keySet.intersect(inc2.keySet).isEmpty)
    val baseInternal = full.filter { case ((a, b), _) => a < 150 && b < 150 }
    assert(inc1 ++ inc2 == full -- baseInternal.keySet)
  }

  test("empty new batch yields an empty result and appends nothing") {
    val idx = tmpIdx("empty")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 250), idx, s"$idx#old")
    val before = spark.read.parquet(s"$idx/signatures.parquet").count()
    val out = Dedup.dedupIncrement(spark,
      docsAt(sf).filter(lit(false)), idx, s"$idx#none", append = true)
    assert(out.count() == 0)
    assert(spark.read.parquet(s"$idx/signatures.parquet").count() == before)
  }

  test("increment bucket cap trims hot buckets (smaller cap can only shrink the pair set)") {
    val idx = tmpIdx("cap")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 250), idx, s"$idx#old")
    val batch = docsAt(sf).filter(col("doc_id") >= 250)
    val uncapped = pairSet(Dedup.dedupIncrement(spark, batch, idx, s"$idx#u",
      bucketCap = Int.MaxValue, append = false))
    val capped = pairSet(Dedup.dedupIncrement(spark, batch, idx, s"$idx#c",
      bucketCap = 1, append = false))
    // cap=1 forbids any bucket with >1 member — every candidate pair lived
    // in such a bucket, so the trim empties the result (LshSkewSpec's
    // corner, on the increment path)
    assert(capped.isEmpty && uncapped.nonEmpty)
  }

  private def hamSet(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("simhash increment == wide-tier recompute restricted to pairs touching the new split") {
    val full = hamSet(Dedup.simhashPairsWide(spark, sf))
    val split = Dedup.incrementSplitAt(spark, sf)
    val expected = full.filter { case ((a, b), _) => a >= split || b >= split }
    val idx = tmpIdx("sh")
    Dedup.buildSimhashIndex(spark, docsAt(sf).filter(col("doc_id") < split), idx)
    val inc = hamSet(Dedup.simhashDedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idx, append = false))
    assert(inc == expected,
      s"missing=${expected.keySet -- inc.keySet} extra=${inc.keySet -- expected.keySet}")
    assert(expected.nonEmpty)
  }

  test("simhash increment appends: second batch sees the first") {
    val full = hamSet(Dedup.simhashPairsWide(spark, sf))
    val idx = tmpIdx("sh2")
    Dedup.buildSimhashIndex(spark, docsAt(sf).filter(col("doc_id") < 150), idx)
    val inc1 = Dedup.simhashDedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 150 && col("doc_id") < 300), idx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc2 = Dedup.simhashDedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 300), idx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp1 = full.keySet.filter { case (a, b) =>
      Seq(a, b).exists(i => i >= 150 && i < 300) && a < 300 && b < 300 }
    val exp2 = full.keySet.filter { case (a, b) => a >= 300 || b >= 300 }
    assert(inc1 == exp1 && inc2 == exp2)
  }

  test("simhash increment refuses a different band-key layout") {
    val idx = tmpIdx("shmeta")
    Dedup.buildSimhashIndex(spark, docsAt(sf).filter(col("doc_id") < 50), idx,
      maxHamming = 3, nBlocks = 6)
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashDedupIncrement(spark,
        docsAt(sf).filter(col("doc_id") >= 50 && col("doc_id") < 60), idx,
        maxHamming = 2, nBlocks = 6, append = false)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  private def labelSet(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("cluster increment == full-closure labels on components touching the batch") {
    val split = Dedup.incrementSplitAt(spark, sf)
    val fullLabels = labelSet(Dedup.clusterPairs(
      Dedup.minhashLshPairs(spark, sf).select(col("doc_a"), col("doc_b"))))
    val touchingClusters = fullLabels.collect {
      case (doc, c) if doc >= split => c }.toSet
    val expected = fullLabels.filter { case (_, c) => touchingClusters(c) }
    val idx = tmpIdx("clusters")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < split), idx, s"$idx#old")
    Dedup.buildClusterState(spark, idx)
    val inc = labelSet(Dedup.clusterIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idx, s"$idx#new", append = false))
    assert(inc == expected,
      s"missing=${expected.toSet -- inc.toSet} extra=${inc.toSet -- expected.toSet}")
    assert(expected.nonEmpty, "split should touch at least one component")
  }

  test("appended cluster increments converge to the full-rebuild state") {
    val idx = tmpIdx("clstate")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 150), idx, s"$idx#c0")
    Dedup.buildClusterState(spark, idx)
    Dedup.clusterIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 150 && col("doc_id") < 300),
      idx, s"$idx#c1", append = true).collect()
    Dedup.clusterIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 300), idx, s"$idx#c2", append = true).collect()
    val incremental = spark.read.parquet(s"$idx/clusters.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // ground truth: state built in one shot over an index of the whole corpus
    val full = tmpIdx("clfull")
    Dedup.buildMinhashIndex(spark, docsAt(sf), full, s"$full#all")
    Dedup.buildClusterState(spark, full)
    val rebuilt = spark.read.parquet(s"$full/clusters.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(incremental == rebuilt,
      s"missing=${rebuilt -- incremental} extra=${incremental -- rebuilt}")
    assert(rebuilt.nonEmpty)
  }

  private def memberRows(idx: String): Set[(Long, Long)] =
    graft.operators.IndexFamily.readSnapshot(spark, s"$idx/members.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def clusterRows(idx: String): Set[(Long, Long)] =
    graft.operators.IndexFamily.readSnapshot(spark, s"$idx/clusters.parquet")
      .select(col("doc_id"), col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("member-lookup projection stays consistent with the labels across appends and deletes") {
    import spark.implicits._
    val idx = tmpIdx("clmem")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 150), idx, s"$idx#m0")
    Dedup.buildClusterState(spark, idx)
    assert(memberRows(idx) == clusterRows(idx), "build must derive the projection")
    Dedup.clusterIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 150 && col("doc_id") < 300),
      idx, s"$idx#m1", append = true).collect()
    Dedup.clusterIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 300), idx, s"$idx#m2", append = true).collect()
    assert(memberRows(idx) == clusterRows(idx),
      "increments must merge the projection in the same transaction")
    // takedown: deleted docs leave the projection, survivors re-labeled
    val victims = clusterRows(idx).toSeq.sortBy(_._1).take(2).map(_._1)
    Dedup.deleteFromDedupIndex(spark, idx, victims.toDF("doc_id"))
    assert(memberRows(idx) == clusterRows(idx),
      "deletes must merge the projection in the same transaction")
    assert(victims.forall(v => !memberRows(idx).exists(_._1 == v)))
  }

  test("a torn two-table commit (.txn marker) rebuilds the projection before trusting it") {
    val split = Dedup.incrementSplitAt(spark, sf)
    val idx = tmpIdx("cltxn")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < split), idx, s"$idx#t0")
    Dedup.buildClusterState(spark, idx)
    // simulate the crash window: labels merged, projection NOT — scramble
    // the projection to a wrong generation and leave the intent marker
    import spark.implicits._
    graft.operators.IndexFamily.writePartitioned(
      Seq((999999L, 999999L)).toDF("doc_id", "cluster_id"),
      s"$idx/members.parquet", "doc_id",
      graft.operators.IndexFamily.partsOf(spark, s"$idx/members.parquet"))
    val marker = new org.apache.hadoop.fs.Path(s"$idx/clusters.parquet.txn")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close()
    // the next increment repairs first, so its labels equal the
    // full-closure law regardless of the scrambled projection
    val fullLabels = labelSet(Dedup.clusterPairs(
      Dedup.minhashLshPairs(spark, sf).select(col("doc_a"), col("doc_b"))))
    val touching = fullLabels.collect { case (doc, c) if doc >= split => c }.toSet
    val expected = fullLabels.filter { case (_, c) => touching(c) }
    val inc = labelSet(Dedup.clusterIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idx, s"$idx#t1", append = false))
    assert(inc == expected,
      s"missing=${expected.toSet -- inc.toSet} extra=${inc.toSet -- expected.toSet}")
    assert(!fs.exists(marker), "repair must clear the intent marker")
    assert(memberRows(idx) == clusterRows(idx), "projection must be rebuilt")
  }

  test("a cluster state without its members projection rebuilds it at the next increment") {
    val idx = tmpIdx("clnoproj")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 150), idx, s"$idx#p0")
    Dedup.buildClusterState(spark, idx)
    // the crash window inside buildClusterState: labels written, the
    // projection not yet
    val members = new org.apache.hadoop.fs.Path(s"$idx/members.parquet")
    val fs = members.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(members, true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/members.parquet.parts"), false)
    Dedup.clusterIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 150 && col("doc_id") < 300),
      idx, s"$idx#p1", append = true).collect()
    assert(graft.operators.IndexFamily.partsOf(spark, s"$idx/members.parquet") > 0,
      "the increment must rebuild the missing projection")
    assert(memberRows(idx) == clusterRows(idx))
    val full = tmpIdx("clnoproj-full")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 300), full, s"$full#all")
    Dedup.buildClusterState(spark, full)
    assert(clusterRows(idx) == clusterRows(full),
      s"missing=${clusterRows(full) -- clusterRows(idx)} " +
        s"extra=${clusterRows(idx) -- clusterRows(full)}")
  }

  test("pipeline increments maintain the exact state: edges and keepers converge to a full rebuild") {
    import spark.implicits._
    // the gate corpus has ~no exact dups — force a known structure: two
    // batch docs duplicating an OLD doc, a batch-internal dup pair, and a
    // fresh unique doc
    val split = Dedup.incrementSplitAt(spark, sf)
    val old = docsAt(sf).filter(col("doc_id") < split)
      .select(col("doc_id"), col("text"))
    val oldRows = old.orderBy(col("doc_id")).limit(2).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val base = docsAt(sf).agg(max(col("doc_id"))).head().getLong(0) + 1
    val batch = Seq(
      (base + 0, oldRows(0)._2),          // dup of old keeper oldRows(0)
      (base + 1, oldRows(1)._2),          // dup of old keeper oldRows(1)
      (base + 2, "a wholly new unique document body"),
      (base + 3, "twin batch text that repeats"),
      (base + 4, "twin batch text that repeats"), // batch-internal dup
      (base + 5, oldRows(0)._2)           // second dup of the same old keeper
    ).toDF("doc_id", "text")
    val idx = tmpIdx("exstate")
    Dedup.buildMinhashIndex(spark, old, idx, s"$idx#e0")
    Dedup.buildClusterState(spark, idx)
    Dedup.buildExactState(spark, old, idx)
    val corpusFps = old.select(md5(col("text")).as("text_hash"))
    Dedup.dedupPipelineIncrement(spark, batch, corpusFps, idx, s"$idx#e1",
      append = true).collect()
    // the pipeline's ordering guard must NOT advance the watermark ahead
    // of the newness guard (round-14 review finding): a healthy monotone
    // pipeline batch rides the O(1) watermark path like the bare increment
    assert(graft.operators.IndexFamily.lastNewIdsPath == "watermark",
      s"pipeline batch took ${graft.operators.IndexFamily.lastNewIdsPath}")
    // ground truth: exact state built in one shot over corpus ∪ batch
    val full = tmpIdx("exfull")
    Dedup.buildExactState(spark, old.unionByName(batch), full)
    def edgesOf(d: String) = spark.read.parquet(s"$d/exact_edges.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def keepersOf(d: String) =
      graft.operators.IndexFamily.readSnapshot(spark, s"$d/exact_keepers.parquet")
        .select(col("text_hash"), col("keep_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(edgesOf(idx) == edgesOf(full),
      s"missing=${edgesOf(full) -- edgesOf(idx)} extra=${edgesOf(idx) -- edgesOf(full)}")
    assert(keepersOf(idx) == keepersOf(full))
    assert(edgesOf(idx).nonEmpty && edgesOf(idx).exists(_._2 == oldRows(0)._1),
      "batch dups of an old doc must point at the STORED keeper")
    assert(edgesOf(idx).contains((base + 4, base + 3)),
      "a batch-internal dup must point at the batch minimum")
    // and the deletion path keeps the keeper table consistent: delete a
    // keeper that has surviving members, expect re-election in BOTH tables
    val victim = oldRows(0)._1 // keeper of a 3-member group (two survive)
    Dedup.deleteFromDedupIndex(spark, idx, Seq(victim).toDF("doc_id"))
    val afterEdges = edgesOf(idx)
    assert(afterEdges.forall { case (a, b) => a != victim && b != victim })
    assert(keepersOf(idx).forall(_._2 != victim))
    assert(keepersOf(idx).exists(_._2 == base + 0),
      "the deleted keeper's group must re-elect its minimum surviving member")
    assert(afterEdges.contains((base + 5, base + 0)))
  }

  test("exact-state appends converge to the one-shot build; out-of-order " +
       "batch warns, stays connected; a keeper table without .parts is refused") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha body one"), (11L, "alpha body one"),   // corpus dup pair
      (12L, "beta body two"), (13L, "gamma body three")
    ).toDF("doc_id", "text")
    val idx = tmpIdx("keepappend")
    Dedup.buildExactState(spark, corpus, idx)
    val keepersPath = s"$idx/exact_keepers.parquet"
    val fs = new org.apache.hadoop.fs.Path(keepersPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing .maxid watermark is a normal state (re-seeded by a scan)
    fs.delete(new org.apache.hadoop.fs.Path(keepersPath + ".maxid"), false)
    // ascending append: converges to the one-shot rebuild
    val batch = Seq(
      (20L, "alpha body one"),     // dup of stored keeper 10
      (21L, "delta body four"),    // new hash group
      (22L, "delta body four")     // in-batch twin
    ).toDF("doc_id", "text")
    val hashed = batch.select(col("doc_id"), md5(col("text")).as("text_hash"))
    val groupMin = hashed.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("batch_min"))
    val admitted = Dedup.appendExactState(spark, hashed, groupMin, idx)
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(21L), s"got $admitted")
    assert(fs.exists(new org.apache.hadoop.fs.Path(keepersPath + ".maxid")),
      "the append must seed/advance the ordering watermark")
    val oneShot = tmpIdx("keepappend-full")
    Dedup.buildExactState(spark,
      corpus.unionByName(batch), oneShot)
    def keeperSet(d: String) =
      graft.operators.IndexFamily.readSnapshot(spark, s"$d/exact_keepers.parquet")
        .select(col("text_hash"), col("keep_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def edgeSet(d: String) = spark.read.parquet(s"$d/exact_edges.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keeperSet(idx) == keeperSet(oneShot))
    assert(edgeSet(idx) == edgeSet(oneShot))
    // OUT-OF-ORDER batch (ids below the watermark, none stored): warned,
    // tolerated, and the group stays CONNECTED (split safety) even though
    // the registered keeper is no longer the global minimum
    val low = Seq((5L, "delta body four")).toDF("doc_id", "text")
    val lowHashed = low.select(col("doc_id"), md5(col("text")).as("text_hash"))
    val lowMin = lowHashed.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("batch_min"))
    Dedup.appendExactState(spark, lowHashed, lowMin, idx).collect()
    // 5 must be linked into the delta group via the STORED keeper 21
    assert(edgeSet(idx).contains((5L, 21L)),
      s"out-of-order arrival must connect to the stored keeper: ${edgeSet(idx)}")
    // a keeper table without the .parts handshake (flattened to plain
    // parquet) is refused loudly, never read as an append delta
    fs.delete(new org.apache.hadoop.fs.Path(keepersPath), true)
    fs.delete(new org.apache.hadoop.fs.Path(keepersPath + ".parts"), false)
    keeperSet(oneShot).toSeq.toDF("text_hash", "keep_id")
      .coalesce(1).write.mode("overwrite").parquet(keepersPath)
    val e = intercept[IllegalArgumentException] {
      Dedup.appendExactState(spark, hashed, groupMin, idx)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("compactIndex / compactIfNeeded on an index with exact state " +
       "preserve the keeper set and fold the keeper delta") {
    import spark.implicits._
    // a near-dup index dir that ALSO carries exact state — the fullIngest
    // composition compaction maintains
    val d = docsAt(sf).filter(col("doc_id") < 60)
    val idx = tmpIdx("keepcompact")
    Dedup.buildMinhashIndex(spark, d, idx, s"$idx#b")
    Dedup.buildExactState(spark, d.select(col("doc_id"), col("text")), idx)
    val keepersPath = s"$idx/exact_keepers.parquet"
    def keeperSet = graft.operators.IndexFamily.readSnapshot(spark, keepersPath)
      .select(col("text_hash"), col("keep_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val before = keeperSet
    Dedup.compactIndex(spark, idx, nFiles = 2)
    assert(keeperSet == before, "compaction must preserve the keeper set")
    // three one-doc batches of fresh texts land three keeper delta files;
    // the telemetry trigger's keeper-delta leg folds them
    val fresh = (0 until 3).map(i => (1000L + i, s"fresh keeper body $i"))
    fresh.foreach { row =>
      val hashed = Seq(row).toDF("doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("text_hash"))
      Dedup.appendExactState(spark, hashed,
        hashed.groupBy(col("text_hash")).agg(min(col("doc_id")).as("batch_min")),
        idx).collect()
    }
    assert(graft.operators.IndexFamily.flatDeltaFiles(spark, keepersPath).size > 2)
    Dedup.compactIfNeeded(spark, idx, maxPartFiles = 2)
    assert(graft.operators.IndexFamily.flatDeltaFiles(spark, keepersPath).isEmpty,
      "compactIfNeeded must fold the keeper delta")
    val freshKeepers = fresh.toDF("doc_id", "text")
      .select(md5(col("text")), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(keeperSet == before ++ freshKeepers)
  }

  test("keeper-probe bloom ladder: stale-HIGH never false-accepts, stored " +
       "hashes are never stale-LOW, and the probe reads ~maybes partitions") {
    import spark.implicits._
    val IF = graft.operators.IndexFamily
    val corpus = (0L until 500L).map(i => (i, s"corpus body number $i")).toDF("doc_id", "text")
    val idx = tmpIdx("keeperbloom")
    Dedup.buildExactState(spark, corpus, idx)
    val keepersPath = s"$idx/exact_keepers.parquet"
    assert(IF.readIdBloom(spark, keepersPath).isDefined,
      "build must seed the keeper probe bloom")
    def appendBatch(rows: Seq[(Long, String)]): Set[Long] = {
      val b = rows.toDF("doc_id", "text")
      val hashed = b.select(col("doc_id"), md5(col("text")).as("text_hash"))
      val gm = hashed.groupBy(col("text_hash")).agg(min(col("doc_id")).as("batch_min"))
      Dedup.appendExactState(spark, hashed, gm, idx)
        .collect().map(_.getLong(0)).toSet
    }
    // an all-fresh batch: every hash bloom-misses → ~0 partitions read
    val fresh = (1000L until 1100L).map(i => (i, s"fresh body number $i"))
    assert(appendBatch(fresh) == fresh.map(_._1).toSet)
    assert(Dedup.lastKeeperProbePath == "bloom+pruned")
    assert(Dedup.lastKeeperProbeParts <= 5, // fpp·batch stragglers only
      s"fresh batch read ${Dedup.lastKeeperProbeParts} partitions")
    // a dup-carrying batch: only the dups' partitions are read
    val mixed = Seq((2000L, "corpus body number 7"), (2001L, "fresh body number 1001")) ++
      (2002L until 2050L).map(i => (i, s"other fresh body $i"))
    val admitted = appendBatch(mixed)
    assert(!admitted.contains(2000L) && !admitted.contains(2001L),
      s"stored-hash arrivals must be dropped: $admitted")
    assert(Dedup.lastKeeperProbeParts <= 7,
      s"mixed batch read ${Dedup.lastKeeperProbeParts} partitions")
    // the appends landed as a flat DELTA (covered by the probe's rung 3,
    // outside the bloom); FOLD it, then stale-LOW impossibility: every
    // BASE hkey must probe bloom-positive (bloom-before-merge discipline;
    // a stale-LOW bloom would silently register a second keeper)
    assert(IF.flatDeltaFiles(spark, keepersPath).nonEmpty,
      "appends must land as flat delta files")
    assert(graft.operators.Dedup.foldKeeperDelta(spark, idx))
    assert(IF.flatDeltaFiles(spark, keepersPath).isEmpty,
      "fold must drop the delta files")
    val (_, _, bytes) = IF.readIdBloom(spark, keepersPath).get
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val storedHkeys = IF.readSnapshot(spark, keepersPath)
      .select(col("hkey")).collect().map(_.getLong(0))
    assert(storedHkeys.forall(h => bf.mightContainLong(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, 42L))),
      "every folded hash must be bloom-contained (stale-LOW = corruption)")
    // and a folded table keeps dropping: re-arrivals of hashes that were
    // delta-only before the fold
    val refold = appendBatch(Seq((5000L, "fresh body number 1001"),
      (5001L, "brand new after fold")))
    assert(refold == Set(5001L), s"got $refold")
    // crash-window law: bloom advanced but files NOT landed (stale-HIGH).
    // The redelivered/later batch must still register the keeper exactly
    // once — the maybe goes to the pruned exact read, which finds nothing.
    val ghost = Seq((3000L, "ghost body never landed"))
    val ghostHkey = spark.range(1)
      .select(xxhash64(md5(lit("ghost body never landed")))).head().getLong(0)
    IF.withLease(spark, keepersPath) {
      IF.advanceIdBloom(spark, keepersPath, Seq(ghostHkey).toDF("hkey"), "hkey")
    }
    assert(appendBatch(ghost) == Set(3000L),
      "a stale-HIGH bloom must not drop a hash whose keeper never landed")
    val keepers = IF.readSnapshot(spark, keepersPath)
      .filter(col("keep_id") === 3000L).count()
    assert(keepers == 1L, s"ghost hash must register exactly one keeper, got $keepers")
  }

  test("pipeline increment == full production pipeline's keep list restricted to the batch") {
    import org.apache.spark.sql.functions.md5
    val split = Dedup.incrementSplitAt(spark, sf)
    val fullKeep = Dedup.dedupPipelineLsh(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val expected = fullKeep.filter(_ >= split)
    val idx = tmpIdx("pipe")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < split), idx, s"$idx#old")
    Dedup.buildClusterState(spark, idx)
    val corpusFps = docsAt(sf).filter(col("doc_id") < split)
      .select(md5(col("text")).as("text_hash"))
    val inc = Dedup.dedupPipelineIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), corpusFps, idx, s"$idx#new",
      append = false).collect().map(_.getLong(0)).toSet
    assert(inc == expected,
      s"missing=${expected -- inc} extra=${inc -- expected}")
    val batchSize = docsAt(sf).filter(col("doc_id") >= split).count()
    assert(expected.size < batchSize, "the pipeline should drop at least one batch doc")
  }

  test("cluster increment with a pairless batch is empty and leaves state unchanged") {
    val idx = tmpIdx("clempty")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 250), idx, s"$idx#old")
    Dedup.buildClusterState(spark, idx)
    val before = spark.read.parquet(s"$idx/clusters.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = Dedup.clusterIncrement(spark,
      docsAt(sf).filter(lit(false)), idx, s"$idx#noop", append = true)
    assert(out.count() == 0)
    val after = spark.read.parquet(s"$idx/clusters.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before)
  }

  test("increment refuses an index built under different LSH hyperparameters") {
    import spark.implicits._
    val idx = tmpIdx("meta")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 50), idx, s"$idx#old")
    // simulate an index from an older build with different (perms, bands)
    Seq((64, 16)).toDF("perms", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/meta.parquet")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupIncrement(spark,
        docsAt(sf).filter(col("doc_id") >= 50 && col("doc_id") < 60),
        idx, s"$idx#new", append = false)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  // ---- third index family: embedding SRP-LSH (round 12) ----

  private def vecsAt(dir: String) = Tables(spark, dir, "embeddings")

  private def cosSet(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def removalRows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap

  test("span increment == full removal restricted to the batch; appends converge; mismatch refuses") {
    val split = Dedup.incrementSplitAt(spark, sf)
    val expected = removalRows(Dedup.removeDuplicateSpans(spark, sf))
      .filter { case (id, _) => id >= split }
    val idx = tmpIdx("span")
    Dedup.buildSpanIndex(spark, docsAt(sf).filter(col("doc_id") < split), idx)
    val inc = removalRows(Dedup.spanRemovalIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idx, append = false))
    assert(inc == expected && expected.nonEmpty,
      s"first diff: ${expected.keys.find(k => inc.get(k) != expected.get(k))}")
    // hyperparameter handshake: a different spanLen must refuse loudly
    intercept[IllegalArgumentException] {
      Dedup.spanRemovalIncrement(spark,
        docsAt(sf).filter(col("doc_id") >= split), idx, spanLen = 25, append = false)
    }
    // two appended increments (in ARRIVAL ORDER — ids monotone across
    // batches, the enforced contract) converge to the one-shot rebuild
    def postingsOf(d: String) = spark.read.parquet(s"$d/postings.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def occsOf(d: String) = spark.read.parquet(s"$d/spans.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mid = split + (docsAt(sf).agg(max(col("doc_id"))).head().getLong(0)
      - split) / 2
    val idx2 = tmpIdx("span-append")
    Dedup.buildSpanIndex(spark, docsAt(sf).filter(col("doc_id") < split), idx2)
    Dedup.spanRemovalIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split && col("doc_id") < mid),
      idx2, append = true).collect()
    Dedup.spanRemovalIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= mid),
      idx2, append = true).collect()
    val oneShot = tmpIdx("span-oneshot")
    Dedup.buildSpanIndex(spark, docsAt(sf), oneShot)
    assert(postingsOf(idx2) == postingsOf(oneShot),
      "appended aggregate diverged from one-shot rebuild")
    assert(occsOf(idx2) == occsOf(oneShot),
      "appended occurrences diverged from one-shot rebuild")
    // the ordering contract REFUSES an out-of-order append (round-13
    // verdict task 3): a batch id at-or-below the indexed max could steal
    // a canon and invalidate already-shipped clean text
    val ord = intercept[IllegalArgumentException] {
      Dedup.spanRemovalIncrement(spark,
        docsAt(sf).filter(col("doc_id") >= split - 10 && col("doc_id") < split),
        idx2, append = true)
    }
    assert(ord.getMessage.contains("id watermark"),
      s"unexpected refusal message: ${ord.getMessage}")
    assert(postingsOf(idx2) == postingsOf(oneShot),
      "a refused append must not disturb the aggregate")
    // empty batch: empty output, aggregate content unchanged
    val before = postingsOf(idx2)
    val emptyOut = Dedup.spanRemovalIncrement(spark,
      docsAt(sf).filter(col("doc_id") < -1), idx2, append = true)
    assert(emptyOut.count() == 0)
    assert(postingsOf(idx2) == before, "empty batch disturbed the aggregate")
  }

  test("embedding increment == full recompute restricted to pairs touching the new split") {
    val full = cosSet(Dedup.embeddingNearDupPairs(spark, sf))
    val split = Dedup.embIncrementSplitAt(spark, sf)
    val expected = full.filter { case ((a, b), _) => a >= split || b >= split }
    val idx = tmpIdx("emb")
    Dedup.buildEmbeddingIndex(spark, vecsAt(sf).filter(col("vec_id") < split), idx)
    val inc = cosSet(Dedup.embeddingDedupIncrement(spark,
      vecsAt(sf).filter(col("vec_id") >= split), idx, append = false))
    assert(inc == expected,
      s"missing=${expected.keySet -- inc.keySet} extra=${inc.keySet -- expected.keySet}")
    assert(expected.nonEmpty, "split should leave pairs touching the new half")
  }

  test("embedding increment appends: second batch sees the first") {
    val full = cosSet(Dedup.embeddingNearDupPairs(spark, sf))
    val idx = tmpIdx("emb2")
    Dedup.buildEmbeddingIndex(spark, vecsAt(sf).filter(col("vec_id") < 150), idx)
    val inc1 = cosSet(Dedup.embeddingDedupIncrement(spark,
      vecsAt(sf).filter(col("vec_id") >= 150 && col("vec_id") < 300), idx))
    val inc2 = cosSet(Dedup.embeddingDedupIncrement(spark,
      vecsAt(sf).filter(col("vec_id") >= 300), idx))
    val exp1 = full.filter { case ((a, b), _) =>
      Seq(a, b).exists(i => i >= 150 && i < 300) && a < 300 && b < 300 }
    val exp2 = full.filter { case ((a, b), _) => a >= 300 || b >= 300 }
    assert(inc1 == exp1 && inc2 == exp2,
      s"b1 missing=${exp1.keySet -- inc1.keySet} b2 missing=${exp2.keySet -- inc2.keySet}")
  }

  test("embedding increment refuses a different hyperplane layout") {
    val idx = tmpIdx("embmeta")
    Dedup.buildEmbeddingIndex(spark, vecsAt(sf).filter(col("vec_id") < 100), idx)
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingDedupIncrement(spark,
        vecsAt(sf).filter(col("vec_id") >= 100 && col("vec_id") < 120), idx,
        nBands = 8, bandBits = 8, append = false)
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("stream-ingested exact state == one-shot rebuild; index-backed leakage " +
       "split needs no refresh (round-15, fullIngest maintainExactState)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val TA = graft.operators.TextAnalysis
    // corpus: the real bottom split (large enough that the cluster state
    // is non-empty); planted EXACT duplicates cross the corpus/stream
    // boundary, the batch boundary, and sit within one batch
    val split = Dedup.incrementSplitAt(spark, sf)
    val corpusDf = docsAt(sf).filter(col("doc_id") < split)
      .select(col("doc_id"), col("text"))
    val corpus = corpusDf.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val passing = TA.gopherGatesOn(spark, corpusDf, carry = Seq("text"))
      .filter(graft.operators.Curation.SyntheticGates.map(col).reduce(_ && _))
      .select(col("text")).collect().map(_.getString(0)).distinct.take(5)
    assert(passing.length >= 5, "fixture needs 5 gate-passing corpus texts")
    // fresh texts: gate-passing corpus texts with a unique alpha tail —
    // new hash groups the STREAM registers (near-dup similarity to their
    // base is irrelevant to the exact leg, which runs first)
    val fresh = passing.drop(2).zipWithIndex.map { case (t, i) =>
      s"$t uniquetail${('a' + i).toChar}" }
    val b1 = Seq((2000L, passing(0)),          // exact twin of a corpus doc
                 (2001L, fresh(0)), (2002L, fresh(1)),
                 (2003L, fresh(1)))            // in-batch twin pair
    val b2 = Seq((3000L, fresh(0)),            // twin of an EARLIER batch's doc
                 (3001L, passing(1)),          // twin of a corpus doc
                 (3002L, fresh(2)))
    val idx = tmpIdx("streamexact")
    val spanIdx = tmpIdx("streamexact-span")
    Dedup.buildMinhashIndex(spark, corpusDf, idx, s"$idx#base")
    Dedup.buildClusterState(spark, idx)
    Dedup.buildExactState(spark, corpusDf, idx)
    Dedup.buildSpanIndex(spark, corpusDf, spanIdx)
    val corpusFps = corpusDf.select(TA.fpMd5(col("text")).as("fp_md5"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val admitted = scala.collection.mutable.Set.empty[Long]
    val q = graft.streaming.DocPipeline.fullIngest(
        input.toDF().toDF("doc_id", "text", "event_time"), corpusFps,
        idx, spanIdx, s"$idx#stream", maintainExactState = true) { out =>
      admitted ++= out.select(col("doc_id")).collect().map(_.getLong(0))
    }.start()
    try {
      input.addData(b1.map { case (id, t) => (id, t, t0) }: _*)
      q.processAllAvailable()
      input.addData(b2.map { case (id, t) => (id, t, t0) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the exact leg actually dropped the planted twins at ingest
    assert((admitted & Set(2000L, 2003L, 3000L, 3001L)).isEmpty,
      s"planted exact duplicates must not be admitted, got $admitted")
    // law 1: the maintained edges equal the one-shot rebuild over
    // corpus ∪ streamed docs (ascending-id arrival — the shared ingest
    // ordering contract, so keepers agree with the global minimum)
    val oneShot = tmpIdx("streamexact-oneshot")
    Dedup.buildExactState(spark, (corpus ++ b1 ++ b2).toDF("doc_id", "text"),
      oneShot)
    def edges(d: String) = spark.read.parquet(s"$d/exact_edges.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(idx) == edges(oneShot),
      s"stream-maintained=${edges(idx)} one-shot=${edges(oneShot)}")
    // law 2: an index-backed split over the grown universe keeps every
    // exact-dup group on one side with NO buildExactState refresh —
    // the round-14 footgun this flag closes
    val unionDir = tmpIdx("streamexact-universe")
    (corpus ++ b1 ++ b2).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$unionDir/documents.parquet")
    val sides = graft.operators.Sampling
      .leakageSafeSplitFromIndex(spark, unionDir, idx)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    (corpus ++ b1 ++ b2).groupBy(_._2).values.filter(_.size > 1).foreach { grp =>
      assert(grp.map(x => sides(x._1)).distinct.size == 1,
        s"exact-dup group ${grp.map(_._1)} split across sides")
    }
  }
}
