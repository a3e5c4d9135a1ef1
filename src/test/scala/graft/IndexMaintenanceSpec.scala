package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, IndexMaintenance, Similarity}

/** Laws of persisted-index maintenance (round-12 verdict tasks 3–4):
  * compaction is pure reorganization (the next increment cannot tell),
  * and deletion is indistinguishable from never having indexed the
  * deleted documents — signatures/fingerprints/codes are pure per-row
  * functions, so rewrite-filtering the tables equals a rebuild from the
  * surviving rows. */
class IndexMaintenanceSpec extends AnyFunSuite with SparkTestBase {

  private def tmpIdx(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"maint-spec-$tag-").toString

  private def docsAt(dir: String) = Tables(spark, dir, "documents")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("compaction shrinks part files and leaves the next increment unchanged") {
    val split = Dedup.incrementSplitAt(spark, sf)
    val idx = tmpIdx("compact")
    // several small appends to accumulate part files, like a day of ingest
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 200), idx, s"$idx#b0")
    Dedup.dedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 200 && col("doc_id") < 300),
      idx, s"$idx#b1", append = true).collect()
    Dedup.dedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= 300 && col("doc_id") < split),
      idx, s"$idx#b2", append = true).collect()
    val before = pairSet(Dedup.dedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idx, s"$idx#probe1", append = false))
    val filesBefore = IndexMaintenance.partFileCount(spark, s"$idx/postings.parquet")
    Dedup.compactIndex(spark, idx, nFiles = 2)
    val filesAfter = IndexMaintenance.partFileCount(spark, s"$idx/postings.parquet")
    assert(filesAfter < filesBefore && filesAfter <= 2,
      s"$filesBefore -> $filesAfter part files")
    val after = pairSet(Dedup.dedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idx, s"$idx#probe2", append = false))
    assert(after == before && before.nonEmpty)
  }

  test("compactIfNeeded fires on the file-count trigger and not below it") {
    val idx = tmpIdx("trigger")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < 300), idx, s"$idx#b0")
    val n = IndexMaintenance.partFileCount(spark, s"$idx/postings.parquet")
    assert(!Dedup.compactIfNeeded(spark, idx, maxPartFiles = n))
    assert(Dedup.compactIfNeeded(spark, idx, maxPartFiles = n - 1, nFiles = 1))
    assert(IndexMaintenance.partFileCount(spark, s"$idx/postings.parquet") == 1)
  }

  test("minhash delete: post-delete increment == increment against rebuild-without-deleted") {
    val split = Dedup.incrementSplitAt(spark, sf)
    import spark.implicits._
    val deleted = docsAt(sf).filter(col("doc_id") < split)
      .select(col("doc_id")).collect().map(_.getLong(0)).filter(_ % 7 == 0)
    val delDf = deleted.toSeq.toDF("doc_id")
    val idxA = tmpIdx("del-a")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < split), idxA, s"$idxA#old")
    Dedup.deleteFromDedupIndex(spark, idxA, delDf)
    val incA = pairSet(Dedup.dedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idxA, s"$idxA#new", append = false))
    val idxB = tmpIdx("del-b")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < split && !col("doc_id").isin(deleted: _*)),
      idxB, s"$idxB#old")
    val incB = pairSet(Dedup.dedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idxB, s"$idxB#new", append = false))
    assert(incA == incB && incB.nonEmpty,
      s"missing=${incB.keySet -- incA.keySet} extra=${incA.keySet -- incB.keySet}")
    // the deleted ids are really gone from both tables
    assert(spark.read.parquet(s"$idxA/signatures.parquet")
      .filter(col("doc_id").isin(deleted: _*)).count() == 0)
    assert(spark.read.parquet(s"$idxA/postings.parquet")
      .filter(col("doc_id").isin(deleted: _*)).count() == 0)
  }

  test("simhash delete: post-delete increment == increment against rebuild-without-deleted") {
    val split = Dedup.incrementSplitAt(spark, sf)
    import spark.implicits._
    val deleted = docsAt(sf).filter(col("doc_id") < split)
      .select(col("doc_id")).collect().map(_.getLong(0)).filter(_ % 5 == 0)
    val idxA = tmpIdx("shdel-a")
    Dedup.buildSimhashIndex(spark, docsAt(sf).filter(col("doc_id") < split), idxA)
    Dedup.deleteFromDedupIndex(spark, idxA, deleted.toSeq.toDF("doc_id"))
    val incA = Dedup.simhashDedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idxA, append = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idxB = tmpIdx("shdel-b")
    Dedup.buildSimhashIndex(spark,
      docsAt(sf).filter(col("doc_id") < split && !col("doc_id").isin(deleted: _*)), idxB)
    val incB = Dedup.simhashDedupIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idxB, append = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incA == incB)
  }

  test("embedding delete + compaction: next increment == against rebuild-without-deleted") {
    val split = Dedup.embIncrementSplitAt(spark, sf)
    import spark.implicits._
    def vecs = Tables(spark, sf, "embeddings")
    val deleted = vecs.filter(col("vec_id") < split)
      .select(col("vec_id")).collect().map(_.getLong(0)).filter(_ % 6 == 0)
    def cosSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val idxA = tmpIdx("embdel-a")
    Dedup.buildEmbeddingIndex(spark, vecs.filter(col("vec_id") < split), idxA)
    Dedup.deleteFromDedupIndex(spark, idxA, deleted.toSeq.toDF("doc_id"))
    Dedup.compactIndex(spark, idxA, nFiles = 2)
    val incA = cosSet(Dedup.embeddingDedupIncrement(spark,
      vecs.filter(col("vec_id") >= split), idxA, append = false))
    val idxB = tmpIdx("embdel-b")
    Dedup.buildEmbeddingIndex(spark,
      vecs.filter(col("vec_id") < split && !col("vec_id").isin(deleted: _*)), idxB)
    val incB = cosSet(Dedup.embeddingDedupIncrement(spark,
      vecs.filter(col("vec_id") >= split), idxB, append = false))
    assert(incA == incB && incB.nonEmpty,
      s"missing=${incB.keySet -- incA.keySet} extra=${incA.keySet -- incB.keySet}")
    assert(graft.operators.IndexFamily.readSnapshot(spark, s"$idxA/vectors.parquet")
      .filter(col("doc_id").isin(deleted: _*)).count() == 0)
  }

  test("delete re-derives cluster state for touched components only") {
    import spark.implicits._
    val idx = tmpIdx("delstate")
    Dedup.buildMinhashIndex(spark, docsAt(sf), idx, s"$idx#all")
    Dedup.buildClusterState(spark, idx)
    val state = spark.read.parquet(s"$idx/clusters.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state.nonEmpty, "fixture corpus should have near-dup clusters")
    // delete one clustered doc per cluster-size>=2 component, including a
    // ROOT (cluster minimum) so label re-election is exercised
    val byCluster = state.groupBy(_._2)
    val root = byCluster.head._2.map(_._1).min
    val nonRoot = byCluster.find(_._2.size >= 2)
      .map(_._2.map(_._1).max).getOrElse(root)
    val deleted = Set(root, nonRoot).toSeq
    Dedup.deleteFromDedupIndex(spark, idx, deleted.toDF("doc_id"))
    val after = spark.read.parquet(s"$idx/clusters.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // ground truth: state built in one shot over rebuild-without-deleted
    val full = tmpIdx("delstate-full")
    Dedup.buildMinhashIndex(spark,
      docsAt(sf).filter(!col("doc_id").isin(deleted: _*)), full, s"$full#surv")
    Dedup.buildClusterState(spark, full)
    val rebuilt = spark.read.parquet(s"$full/clusters.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(after == rebuilt,
      s"missing=${rebuilt -- after} extra=${after -- rebuilt}")
  }

  test("semantic delete + compaction: increment and re-elected state == rebuild-without-deleted") {
    import spark.implicits._
    val cents = graft.functions.VectorOps.hyperplanes(8, 64, seed = 31L)
    val split = 400L
    def vecs = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    def stateOf(d: String) = spark.read.parquet(s"$d/groups.parquet").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Int]("keep"))).toSet
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"),
        r.getAs[Long]("cluster_id"), r.getAs[Long]("cent_e4"),
        r.getAs[Int]("keep"))).toSet
    val idxA = tmpIdx("semdel-a")
    Dedup.buildSemanticIndex(spark, vecs.filter(col("vec_id") < split), idxA, cents)
    val state = stateOf(idxA)
    assert(state.nonEmpty, "fixture should contain semantic groups below the split")
    // delete a group's KEEP (forces keep re-election) and a group ROOT
    // (its vec_id == cluster_id — forces label re-election / group split)
    val keeper = state.find(_._3 == 1).get._1
    val root = state.map(_._2).min
    val deleted = Set(keeper, root).toSeq
    Dedup.deleteFromSemanticIndex(spark, idxA, deleted.toDF("vec_id"))
    Dedup.compactSemanticIndex(spark, idxA)
    val idxB = tmpIdx("semdel-b")
    Dedup.buildSemanticIndex(spark,
      vecs.filter(col("vec_id") < split && !col("vec_id").isin(deleted: _*)), idxB, cents)
    assert(stateOf(idxA) == stateOf(idxB),
      "post-delete state must equal the one-shot rebuild's (keeps re-elected)")
    assert(graft.operators.IndexFamily.readSnapshot(spark, s"$idxA/vectors.parquet")
      .filter(col("vec_id").isin(deleted: _*)).count() == 0)
    val incA = tuples(Dedup.semanticDedupIncrement(spark,
      vecs.filter(col("vec_id") >= split), idxA, append = false))
    val incB = tuples(Dedup.semanticDedupIncrement(spark,
      vecs.filter(col("vec_id") >= split), idxB, append = false))
    assert(incA == incB && incA.nonEmpty,
      s"missing=${incB -- incA} extra=${incA -- incB}")
  }

  test("span delete + compaction: state and next increment == rebuild-without-deleted") {
    val split = Dedup.incrementSplitAt(spark, sf)
    import spark.implicits._
    val deleted = docsAt(sf).filter(col("doc_id") < split)
      .select(col("doc_id")).collect().map(_.getLong(0)).filter(_ % 3 == 0)
    val delDf = deleted.toSeq.toDF("doc_id")
    val idxA = tmpIdx("spandel-a")
    Dedup.buildSpanIndex(spark, docsAt(sf).filter(col("doc_id") < split), idxA)
    Dedup.deleteFromSpanIndex(spark, idxA, delDf)
    Dedup.compactSpanIndex(spark, idxA)
    val idxB = tmpIdx("spandel-b")
    Dedup.buildSpanIndex(spark,
      docsAt(sf).filter(col("doc_id") < split && !col("doc_id").isin(deleted: _*)), idxB)
    def postingsOf(d: String) = spark.read.parquet(s"$d/postings.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def occsOf(d: String) = spark.read.parquet(s"$d/spans.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(postingsOf(idxA) == postingsOf(idxB),
      "post-delete aggregate != rebuild over survivors (canon/n_docs re-election)")
    assert(occsOf(idxA) == occsOf(idxB), "post-delete occurrences != rebuild")
    def incRows(idx: String) = Dedup.spanRemovalIncrement(spark,
      docsAt(sf).filter(col("doc_id") >= split), idx, append = false)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val a = incRows(idxA); val b = incRows(idxB)
    assert(a == b && a.nonEmpty, "next increment diverged after delete+compact")
  }

  test("span compact repairs a torn stream commit (double-merged batch) back to rebuild state") {
    // worst-case torn commit: the SAME batch delivered under two distinct
    // batchIds (ledger marker lost), so its occurrences duplicate AND its
    // counts double-merge into the aggregate
    val split = Dedup.incrementSplitAt(spark, sf)
    val idx = tmpIdx("spantorn")
    Dedup.buildSpanIndex(spark, docsAt(sf).filter(col("doc_id") < split), idx)
    val batch = docsAt(sf).filter(col("doc_id") >= split)
    graft.streaming.StreamDedup.spanBatch(batch, 0L, idx).collect()
    graft.streaming.StreamDedup.spanBatch(batch, 1L, idx).collect() // the replayed torn commit
    def postingsOf(d: String) = spark.read.parquet(s"$d/postings.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = tmpIdx("spantorn-oneshot")
    Dedup.buildSpanIndex(spark, docsAt(sf), oneShot)
    assert(postingsOf(idx) != postingsOf(oneShot),
      "fixture did not exercise the inflation (double-merge was a no-op?)")
    Dedup.compactSpanIndex(spark, idx)
    assert(postingsOf(idx) == postingsOf(oneShot),
      "compact must recompute the aggregate from the distinct occurrences")
    assert(spark.read.parquet(s"$idx/spans.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      spark.read.parquet(s"$oneShot/spans.parquet").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "compact must distinct the duplicated occurrences")
  }

  test("ivf-pq compaction: search results identical, fewer part files") {
    val idx = tmpIdx("pqcompact")
    val emb = Tables(spark, sf, "embeddings")
    val split = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val cents = Similarity.learnCentroids(spark, emb)
    val books = graft.functions.VectorOps.hyperplanes(8 * 16, 8, seed = 77L)
    Similarity.buildIvfPqIndexOver(spark, emb.filter(col("vec_id") <= split),
      idx, cents, books)
    Similarity.appendToIvfPqIndex(spark, emb.filter(col("vec_id") > split), idx)
    def rows() = Similarity.annIvfPqSearch(spark, sf, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    val before = rows()
    val filesBefore = IndexMaintenance.partFileCount(spark, s"$idx/codes.parquet")
    Similarity.compactIvfPqIndex(spark, idx, nFiles = 1)
    val filesAfter = IndexMaintenance.partFileCount(spark, s"$idx/codes.parquet")
    // cid-partitioned layout (round 13): compaction collapses each
    // partition's accumulated append files to one — the floor is one file
    // per non-empty cid partition, not one global file
    assert(filesAfter < filesBefore &&
      filesAfter <= graft.operators.IndexFamily.StateParts,
      s"$filesBefore -> $filesAfter part files")
    assert(rows() == before && before.nonEmpty)
  }

  test("ivf-pq delete: filtered codes == same-model rebuild over survivors") {
    val idx = tmpIdx("pqdel")
    val emb = Tables(spark, sf, "embeddings")
    val split = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val cents = Similarity.learnCentroids(spark, emb)
    val books = graft.functions.VectorOps.hyperplanes(8 * 16, 8, seed = 77L)
    Similarity.buildIvfPqIndexOver(spark, emb, idx, cents, books)
    Similarity.deleteFromIvfPqIndex(spark, idx,
      emb.filter(col("vec_id") <= split).select(col("vec_id")))
    def codeSet(dir: String) = spark.read.parquet(s"$dir/codes.parquet")
      .collect().map(r => (r.getLong(r.fieldIndex("vec_id")),
        r.getAs[Number](r.fieldIndex("cid")).longValue,
        r.getAs[Number](r.fieldIndex("sub_idx")).longValue,
        r.getAs[Number](r.fieldIndex("code")).longValue)).toSet
    val rebuilt = tmpIdx("pqdel-full")
    Similarity.buildIvfPqIndexOver(spark, emb.filter(col("vec_id") > split),
      rebuilt, cents, books)
    assert(codeSet(idx) == codeSet(rebuilt) && codeSet(idx).nonEmpty)
  }
}
