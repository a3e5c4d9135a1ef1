package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.util.sketch.BloomFilter

/** The shared discipline of the persisted index families (round-13
  * verdict task 7, factoring what MinHash / SimHash / embedding /
  * semantic / span each hand-rolled in rounds 11–12):
  *
  *  - the 2-million-row BROADCAST convention ([[maybeBroadcast]]) — the
  *    one trust bound every keyed probe and collected edge list shares;
  *  - SIZED appends ([[appendFileCount]]) — an unsized append adds a full
  *    shuffle-width of part files per micro-batch regardless of batch
  *    size (measured in round 12: 32 files per 250-doc append);
  *  - immutable part-file SNAPSHOTS ([[snapshotFiles]]) — reading through
  *    an explicit file list is what makes append-after-read and
  *    rewrite-swap safe (a directory read re-lists at execution time);
  *  - the maintenance LEASE (round-13 verdict task 5) — an append racing
  *    a rewrite-swap would be silently LOST from the new generation, so
  *    the race must REFUSE instead: [[withLease]] marks a table as under
  *    maintenance and [[requireNoLease]] makes every increment/append
  *    check it first;
  *  - HASH-PARTITIONED decision state (round-13 verdict task 1) — the
  *    per-batch state rewrite was the last cost term proportional to
  *    index size in the daily-ingest path; [[mergeTouched]] rewrites only
  *    the partitions that hold touched keys, through the same
  *    crash-parked two-rename swap as [[IndexMaintenance.rewriteSwap]].
  *
  * Partitioned-state layout: a state table at `path` is a directory of
  * Hive-style `_p=K/` subdirectories, `K = pmod(key, nParts)`, plus a
  * one-line `path + ".parts"` file pinning `nParts` (the layout
  * handshake — a merge against a different modulus would scatter rows
  * into wrong partitions, so it refuses loudly, the meta.parquet
  * convention). The partition value is pure directory layout: every data
  * file carries the full row schema, so explicit-file-list reads see the
  * clean schema and direct `spark.read.parquet(path)` still works via
  * partition discovery (the extra `_p` column is appended last, after
  * the state columns).
  *
  * Crash story of a partitioned merge: partitions swap one at a time via
  * park-old / rename-new / drop-old, so a crash leaves EACH partition
  * wholly at its old or new generation (never half-written), but
  * different partitions may sit at different generations — the torn
  * window is per-partition, not per-table. That is the same contract the
  * streaming replay ledger already covers: the batch is redelivered and
  * re-merged, which is label-idempotent for cluster state (star edges
  * preserve connectivity, so re-merging produces identical labels) and
  * decision-neutral-then-compact-repaired for the span aggregate (the
  * [[graft.operators.Dedup.compactSpanIndex]] recompute contract). An
  * orphaned `.old` partition (crash between the two renames) is restored
  * by [[repairTorn]], which every merge runs first.
  */
object IndexFamily {

  /** Default partition count for persisted decision state. Sixteen is
    * sized for the test corpora; a 100 TB deployment raises it with the
    * key cardinality (the builders take it as a parameter) — the merge
    * cost scales with TOUCHED partitions either way. */
  val StateParts = 16

  /** The broadcast trust bound shared by every keyed probe, collected
    * edge list, and candidate set in the index families: rows ≤ 2M
    * broadcast (scan the big side in place, never shuffle it); above the
    * bound fall back to the keyed shuffle rather than risk the 8 GB
    * broadcast hard limit. */
  def maybeBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rows <= 2000000L) broadcast(df) else df

  /** Part files an append of `rows` rows deserves: one per ~1M rows,
    * capped at 32 (the local shuffle width). */
  def appendFileCount(rows: Long): Int =
    math.min(32L, rows / 1000000L + 1L).toInt

  private def fsFor(s: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def hp(path: String) = new org.apache.hadoop.fs.Path(path)

  // -----------------------------------------------------------------
  // Maintenance lease (round-13 verdict task 5)
  // -----------------------------------------------------------------

  /** The lease marker is a SIBLING of the table directory (inside it, an
    * overwrite would wipe it mid-maintenance). */
  def leasePath(tablePath: String): String = tablePath + ".maintenance"

  /** Take the maintenance lease on a table — atomic create, refusing
    * loudly if another maintenance op holds it. A lease left by a CRASHED
    * maintenance op must be released by an operator after inspecting the
    * table's `.rewrite`/`.old` siblings (they say exactly how far the
    * swap got — see [[IndexMaintenance.rewriteSwap]]'s crash story);
    * auto-expiry would reintroduce the lost-append race the lease exists
    * to close. */
  def acquireLease(s: SparkSession, tablePath: String): Unit = {
    val fs = fsFor(s, tablePath)
    val p = hp(leasePath(tablePath))
    val ok = try { fs.create(p, false).close(); true }
             catch { case _: java.io.IOException => false }
    require(ok, s"$tablePath is under maintenance (lease at ${leasePath(tablePath)}) — " +
      "another compaction/deletion/merge holds the table; retry after it completes, " +
      "or remove a stale lease left by a crashed run after checking for .rewrite/.old residue")
  }

  def releaseLease(s: SparkSession, tablePath: String): Unit =
    fsFor(s, tablePath).delete(hp(leasePath(tablePath)), false)

  /** The append-side half of the exclusion: every increment/append checks
    * the lease before touching the table, so an ingest racing a
    * maintenance rewrite refuses instead of silently losing its rows from
    * the new generation. */
  def requireNoLease(s: SparkSession, tablePath: String, op: String): Unit =
    require(!fsFor(s, tablePath).exists(hp(leasePath(tablePath))),
      s"$op refused: $tablePath is under maintenance (lease at ${leasePath(tablePath)}) — " +
        "an append racing a rewrite-swap would be lost from the new generation")

  /** Run `body` holding the table's maintenance lease. */
  def withLease[A](s: SparkSession, tablePath: String)(body: => A): A = {
    acquireLease(s, tablePath)
    try body finally releaseLease(s, tablePath)
  }

  // -----------------------------------------------------------------
  // Snapshots (flat or partitioned layout)
  // -----------------------------------------------------------------

  private val PartDir = "^_p=(\\d+)$".r
  private val PartDirOld = "^_p=(\\d+)\\.old$".r

  /** Immutable part-file snapshot of a table directory, flat or
    * partitioned. For a partitioned table a partition whose live dir is
    * missing but whose `.old` park exists (a crash between a swap's two
    * renames) contributes its `.old` files — the pre-merge generation,
    * which the replay contract re-merges. */
  def snapshotFiles(s: SparkSession, path: String): Seq[String] = {
    val fs = fsFor(s, path)
    val entries = fs.listStatus(hp(path)).toSeq
    val flat = entries.filter(e => e.isFile && e.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    val live = entries.collect {
      case e if e.isDirectory && PartDir.findFirstIn(e.getPath.getName).isDefined =>
        e.getPath.getName.stripPrefix("_p=").toInt -> e.getPath
    }.toMap
    val parked = entries.collect {
      case e if e.isDirectory && PartDirOld.findFirstIn(e.getPath.getName).isDefined =>
        e.getPath.getName.stripPrefix("_p=").stripSuffix(".old").toInt -> e.getPath
    }.toMap
    val partFiles = (live.keySet ++ parked.keySet).toSeq.sorted.flatMap { k =>
      val dir = live.getOrElse(k, parked(k))
      fs.listStatus(dir).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
    }
    val files = flat ++ partFiles
    require(files.nonEmpty, s"$path holds no parquet part files — not a built index")
    files
  }

  /** Read a table through its snapshot file list (clean schema — the
    * `_p` layout column is never in the data files). */
  def readSnapshot(s: SparkSession, path: String): DataFrame =
    s.read.parquet(snapshotFiles(s, path): _*)

  /** Root-level flat `.parquet` files of a PARTITIONED table — the
    * LSM-style append DELTA a high-frequency writer lands between folds
    * (one or two files per batch, no shuffle, no per-partition file
    * spray; [[snapshotFiles]] already unions them into every full read).
    * A pruned prober reads `partitionFiles(touched) ++ flatDeltaFiles`;
    * a periodic fold merges the delta into its partitions. */
  def flatDeltaFiles(s: SparkSession, path: String): Seq[String] =
    fsFor(s, path).listStatus(hp(path)).toSeq
      .filter(e => e.isFile && e.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)

  /** Whether `path` carries the partitioned-layout handshake. Each table
    * has one layout, so this only tells apart FAMILIES that share a code
    * path (the embedding family's partitioned `vectors.parquet` vs the
    * flat MinHash/SimHash per-doc tables). Branch on this, NOT on
    * directory shape: a flat table's own data files are root-level
    * `.parquet` and would be mistaken for an LSM delta. */
  def hasParts(s: SparkSession, path: String): Boolean =
    fsFor(s, path).exists(hp(partsFile(path)))

  /** Fold a partitioned table's flat LSM append delta into its hash
    * partitions — the generic compaction step of the append-as-delta
    * discipline (the keeper-table ladder's fold, shared since round 17
    * with the embedding/semantic vector tables). The delta file list is
    * captured ONCE up front and only those files are merged and deleted,
    * so a concurrent append's fresh delta file is never folded-and-kept
    * nor dropped-unfolded; a crash after the merge but before the delete
    * leaves duplicate rows — decision-neutral (the next fold's
    * `.distinct()` removes them). The deletion runs under the table
    * lease: a concurrent prober lists AND materializes the delta inside
    * its own lease window, so a leased delete can never unlink files a
    * prober still holds lazy reads over. Returns whether a delta
    * existed. */
  def foldDelta(s: SparkSession, path: String, keyCol: String): Boolean = {
    val deltaFiles = flatDeltaFiles(s, path)
    if (deltaFiles.isEmpty) return false
    foldDeltaFiles(s, path, keyCol, deltaFiles)
    true
  }

  /** The fold's merge+delete core over a pre-captured delta file list —
    * split out so [[graft.operators.Dedup.foldKeeperDelta]] can insert
    * its bloom rebuild between the capture and the merge (the bloom must
    * cover exactly base ∪ captured-delta BEFORE the merge lands, or a
    * file appended mid-fold would be folded into the base under a bloom
    * that lacks it — the stale-LOW false-accept direction). */
  private[graft] def foldDeltaFiles(s: SparkSession, path: String,
                                    keyCol: String,
                                    deltaFiles: Seq[String]): Unit = {
    val delta = graft.Checkpoints.local(s.read.parquet(deltaFiles: _*))
    val deltaKeys = delta.select(col(keyCol)).distinct()
    val parts = touchedPartitions(s, path, deltaKeys, keyCol)
    // partitioned rows SHARING a touched key must re-enter the merge
    // (mergeTouched replaces by key)
    val keep = readPartitions(s, path, parts)
      .join(deltaKeys, Seq(keyCol), "left_semi")
    mergeTouched(s, path, keyCol, deltaKeys,
      keep.unionByName(delta).distinct())
    withLease(s, path) {
      val fs = fsFor(s, path)
      deltaFiles.foreach(f => fs.delete(hp(f), false))
    }
    graft.Checkpoints.release(delta)
    System.err.println(s"[graft] foldDelta($path): folded " +
      s"${deltaFiles.size} delta files into ${parts.size}/" +
      s"${partsOf(s, path)} partitions")
  }

  // -----------------------------------------------------------------
  // Hash-partitioned decision state (round-13 verdict task 1)
  // -----------------------------------------------------------------

  /** The one partition function: non-negative modulus of the probe key
    * (state keys can be negative — span hashes are full 64-bit). */
  def partOf(key: Column, nParts: Int): Column =
    pmod(key, lit(nParts.toLong)).cast("int")

  private def partsFile(path: String) = path + ".parts"
  private def partsNextFile(path: String) = path + ".parts.next"
  private def oldDirOf(path: String) = path + ".olddir"

  // sidecar/residue path builders, PUBLIC — single-sourced so tooling
  // (graft.IndexAdmin) can never drift from the conventions it inspects
  // and repairs (round-14 review finding: a re-spelled name would make
  // the residue classifier silently report CLEAN on a dirty table)
  def rewriteStagingPath(tablePath: String): String = tablePath + ".rewrite"
  def partsNextPath(tablePath: String): String = partsNextFile(tablePath)
  def oldDirPath(tablePath: String): String = oldDirOf(tablePath)
  /** Cross-table transaction intent marker (the clusters+members commit). */
  def txnMarkerPath(tablePath: String): String = tablePath + ".txn"

  /** Names of this table's parked `_p=K.old` partition dirs (torn-swap
    * residue) — the same pattern [[repairTorn]] repairs. */
  def parkedPartitionNames(s: SparkSession, tablePath: String): Seq[String] = {
    val fs = fsFor(s, tablePath)
    if (!fs.exists(hp(tablePath))) Seq.empty
    else fs.listStatus(hp(tablePath)).toSeq
      .filter(e => e.isDirectory && PartDirOld.findFirstIn(e.getPath.getName).isDefined)
      .map(_.getPath.getName)
  }

  /** Pin the layout modulus next to the table (the layout handshake). */
  private def writeParts(s: SparkSession, path: String, nParts: Int): Unit = {
    val out = fsFor(s, path).create(hp(partsFile(path)), true)
    out.write(nParts.toString.getBytes("UTF-8")); out.close()
  }

  /** The pinned layout modulus; refuses on an unpartitioned table (a
    * merge against an unknown modulus would scatter rows wrongly). */
  def partsOf(s: SparkSession, path: String): Int = {
    val fs = fsFor(s, path)
    require(!fs.exists(hp(partsNextFile(path))),
      s"$path has a torn layout migration (${partsNextFile(path)} exists) — " +
        "a crash interrupted repartitionState; run graft.IndexAdmin to repair " +
        "before reading or merging this table's layout")
    val p = hp(partsFile(path))
    require(fs.exists(p),
      s"$path has no .parts layout handshake — not a partitioned state table; " +
        "rebuild the index")
    val in = fs.open(p)
    val n = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
            finally in.close()
    require(n > 0, s"$path .parts handshake corrupt: $n")
    n
  }

  /** Write (or fully rewrite) a partitioned state table: `_p=K/` dirs
    * plus the `.parts` handshake. Column order of `df` is preserved in
    * the data files (`_p` is layout only). */
  def writePartitioned(df: DataFrame, path: String, keyCol: String,
                       nParts: Int = StateParts): Unit = {
    df.withColumn("_p", partOf(col(keyCol), nParts))
      .repartition(col("_p"))
      .write.partitionBy("_p").mode("overwrite").parquet(path)
    writeParts(df.sparkSession, path, nParts)
  }

  /** Append a batch into an existing partitioned table's layout: rows land
    * as new files inside their `_p=K` directories (one per touched
    * partition per append — the batch-sized-append discipline), leaving
    * every existing file untouched. Checks the maintenance lease. */
  def appendPartitioned(df: DataFrame, path: String, keyCol: String,
                        op: String): Unit = {
    val s = df.sparkSession
    val nParts = partsOf(s, path)
    // the append HOLDS the lease for its write (not a check-then-act
    // pre-check): a rewrite starting between a lease check and the files
    // landing would snapshot without them and silently drop them from the
    // new generation (round-13 review finding) — holding the same mutex
    // fully serializes appends with maintenance
    withLease(s, path) {
      df.withColumn("_p", partOf(col(keyCol), nParts))
        .repartition(col("_p"))
        .write.partitionBy("_p").mode("append").parquet(path)
    }
  }

  /** The partitions a key set hashes into (≤ nParts tiny rows to the
    * driver) — the increments' probe-pruning step, single-sourced. */
  def touchedPartitions(s: SparkSession, path: String, keys: DataFrame,
                        keyCol: String): Seq[Int] =
    keys.select(partOf(col(keyCol), partsOf(s, path)).as("_p"))
      .distinct().collect().map(_.getInt(0)).toSeq

  /** Snapshot files of ONLY the given partitions — what makes a probe or
    * merge read ∝ touched partitions instead of ∝ state. Missing live
    * dirs fall back to `.old` parks (see [[snapshotFiles]]); a partition
    * with neither contributes nothing (hash-empty is legal). */
  def partitionFiles(s: SparkSession, path: String, parts: Seq[Int]): Seq[String] = {
    val fs = fsFor(s, path)
    parts.flatMap { k =>
      val live = hp(s"$path/_p=$k")
      val old = hp(s"$path/_p=$k.old")
      val dir = if (fs.exists(live)) Some(live)
                else if (fs.exists(old)) Some(old) else None
      dir.toSeq.flatMap(d => fs.listStatus(d)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString))
    }
  }

  /** Read only the given partitions (empty file list → empty frame with
    * the table's schema, read from any one existing file). */
  def readPartitions(s: SparkSession, path: String, parts: Seq[Int]): DataFrame = {
    val files = partitionFiles(s, path, parts)
    if (files.nonEmpty) s.read.parquet(files: _*)
    else readSnapshot(s, path).limit(0)
  }

  /** Restore any torn partition swaps (crash between a swap's renames):
    * an orphaned `_p=K.old` with no live dir is promoted back; a shadowed
    * one (live dir present) is a completed swap's residue and is dropped.
    * A stale `.rewrite` staging dir from a crashed merge is dropped too
    * (its content is re-derived by the re-merge). */
  def repairTorn(s: SparkSession, path: String): Unit = {
    val fs = fsFor(s, path)
    fs.delete(hp(path + ".rewrite"), true)
    fs.listStatus(hp(path)).foreach { e =>
      if (e.isDirectory && PartDirOld.findFirstIn(e.getPath.getName).isDefined) {
        val live = hp(s"$path/${e.getPath.getName.stripSuffix(".old")}")
        if (!fs.exists(live)) require(fs.rename(e.getPath, live),
          s"could not restore torn partition ${e.getPath}")
        else fs.delete(e.getPath, true)
      }
    }
  }

  /** The partition-scoped untouched-∪-merged state rewrite — what every
    * family's increment, delete, and stream leg now rides instead of the
    * full-table rewrite: rows whose key is in `touchedKeys` are REPLACED
    * by `newRows` (which may also carry keys new to the table); rows in
    * partitions no touched or new key hashes into are NEVER READ, never
    * rewritten, and keep their files byte-identical.
    *
    * Protocol: (1) repair torn residue; (2) compute the affected
    * partition set (≤ nParts tiny rows to the driver); (3) write the
    * affected partitions' new content — (old rows in affected partitions
    * minus touched keys) ∪ newRows — to a `.rewrite` staging dir in ONE
    * job; (4) under the table lease, swap each affected partition via
    * park-old / rename-new / drop-old. A crash in (4) leaves each
    * partition wholly old or wholly new (see the object doc's torn-merge
    * contract). Returns the affected partition count (merge-cost
    * telemetry — the §8.5.9 probe reads it). */
  def mergeTouched(s: SparkSession, path: String, keyCol: String,
                   touchedKeys: DataFrame, newRows: DataFrame): Int = {
    val nParts = partsOf(s, path)
    val affected = touchedKeys.select(col(keyCol))
      .unionByName(newRows.select(col(keyCol)))
      .select(partOf(col(keyCol), nParts).as("_p")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) return 0
    val fs = fsFor(s, path)
    // the lease covers the whole repair→read→stage→swap window (the
    // rewriteSwap contract): a maintenance rewrite landing between our
    // snapshot and our swap would otherwise be silently undone by the
    // swap — and repairTorn must run INSIDE it, or a second merge's
    // repair would delete a live merge's staging and promote its parks
    // mid-swap (losing the partition entirely; round-13 review finding)
    withLease(s, path) {
      repairTorn(s, path)
      val stored = readPartitions(s, path, affected)
      // the using-column anti-join moves the key column FIRST — re-select
      // the stored order so merged files keep the build's column layout
      // (positional readers and cross-generation schema stability)
      val storedOrder = stored.columns.map(col).toSeq
      val oldKeep = stored
        .join(touchedKeys.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
        .select(storedOrder: _*)
      val staging = path + ".rewrite"
      oldKeep.unionByName(newRows.select(storedOrder: _*))
        .withColumn("_p", partOf(col(keyCol), nParts))
        .repartition(col("_p"))
        .write.partitionBy("_p").mode("overwrite").parquet(staging)
      // merge-cost telemetry (the §8.5.9 evidence line): state bytes the
      // merge actually rewrote. No full-table denominator: it would list
      // every TABLE file on each merge, a cost the merge itself avoids
      val affectedBytes = partitionFiles(s, path, affected)
        .map(f => fs.getFileStatus(hp(f)).getLen).sum
      affected.foreach { k =>
        val live = hp(s"$path/_p=$k")
        val fresh = hp(s"$staging/_p=$k")
        val park = hp(s"$path/_p=$k.old")
        if (fs.exists(live))
          require(fs.rename(live, park), s"could not park $live")
        if (fs.exists(fresh))
          require(fs.rename(fresh, live), s"could not swap $live (old at $park)")
        fs.delete(park, true)
      }
      System.err.println(s"[graft] mergeTouched($path): rewrote ${affected.size}/$nParts " +
        s"partitions ($affectedBytes state bytes)")
      // the staging cleanup must happen INSIDE the lease: dropped after
      // release, a process stalling here could wipe a SUCCESSOR merge's
      // freshly-staged .rewrite mid-swap — its repair would then park a
      // live partition, find no fresh dir, and lose the partition (the
      // same lease-escape class the round-13 repairTorn fix closed)
      fs.delete(hp(staging), true)
    }
    affected.size
  }

  /** Full rewrite of a partitioned table that PRESERVES the layout —
    * compaction's shape: `transform` the whole content, land it
    * partitioned, swap every partition (including dropping live
    * partitions the new content no longer populates). Any flat LSM delta
    * files are ABSORBED: the snapshot read includes them, and the listed
    * files are deleted inside the same lease after the swap (left in
    * place, their rows would double on the next read — appends hold the
    * table lease, so the capture can't miss a file the snapshot read). */
  def rewritePartitioned(s: SparkSession, path: String, keyCol: String,
                         sortCols: Seq[String] = Nil)
                        (transform: DataFrame => DataFrame): Unit = {
    val nParts = partsOf(s, path)
    val staging = path + ".rewrite"
    val fs = fsFor(s, path)
    withLease(s, path) { // covers repair→read→stage→swap (see mergeTouched)
      repairTorn(s, path)
      val absorbedDelta = flatDeltaFiles(s, path)
      val staged = transform(readSnapshot(s, path))
        .withColumn("_p", partOf(col(keyCol), nParts))
        .repartition(col("_p"))
      // optional within-file ordering (compaction's rowgroup-stats layout)
      val sorted = if (sortCols.isEmpty) staged
                   else staged.sortWithinPartitions(("_p" +: sortCols).map(col): _*)
      sorted.write.partitionBy("_p").mode("overwrite").parquet(staging)
      (0 until nParts).foreach { k =>
        val live = hp(s"$path/_p=$k")
        val fresh = hp(s"$staging/_p=$k")
        val park = hp(s"$path/_p=$k.old")
        if (fs.exists(live))
          require(fs.rename(live, park), s"could not park $live")
        if (fs.exists(fresh))
          require(fs.rename(fresh, live), s"could not swap $live (old at $park)")
        fs.delete(park, true)
      }
      // the absorbed delta drops AFTER the swap (a crash between leaves
      // duplicate rows — decision-neutral, the next rewrite's transform
      // re-distincts; dropping BEFORE would lose the rows on a crash)
      absorbedDelta.foreach(f => fs.delete(hp(f), false))
      // inside the lease for the same successor-wipe reason as mergeTouched's
      fs.delete(hp(staging), true)
    }
  }

  /** MIGRATE a partitioned state table to a NEW modulus without rebuilding
    * from raw data (round-14 verdict task 6) — the operation a deployment
    * runs when its key cardinality outgrows the build-time `StateParts`
    * choice. Re-layouts the same rows under `pmod(key, newNParts)` and
    * swaps the `.parts` handshake atomically-enough with the directory
    * generation:
    *
    *  1. (under the table lease) stage the full content in the new layout
    *     at `.rewrite`;
    *  2. write the `.parts.next` INTENT marker — from here until cleanup,
    *     [[partsOf]] refuses every read/merge of the layout, so nothing
    *     can scatter rows against the wrong modulus mid-swap;
    *  3. park the whole old generation (`path` → `path + ".olddir"`),
    *     promote the staging, overwrite `.parts`, then drop the park and
    *     the marker.
    *
    * A crash anywhere leaves a state [[repairMigration]] can classify from
    * the surviving siblings alone and roll forward (staging promoted /
    * cleanup finished) or back (staging discarded, old generation intact)
    * — never a half-migrated layout: the old generation is parked WHOLE,
    * never mutated. The crashed run's lease deliberately survives (the
    * no-auto-expiry argument at [[acquireLease]]); [[graft.IndexAdmin]] is
    * the operator tool that inspects, repairs, and releases. Content is
    * unchanged, so id sidecars stay valid. */
  def repartitionState(s: SparkSession, path: String, keyCol: String,
                       newNParts: Int): Unit = {
    require(newNParts > 0, s"newNParts must be positive, got $newNParts")
    val fs = fsFor(s, path)
    val staging = path + ".rewrite"
    withLease(s, path) {
      repairTorn(s, path)
      val nOld = partsOf(s, path) // also refuses on a torn migration
      if (nOld == newNParts) return
      readSnapshot(s, path)
        .withColumn("_p", partOf(col(keyCol), newNParts))
        .repartition(col("_p"))
        .write.partitionBy("_p").mode("overwrite").parquet(staging)
      val out = fs.create(hp(partsNextFile(path)), true)
      out.write(newNParts.toString.getBytes("UTF-8")); out.close()
      require(fs.rename(hp(path), hp(oldDirOf(path))),
        s"could not park $path for migration")
      require(fs.rename(hp(staging), hp(path)),
        s"could not promote $staging (old generation parked at ${oldDirOf(path)})")
      writeParts(s, path, newNParts)
      fs.delete(hp(oldDirOf(path)), true)
      fs.delete(hp(partsNextFile(path)), false)
    }
  }

  /** Classify and repair a torn [[repartitionState]] from the surviving
    * siblings. Returns a human-readable action string (the
    * [[graft.IndexAdmin]] report line); no-op ("no migration in flight")
    * when no `.parts.next` marker exists. Caller holds the table lease (or
    * has just force-released a crashed run's). */
  def repairMigration(s: SparkSession, path: String): String = {
    val fs = fsFor(s, path)
    val marker = hp(partsNextFile(path))
    if (!fs.exists(marker)) return "no migration in flight"
    val in = fs.open(marker)
    val next = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
               finally in.close()
    val havePath = fs.exists(hp(path))
    val havePark = fs.exists(hp(oldDirOf(path)))
    val haveStaging = fs.exists(hp(path + ".rewrite"))
    val action =
      if (!havePath && havePark && haveStaging) {
        // crashed between park and promote: finish the swap
        require(fs.rename(hp(path + ".rewrite"), hp(path)),
          s"could not promote ${path}.rewrite")
        writeParts(s, path, next)
        fs.delete(hp(oldDirOf(path)), true)
        s"rolled FORWARD: promoted staging, .parts=$next, dropped park"
      } else if (!havePath && havePark) {
        // staging lost with the table parked (should be unreachable —
        // staging is written before the marker): restore the old
        // generation, defensive roll-back
        require(fs.rename(hp(oldDirOf(path)), hp(path)),
          s"could not restore ${oldDirOf(path)}")
        s"rolled BACK: restored the parked old generation (staging missing)"
      } else if (havePath && havePark) {
        // crashed between promote and cleanup: path already holds the new
        // generation — finish the bookkeeping
        writeParts(s, path, next)
        fs.delete(hp(oldDirOf(path)), true)
        s"rolled FORWARD: .parts=$next, dropped park (swap had completed)"
      } else if (havePath && haveStaging) {
        // crashed between marker and park: nothing swapped — discard the
        // staging, keep the old generation and modulus
        fs.delete(hp(path + ".rewrite"), true)
        s"rolled BACK: discarded staging (old generation untouched)"
      } else {
        // tail-end crash: swap and cleanup done, only the marker survives
        writeParts(s, path, next)
        s"rolled FORWARD: .parts=$next (cleanup had completed)"
      }
    fs.delete(marker, false)
    action
  }

  // -----------------------------------------------------------------
  // Append-contract preconditions (round-13 verdict task 3)
  // -----------------------------------------------------------------

  // --- id BLOOM sidecar (round-14 verdict task 1) -------------------
  // The newness guard's keyed semi-join scanned the stored id column on
  // EVERY appending batch — the largest remaining per-batch term that
  // grows with the index. Two sidecars now gate it: the O(1) max-id
  // watermark (ids strictly above it cannot be stored — the monotone-
  // ingest fast path pays NO read at all) and a persisted id bloom (the
  // [[graft.operators.Dedup.crossCorpusNewDocs]] BloomFilterAggregate
  // pattern, persisted): bloom "no" is definitive, so only the bloom's
  // maybe-ids — ≈ true overlaps + fpp·batch — reach the exact keyed
  // scan. Both sidecars advance crash-safe-HIGH (BEFORE the append
  // lands): a crashed append leaves them over-refusing / over-scanning,
  // never silently accepting a stored id.

  private def bloomSidecarPath(tablePath: String) = tablePath + ".idbloom"

  // --- PENDING-ids sidecar (round-16, r15 verdict task 5) -----------
  // Every guarded append re-wrote the full clamped (~8 MB) bloom file —
  // O(1) in index size but the dominant sidecar I/O at micro-batch
  // frequency. The bloom merge is now DEFERRED: an appending batch lands
  // its distinct ids in a tiny `.idpending` sidecar (batch-scale bytes,
  // written crash-safe-HIGH before the files), and the newness guard
  // treats pending ids exactly like bloom maybes (pending "yes" → the
  // exact re-check; pending ∪ bloom ⊇ stored ids is the invariant, so
  // bloom-AND-pending "no" stays definitive). When the pending set
  // outgrows [[PendingIdsCap]] — or a batch is too large to collect —
  // the accumulated ids merge into the bloom in one write and the
  // pending file truncates (bloom-before-truncate: a crash between the
  // two leaves ids in BOTH sidecars — stale-HIGH, the safe direction).

  private def pendingSidecarPath(tablePath: String) = tablePath + ".idpending"

  /** Pending ids beyond this count fold into the bloom (≈2 MB file at
    * the cap; a 10k-id stream batch merges every ~26 batches, turning 26
    * 8 MB bloom rewrites into 26 batch-sized appends + one rewrite). */
  val PendingIdsCap = 262144

  /** The pending-ids sidecar, empty if absent. Driver-sized by
    * construction ([[PendingIdsCap]]). */
  def readPendingIds(s: SparkSession, tablePath: String): Array[Long] = {
    val fs = fsFor(s, tablePath)
    val p = hp(pendingSidecarPath(tablePath))
    if (!fs.exists(p)) Array.emptyLongArray
    else {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(fs.open(p)))
      try {
        val n = in.readInt()
        Array.fill(n)(in.readLong())
      } finally in.close()
    }
  }

  private[graft] def writePendingIds(s: SparkSession, tablePath: String,
                                     ids: Array[Long]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      fsFor(s, tablePath).create(hp(pendingSidecarPath(tablePath)), true)))
    try { out.writeInt(ids.length); ids.foreach(out.writeLong) }
    finally out.close()
  }

  def dropPendingIds(s: SparkSession, tablePath: String): Unit =
    fsFor(s, tablePath).delete(hp(pendingSidecarPath(tablePath)), false)

  /** Bloom sizing, clamped the same way `BloomFilterAggregate` clamps
    * internally (it silently mins against these session confs) so the
    * sidecar header always matches the built filter and batch merges stay
    * parameter-compatible. ~16 bits/id ≈ 0.1–0.5 % fpp. */
  private def bloomParams(s: SparkSession, nIds: Long): (Long, Long) = {
    def confL(key: String, dflt: Long) =
      scala.util.Try(s.conf.get(key).toLong).getOrElse(dflt)
    val items = math.min(math.max(nIds, 4096L),
      confL("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 4000000L))
    val bits = math.min(items * 16L,
      confL("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 67108864L))
    (items, bits)
  }

  /** Distributed bloom build over an id column — the Catalyst
    * runtime-filter aggregate (codegen'd; XxHash64 convention, the same
    * hash [[mightContainId]] probes with). */
  private def bloomAgg(idCol: Column, items: Long, bits: Long): Column =
    ColumnBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(ColumnBridge.expression(idCol))),
        Literal(items), Literal(bits)).toAggregateExpression())

  /** Codegen'd membership probe of an id column against sidecar bytes
    * (bloom "no" is definitive; "maybe" must be re-checked exactly). */
  def mightContainId(bloomBytes: Array[Byte], idCol: Column): Column =
    ColumnBridge.column(
      BloomFilterMightContain(Literal.create(bloomBytes, BinaryType),
        new XxHash64(Seq(ColumnBridge.expression(idCol)))))

  private def writeBloomFile(s: SparkSession, tablePath: String,
                             items: Long, bits: Long, bloom: BloomFilter): Unit = {
    val out = new java.io.DataOutputStream(
      fsFor(s, tablePath).create(hp(bloomSidecarPath(tablePath)), true))
    try { out.writeLong(items); out.writeLong(bits); bloom.writeTo(out) }
    finally out.close()
  }

  /** The sidecar, if present: (items, bits) it was sized with + the
    * filter bytes. */
  def readIdBloom(s: SparkSession, tablePath: String): Option[(Long, Long, Array[Byte])] = {
    val fs = fsFor(s, tablePath)
    val p = hp(bloomSidecarPath(tablePath))
    if (!fs.exists(p)) None
    else {
      val in = new java.io.DataInputStream(fs.open(p))
      try Some((in.readLong(), in.readLong(), in.readAllBytes()))
      finally in.close()
    }
  }

  def dropIdBloom(s: SparkSession, tablePath: String): Unit = {
    fsFor(s, tablePath).delete(hp(bloomSidecarPath(tablePath)), false)
    // pending rides the bloom: without one, the guard's fallback is the
    // exact scan, which reads table truth
    dropPendingIds(s, tablePath)
  }

  /** Build (or rebuild) the id bloom sidecar from the table's stored ids
    * (∪ `extraIds` — the incompatible-merge rescue, see
    * [[advanceIdBloom]]). Called at build ([[seedIdGuards]]) and refresh
    * points (compaction — re-tightens after deletions); sized to the
    * CURRENT id count. */
  def writeIdBloom(s: SparkSession, tablePath: String, idCol: String,
                   extraIds: Option[DataFrame] = None): Unit = {
    val stored = readSnapshot(s, tablePath).select(col(idCol))
    val ids = extraIds.fold(stored)(e => stored.unionByName(e.select(col(idCol))))
    val (items, bits) = bloomParams(s, ids.count())
    val row = ids.agg(bloomAgg(col(idCol), items, bits)).head()
    val bloom =
      if (row.isNullAt(0)) BloomFilter.create(items, bits) // empty table
      else BloomFilter.readFrom(new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
    writeBloomFile(s, tablePath, items, bits, bloom)
    // a bloom rebuilt from the table subsumes the pending sidecar: landed
    // pending ids are in the new bloom; never-landed ones (a crashed
    // append) are genuinely absent from the table, so treating them as
    // fresh is correct (bloom write first — a crash here leaves both)
    dropPendingIds(s, tablePath)
  }

  /** Merge a batch's ids into the sidecar BEFORE their append lands (the
    * crash-safe-HIGH direction — a bloom already containing ids whose
    * append then crashed over-sends the redelivery to the exact scan;
    * files-before-bloom would leave it LOW, the false-accept direction).
    * No-op when the table has no sidecar (legacy index: the guard keeps
    * its keyed-scan fallback). Caller holds the table lease. */
  def advanceIdBloom(s: SparkSession, tablePath: String,
                     ids: DataFrame, idCol: String): Unit =
    readIdBloom(s, tablePath).foreach { case (items, bits, bytes) =>
      val row = ids.agg(bloomAgg(col(idCol), items, bits)).head()
      if (!row.isNullAt(0)) {
        val stored = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        val batch = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
        if (stored.isCompatible(batch)) {
          stored.mergeInPlace(batch)
          writeBloomFile(s, tablePath, items, bits, stored)
        } else
          // a session-conf clamp change re-sized the batch filter —
          // rebuild from scratch with the batch unioned in (rare; ∝ index
          // once, not per batch)
          writeIdBloom(s, tablePath, idCol, extraIds = Some(ids))
      }
    }

  /** Which evidence path the last [[requireNewIds]] took — telemetry the
    * guard-cost specs read: "watermark" (O(1) sidecar only — NO table
    * read), "bloom" (every batch id ruled out — table never read),
    * "bloom+scan" (bloom maybes re-checked exactly), "scan" (no sidecars
    * — the legacy full keyed scan), "empty-batch". */
  @volatile var lastNewIdsPath: String = ""

  /** Enforce "batch ids must be NEW to the index". Evidence ladder
    * (cheapest first — round-14 verdict task 1):
    *
    *  1. WATERMARK: the max-id sidecar is maintained crash-safe-HIGH by
    *     every guarded append ([[appendWithIdGuards]]), so a batch whose
    *     min id is strictly above it cannot overlap — the monotone-ingest
    *     fast path, O(1), no stored-id read of any kind;
    *  2. BLOOM: batch ids the sidecar rules out are definitively new;
    *     only its maybes (≈ true overlaps + fpp·batch) go on;
    *  3. EXACT: one keyed semi-join of the stored id column against the
    *     surviving maybes — the pre-round-14 behavior, now the fallback
    *     of last resort (and the only path on a sidecar-less table).
    *
    * `strict` refuses loudly (the batch-API contract); non-strict — the
    * stream replay path, where a torn commit legitimately redelivers
    * already-appended ids — downgrades to a stderr TORN-REPLAY line
    * (re-appending duplicates rows, which is decision-neutral and
    * compact-repaired; the documented contract). Returns the overlap
    * count. */
  def requireNewIds(s: SparkSession, tablePath: String, idCol: String,
                    batchIds: DataFrame, batchRows: Long, op: String,
                    strict: Boolean = true): Long = {
    def judge(overlap: Long): Long = {
      if (overlap > 0) {
        val msg = s"$op: $overlap batch ${idCol}s already present in $tablePath — " +
          "the append contract requires batch ids new to the index"
        if (strict) throw new IllegalArgumentException(
          msg + " (a takedown re-ingest must deleteFrom*Index first)")
        else System.err.println(s"[graft] TORN-REPLAY $msg; re-appending duplicates " +
          "rows (decision-neutral; compact repairs)")
      }
      overlap
    }
    val distinctIds = batchIds.select(col(idCol)).distinct()
    if (batchRows <= 2000000L) {
      // daily-batch shape (the 2M collect/broadcast convention): ONE job
      // collects the distinct ids, and the watermark gate, bloom probe
      // (filter deserialized once, not shipped as a per-task literal),
      // and maybes all run driver-side off that single pass
      import s.implicits._
      val ids = distinctIds.collect().map(_.getLong(0))
      if (ids.isEmpty) { lastNewIdsPath = "empty-batch"; return 0L }
      val wm = peekIdWatermark(s, tablePath)
      if (wm.exists(ids.min > _)) { lastNewIdsPath = "watermark"; return 0L }
      val bloomOpt = readIdBloom(s, tablePath)
      val maybes = bloomOpt match {
        case Some((_, _, bytes)) =>
          val bloom = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
          // pending ids are NOT in the bloom yet (the deferred-merge
          // sidecar) — a pending hit is a maybe exactly like a bloom hit
          val pending = readPendingIds(s, tablePath)
          val pendingSet =
            if (pending.isEmpty) null
            else { val h = new java.util.HashSet[java.lang.Long](pending.length * 2)
                   pending.foreach(h.add(_)); h }
          ids.filter(id => bloom.mightContainLong(
            org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)) ||
            (pendingSet != null && pendingSet.contains(id)))
        case None => ids
      }
      if (bloomOpt.isDefined && maybes.isEmpty) { lastNewIdsPath = "bloom"; return 0L }
      lastNewIdsPath = if (bloomOpt.isDefined) "bloom+scan" else "scan"
      judge(readSnapshot(s, tablePath).select(col(idCol))
        .join(broadcast(maybes.toSeq.toDF(idCol)), Seq(idCol), "left_semi")
        .select(col(idCol)).distinct().count())
    } else graft.Checkpoints.scoped {
      // backfill-sized batch: keep everything distributed, but checkpoint
      // the shared frames ONCE — un-checkpointed, the batch distinct
      // shuffle re-ran for the min agg, the bloom filter, and the overlap
      // join (round-14 review finding); the scope frees the blocks on
      // exit (every consumer below is an action inside it)
      val dids = graft.Checkpoints.local(distinctIds)
      val wm = peekIdWatermark(s, tablePath)
      if (wm.isDefined) {
        val mn = dids.agg(min(col(idCol))).head()
        if (mn.isNullAt(0)) { lastNewIdsPath = "empty-batch"; return 0L }
        if (mn.getLong(0) > wm.get) { lastNewIdsPath = "watermark"; return 0L }
      }
      val (maybeIds, nMaybe) = readIdBloom(s, tablePath) match {
        case Some((_, _, bytes)) =>
          import s.implicits._
          val pending = readPendingIds(s, tablePath)
          val probed =
            if (pending.isEmpty) dids.filter(mightContainId(bytes, col(idCol)))
            else dids.filter(mightContainId(bytes, col(idCol)))
              .unionByName(dids.join(broadcast(pending.toSeq.toDF(idCol)),
                Seq(idCol), "left_semi"))
              .distinct()
          val m = graft.Checkpoints.local(probed)
          (m, m.count())
        case None => (dids, -1L)
      }
      if (nMaybe == 0L) { lastNewIdsPath = "bloom"; return 0L }
      lastNewIdsPath = if (nMaybe > 0L) "bloom+scan" else "scan"
      judge(readSnapshot(s, tablePath).select(col(idCol))
        .join(maybeBroadcast(maybeIds, if (nMaybe > 0L) nMaybe else batchRows),
          Seq(idCol), "left_semi")
        .select(col(idCol)).distinct().count())
    }
  }

  /** Seed BOTH id sidecars from a freshly built table — every build that
    * overwrites a guarded table must call this: sidecars surviving from a
    * previous build at the same path would be stale-LOW against the new
    * content, the one direction that silently false-accepts (the
    * watermark gate would bless ids the new build actually contains). One
    * thin-column pass for (max, count), one for the bloom aggregate —
    * build-time-only cost. */
  def seedIdGuards(s: SparkSession, tablePath: String, idCol: String): Unit = {
    val ids = readSnapshot(s, tablePath).select(col(idCol))
    val r = ids.agg(max(col(idCol)), count(lit(1))).head()
    advanceIdWatermark(s, tablePath,
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
    val (items, bits) = bloomParams(s, r.getLong(1))
    val row = ids.agg(bloomAgg(col(idCol), items, bits)).head()
    val bloom =
      if (row.isNullAt(0)) BloomFilter.create(items, bits)
      else BloomFilter.readFrom(new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
    writeBloomFile(s, tablePath, items, bits, bloom)
    dropPendingIds(s, tablePath) // stale pending from a previous build
  }

  /** The index families' shared guarded append (round-14): holding the
    * table lease, enforce the newness contract, advance BOTH id sidecars
    * crash-safe-HIGH, and land the batch as `nFiles` part files.
    * The newness check runs INSIDE the lease (round-15): checked-then-
    * appended must be atomic, or two concurrent guarded appends of
    * overlapping id sets could both pass the check and both land under
    * successive leases — duplicate ids accepted with no refusal and no
    * TORN-REPLAY line. The check is cheap on the watermark/bloom paths,
    * so holding the lease across it costs nothing at steady state.
    * Sidecars-before-files IS the crash story: a crash after the advance
    * leaves watermark/bloom too high (over-refuse / over-scan — safe, and
    * the ordering guard's re-seed path recovers the stream,
    * [[requireIdsAbove]]); files-before-sidecars would leave them LOW —
    * the silent-acceptance corruption the guards exist to stop. Advancing
    * the watermark HERE is also what keeps it truthful for tables whose
    * appends never pass through [[requireIdsAbove]] (round-13 advice: an
    * un-advanced watermark after a plain append is stale-LOW for the
    * ordering guard too). Returns [[requireNewIds]]'s overlap count. */
  def appendWithIdGuards(rows: DataFrame, tablePath: String, idCol: String,
                         nRows: Long, nFiles: Int, op: String,
                         strict: Boolean = true): Long = {
    val s = rows.sparkSession
    withLease(s, tablePath) {
      val overlap = requireNewIds(s, tablePath, idCol,
        rows.select(col(idCol)), nRows, op, strict)
      val mx = rows.agg(max(col(idCol))).head()
      if (!mx.isNullAt(0)) {
        peekIdWatermark(s, tablePath).foreach { wm =>
          advanceIdWatermark(s, tablePath, math.max(wm, mx.getLong(0)))
        }
        // DEFERRED bloom maintenance (round-16, r15 verdict task 5):
        // batch-sized pending append instead of an 8 MB bloom rewrite per
        // batch. Both sidecar writes happen BEFORE the files land
        // (stale-HIGH). Batches over the 2M collect convention merge
        // straight into the bloom — one rewrite amortized over a backfill
        // is noise, and the pending file stays driver-sized.
        if (readIdBloom(s, tablePath).isDefined) {
          if (nRows > 2000000L)
            advanceIdBloom(s, tablePath, rows.select(col(idCol)), idCol)
          else {
            val batchIds = rows.select(col(idCol)).distinct()
              .collect().map(_.getLong(0))
            val pending = readPendingIds(s, tablePath)
            if (pending.length + batchIds.length > PendingIdsCap) {
              import s.implicits._
              // bloom first, truncate after — a crash between leaves the
              // ids in both sidecars (over-checks, never false-accepts)
              advanceIdBloom(s, tablePath,
                (pending ++ batchIds).toSeq.toDF(idCol), idCol)
              dropPendingIds(s, tablePath)
            } else
              writePendingIds(s, tablePath, pending ++ batchIds)
          }
        }
      }
      rows.coalesce(nFiles).write.mode("append").parquet(tablePath)
      overlap
    }
  }

  /** The persisted max-id WATERMARK a table's ordering contract reads —
    * an O(1) driver-side file instead of a per-batch max() scan of the
    * stored id column (which would re-introduce a ∝-index cost per batch,
    * round-13 review finding). Crash discipline: the watermark is
    * ADVANCED BEFORE the append lands, so a crash between the two leaves
    * it too HIGH — the safe direction (over-refuses a legitimate id
    * range; never silently accepts an id at-or-below a stored one). A
    * missing/corrupt watermark falls back to the max() scan once and
    * re-seeds the file. */
  private def watermarkPath(tablePath: String) = tablePath + ".maxid"

  /** The watermark if its sidecar exists — NO scan-seeding (the newness
    * gate must not pay a stored-id scan just to learn there is no file;
    * a missing sidecar simply means the fast path doesn't apply). */
  def peekIdWatermark(s: SparkSession, tablePath: String): Option[Long] = {
    val fs = fsFor(s, tablePath)
    val p = hp(watermarkPath(tablePath))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try scala.util.Try(
        scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong).toOption
      finally in.close()
    }
  }

  def idWatermark(s: SparkSession, tablePath: String, idCol: String): Long =
    peekIdWatermark(s, tablePath).getOrElse {
      val row = readSnapshot(s, tablePath).agg(max(col(idCol))).head()
      val m = if (row.isNullAt(0)) Long.MinValue else row.getLong(0)
      advanceIdWatermark(s, tablePath, m)
      m
    }

  def advanceIdWatermark(s: SparkSession, tablePath: String, id: Long): Unit = {
    val out = fsFor(s, tablePath).create(hp(watermarkPath(tablePath)), true)
    out.write(id.toString.getBytes("UTF-8")); out.close()
  }

  /** Drop the watermark file — every BUILD that overwrites the table must
    * call this, or a stale-high watermark from a previous build at the
    * same path would wrongly refuse the new index's first increments
    * (re-seeded by one max() scan on next use). */
  def resetIdWatermark(s: SparkSession, tablePath: String): Unit =
    fsFor(s, tablePath).delete(hp(watermarkPath(tablePath)), false)

  /** Enforce the stronger ORDERING contract where it is load-bearing
    * (the span canon rule and the pipeline's exact keep-the-minimum leg):
    * every batch id must be LARGER than every indexed id, checked against
    * the [[idWatermark]] (O(1); seeded by one max() scan on first use or
    * after a lost watermark file). On success the watermark is advanced
    * to `batchMaxId` BEFORE the caller appends (crash-safe direction).
    *
    * Violation handling: `strict` refuses (the batch-API contract). The
    * stream path (`strict = false`) distinguishes the two causes a
    * violation can have — a redelivered TORN batch carries exactly ids it
    * already appended (every batch id is present in the stored table), is
    * warned and tolerated (the documented duplicate-rows contract); a
    * genuinely OUT-OF-ORDER fresh batch (some id absent from the table)
    * is REFUSED even on the stream path, because proceeding would
    * silently steal canons and invalidate already-shipped output — the
    * exact corruption this guard exists to stop (round-13 review
    * finding). */
  /** `advance = false` defers the watermark advance to a DOWNSTREAM
    * guarded append ([[appendWithIdGuards]], which advances inside the
    * lease before its files land — the same crash-safe-high property):
    * callers that run the ordering guard BEFORE the newness guard (the
    * pipeline composition) must not advance here, or the watermark would
    * already sit at the batch max when [[requireNewIds]] reads it and the
    * O(1) monotone fast path could never fire (round-14 review finding). */
  def requireIdsAbove(s: SparkSession, tablePath: String, idCol: String,
                      batchIds: DataFrame, batchMinId: Long, batchMaxId: Long,
                      op: String, strict: Boolean = true,
                      advance: Boolean = true): Unit = {
    val wm = idWatermark(s, tablePath, idCol)
    if (batchMinId <= wm) {
      val msg = s"$op: batch min $idCol $batchMinId <= id watermark $wm of $tablePath — " +
        "the canonical-minimum rule requires batch ids above every indexed id " +
        "(out-of-order ingest would silently re-canonicalize already-shipped output)"
      if (strict) throw new IllegalArgumentException(msg)
      // replay-vs-out-of-order: only pay the stored-id probe on the
      // violation path, never per healthy batch
      val ids = batchIds.select(col(idCol)).distinct()
      val nBatch = ids.count()
      val present = readSnapshot(s, tablePath).select(col(idCol))
        .join(maybeBroadcast(ids, nBatch), Seq(idCol), "left_semi")
        .select(col(idCol)).distinct().count()
      if (present == 0L) {
        // third cause (round-13 advice): a crash AFTER the watermark
        // advanced but BEFORE the append landed leaves the watermark
        // stale-HIGH; the redelivered batch then violates the watermark
        // with NO batch id present. Distinguish it from a genuinely
        // out-of-order batch by the TRUE stored max: if every batch id
        // is also above that, the batch is ordered after everything
        // actually stored — tolerate it and re-seed the watermark from
        // reality, or the stream would be permanently wedged on a
        // crash-window redelivery (the replay-ledger contract says
        // redelivery is tolerated). One max() scan, violation path only.
        val mrow = readSnapshot(s, tablePath).agg(max(col(idCol))).head()
        val storedMax = if (mrow.isNullAt(0)) Long.MinValue else mrow.getLong(0)
        if (storedMax < batchMinId) {
          System.err.println(s"[graft] STALE-HIGH WATERMARK $msg; no batch id is " +
            s"stored and true stored max is $storedMax < batch min $batchMinId — a " +
            "crashed append advanced the watermark without landing files; tolerated " +
            "as the redelivery (the trailing advance re-pins the watermark at the " +
            "batch max the landing append makes true)")
        } else throw new IllegalArgumentException(
          msg + s" — and no batch id is already indexed while the stored max " +
            s"$storedMax overlaps the batch range, so this is NOT a torn-commit " +
            "redelivery; refusing on the stream path too")
      } else if (present < nBatch) throw new IllegalArgumentException(
        msg + s" — and only $present of $nBatch batch ids are already indexed, " +
          "so this is NOT a torn-commit redelivery; refusing on the stream path too")
      else System.err.println(s"[graft] TORN-REPLAY $msg; all $nBatch batch ids already " +
        "indexed — tolerated as a redelivery (duplicate rows; compact repairs)")
    }
    if (advance) advanceIdWatermark(s, tablePath, math.max(wm, batchMaxId))
  }
}
