package perfbench

import scala.collection.mutable

import graft.functions.{Hll, SparseHll}

/** Direct timings of the HLL kernels over the uids a run kept, grouped
  * into the run's (granularity, bucket) sketches. Traced runs only. */
object FunctionsProbe {
  /** Results of the timed loops land here so they cannot be elided. */
  @volatile private var sink = 0L

  /** Median ns per operation over 3 rounds of `body`, which performs `n`
    * operations per call and is repeated until a round lasts 50 ms. */
  private def nsPer(n: Long)(body: => Unit): Double = {
    val rounds = (0 until 3).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      while (reps == 0 || System.nanoTime() - t0 < 50000000L) { body; reps += 1 }
      (System.nanoTime() - t0).toDouble / (reps * math.max(n, 1L))
    }
    Stats.median(rounds)
  }

  def run(ctx: Ctx, kept: Seq[(Int, Long)], uidString: Int => String): Unit = {
    val strs = kept.iterator.map(k => uidString(k._1)).toArray
    val ts = kept.iterator.map(_._2).toArray
    val hashes = new Array[Long](strs.length)
    ctx.totals("functions.hll_hash_ns") = nsPer(strs.length) {
      var i = 0
      while (i < strs.length) { hashes(i) = Hll.hash(strs(i)); i += 1 }
    }

    // one hash sequence per (granularity, bucket), in arrival order
    val groups: Seq[Array[Long]] = Reference.Granularities.flatMap { g =>
      val byBucket = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuilder.ofLong]
      var i = 0
      while (i < ts.length) {
        byBucket.getOrElseUpdate(Reference.bucketStart(g, ts(i)), new mutable.ArrayBuilder.ofLong) += hashes(i)
        i += 1
      }
      byBucket.values.map(_.result())
    }
    // how many adds each sketch takes while still sparse
    var densified = 0
    val sparseLen = groups.map { hs =>
      var s = SparseHll.empty()
      var i = 0
      var sparseUntil = hs.length
      while (i < hs.length) {
        s = SparseHll.add(s, hs(i))
        if (s.length == Hll.M && sparseUntil == hs.length) sparseUntil = i
        i += 1
      }
      if (s.length == Hll.M) densified += 1
      sparseUntil
    }
    ctx.totals("functions.densify_count") = densified.toDouble
    ctx.totals("functions.sparse_add_ns") = nsPer(sparseLen.sum.toLong) {
      groups.iterator.zip(sparseLen.iterator).foreach { case (hs, len) =>
        var s = SparseHll.empty()
        var i = 0
        while (i < len) { s = SparseHll.add(s, hs(i)); i += 1 }
        sink += s.length
      }
    }
    val regs = Hll.emptyRegisters()
    ctx.totals("functions.dense_add_ns") = nsPer(hashes.length.toLong) {
      var i = 0
      while (i < hashes.length) { Hll.add(regs, hashes(i)); i += 1 }
    }

    // register files of the largest buckets, for merge and estimate
    val files = groups.sortBy(-_.length).take(16).map { hs =>
      val r = Hll.emptyRegisters(); hs.foreach(Hll.add(r, _)); r
    }
    val acc = Hll.emptyRegisters()
    ctx.totals("functions.merge_us") = nsPer(files.size.toLong) {
      files.foreach(f => Hll.merge(acc, f))
    } / 1000.0
    ctx.totals("functions.estimate_us") = nsPer(files.size.toLong) {
      files.foreach(f => sink += Hll.estimate(f))
    } / 1000.0
  }
}
