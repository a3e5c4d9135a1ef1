package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>[64]`).
  *
  * Three tiers:
  *  - brute-force cosine top-k: exactness baseline — broadcast the query
  *    set against the corpus, one corpus scan, per-query top-k via
  *    rank-over-window. At 100 TB this is the pattern for SMALL query sets
  *    (the corpus shuffles zero times; queries broadcast);
  *  - SRP-LSH bucketed: signed-random-projection buckets shrink the
  *    candidate set; per-bucket join instead of all-pairs. The recall/cost
  *    dial is (nBits, nTables);
  *  - IVF-style: coarse-partition centroids (here: per-label mean vectors),
  *    probe the nearest nProbe centroids, search only those partitions —
  *    the classic inverted-file ANN layout expressed relationally.
  */
object Similarity {

  val DefaultK = 10
  val QueryCount = 5 // vec_id < 5 are the demo query vectors
  /** Covering target for the BUILD-sized assignment depth (round-16
    * verdict task 3): the smallest nProbe whose sampled two-level
    * covering reaches this fraction of dense-argmax winners. Declared at
    * the object head (the val-init-order trap). */
  val AssignCoveringTarget = 0.95

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
              VectorOps.l2Norm(col("embedding")).as("norm"))

  /** Scores exported as `cos_e4 = floor(cos·10⁴ + 0.5)` BIGINT (the
    * [[quantizeInt8]]/tfidf parity discipline — `round` diverges between
    * engines at midpoints, floor does not; floor is also sign-correct for
    * negative cosines in both). Ranking stays on the RAW double — the
    * DuckDB twin reproduces the dot/norm doubles bit-exactly (sequential
    * double accumulation both sides, verified), so order matches. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
              floor(col("cos_sim") * lit(10000.0) + lit(0.5)).cast("long").as("cos_e4"),
              col("rank").cast("long").as("rank"))
  }

  /** Exact brute-force cosine top-k for the demo query set. */
  def bruteForceTopK(s: SparkSession, dir: String, k: Int = DefaultK,
                     nQueries: Int = QueryCount): DataFrame = {
    val e = emb(s, dir)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
    val scored = e.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim",
        VectorOps.cosinePrenormed(col("qv"), col("embedding"), col("qn"), col("norm")))
    topKPerQuery(scored, k)
  }

  /** Multi-table SRP-LSH ANN: `nTables` independent 8-bit
    * signed-random-projection buckets per vector; a candidate is any vector
    * sharing a bucket with the query in ANY table (standard OR-construction
    * — each extra table adds recall at the cost of one more keyed join
    * probe). Candidates deduped, then scored exactly. Returns up to k per
    * query; recall vs brute force is property-tested. */
  def annLsh(s: SparkSession, dir: String, k: Int = DefaultK,
             nBits: Int = 8, nTables: Int = 4): DataFrame = {
    val allPlanes = VectorOps.hyperplanes(nBits * nTables, 64)
    val tables = (0 until nTables).map(t => allPlanes.slice(t * nBits, (t + 1) * nBits))
    val bucketArr = array(tables.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("tbl"), VectorOps.srpBucket(col("embedding"), planes).as("bucket"))
    }: _*)
    val e = emb(s, dir).withColumn("bb", bucketArr)
    val banded = e.select(col("vec_id"), col("embedding"), col("norm"),
      explode(col("bb")).as("tb")).select(
      col("vec_id"), col("embedding"), col("norm"), col("tb.tbl"), col("tb.bucket"))
    val queries = banded.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
              col("norm").as("qn"), col("tbl"), col("bucket"))
    val cands = banded.join(broadcast(queries), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"), col("norm"),
              col("qv"), col("qn"))
      .dropDuplicates("query_id", "vec_id")
    val scored = cands.withColumn("cos_sim",
      VectorOps.cosinePrenormed(col("qv"), col("embedding"), col("qn"), col("norm")))
    topKPerQuery(scored, k)
  }

  /** Assign each vector its nearest centroid id by cosine (argmax via an
    * orderable struct — ties break toward the higher cid, deterministic).
    * Centroids are literals, so assignment is one map-only pass. `nProbe`
    * is the two-level path's probed-cell depth ABOVE DenseCutoff (a
    * no-op below it — dense is exact); the persisted-index paths thread
    * the BUILD-sized depth through here (round-16 verdict task 3) so
    * build, append, and drift telemetry assign identically. */
  private def assignCid(e: DataFrame, cents: Seq[Seq[Double]],
                        nProbe: Int = 2): DataFrame =
    // CentroidAssign (round-15): dense below DenseCutoff — bit-identical
    // to `greatest(centroidScores)`, keeping every literal-twin plan —
    // two-level coarse-quantized broadcast-model argmax above it
    // (assignment ∝ n·√K·dim, still map-only)
    graft.functions.CentroidAssign.withBestCentroid(e, "embedding", cents,
      cidName = "cid", simName = "__sim", nProbe = nProbe).drop("__sim")

  /** Per-centroid `(sim, cid)` orderable structs over `embedding` —
    * retained as the spec-pinned dense-twin arithmetic
    * ([[graft.functions.CentroidAssign]]'s K ≤ DenseCutoff plan is
    * bit-identical to `greatest` over these). The drift telemetry no
    * longer reads it directly: [[ivfPqAssignmentFit]]/[[ivfPqOccupancy]]
    * route through [[graft.functions.CentroidAssign.withBestCentroid]]
    * with [[assignCid]]'s parameters, so the statistic measures exactly
    * the assignment function that built the stored lists — at K >
    * DenseCutoff the dense argmax and the two-level path can disagree on
    * covering-tail rows, and telemetry over the WRONG function can mask
    * (or invent) the hot-list drift it exists to catch (round-15
    * advice). */
  private def centroidScores(cents: Seq[Seq[Double]]): Seq[Column] =
    cents.zipWithIndex.map { case (c, i) =>
      struct(VectorOps.cosine(col("embedding"), array(c.map(lit): _*)).as("sim"),
             lit(i).as("cid"))
    }

  /** Lloyd's k-means coarse quantizer in DataFrame ops, trained on a
    * deterministic hash-mod SAMPLE of the corpus (same integer-mod
    * discipline as [[Sampling.systematicSample]]): a coarse quantizer only
    * needs the density shape, not every point, so at 100 TB the training
    * loop touches ~`samplePct`% of rows once (cached — iterations never
    * re-scan the corpus) while the full corpus is scanned exactly once for
    * the final assignment. Deterministic init (k lowest-hash sample
    * vectors), then `iters` rounds of assign-via-broadcast-literals →
    * per-dimension mean re-centering. Only the k×dim centroid model crosses
    * to the driver each round (the MLlib KMeans pattern). Empty clusters
    * keep their previous centroid. If the sample is thinner than 16×k the
    * full corpus trains instead (tiny-input safety, e.g. sf0.001 specs). */
  def learnCentroids(s: SparkSession, e: DataFrame, k: Int = 8, iters: Int = 4,
                     dim: Int = 64, samplePct: Int = 10,
                     maxTrainRows: Int = 65536): Seq[Seq[Double]] = {
    // the percentage sample alone still grows LINEARLY with the corpus
    // (measured ~8× training cost at 10× rows) — a coarse quantizer needs
    // a FIXED number of training points (~2^12 per centroid), so a
    // deterministic hash-order LIMIT caps it: TakeOrderedAndProject
    // per-partition heaps, no global sort, O(1) training at any corpus size
    val sampled = e.select(col("vec_id"), col("embedding"))
      .filter(Sampling.hashPct(col("vec_id"), samplePct))
      .orderBy(xxhash64(col("vec_id"), lit(7)), col("vec_id"))
      .limit(maxTrainRows)
      .cache()
    val train = if (sampled.count() >= 16L * k) sampled
                else e.select(col("vec_id"), col("embedding"))
    try {
      var cents: Seq[Seq[Double]] = train
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
        .collect().toSeq.map(_.getSeq[Float](1).toSeq.map(_.toDouble))
      for (_ <- 0 until iters) {
        val recentered = assignCid(train, cents)
          .groupBy(col("cid"))
          .agg(array((0 until dim).map(j =>
            avg(element_at(col("embedding"), j + 1))): _*).as("centroid"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
        cents = cents.indices.map(i => recentered.getOrElse(i, cents(i)))
      }
      cents
    } finally sampled.unpersist()
  }

  /** IVF ANN with a LEARNED coarse quantizer: k-means centroids
    * ([[learnCentroids]] — replacing round 1's label-column stand-in),
    * query probes its nProbe nearest centroids, search restricted to those
    * inverted lists. The corpus is scanned once for assignment (at scale
    * the assignment is the persisted IVF index); probed queries broadcast;
    * recall vs brute force is property-tested in SimilaritySpec. */
  def annIvf(s: SparkSession, dir: String, k: Int = DefaultK, nProbe: Int = 2,
             nCentroids: Int = 8, iters: Int = 4): DataFrame = {
    val e = emb(s, dir)
    annIvfWith(s, e, learnCentroids(s, e, nCentroids, iters), k, nProbe)
  }

  /** [[annIvf]]'s search against CALLER-supplied centroids — one plan for
    * the learned production tier and the literal-model oracle twin
    * (`q_sim_ann_ivf_lit`), the [[ivfPqSearchLitQuery]] pattern applied to
    * plain IVF: with the model literal, assignment + probe + probed-list
    * exact-cosine scan is a deterministic double-arithmetic program both
    * engines evaluate bit-identically. */
  def annIvfWith(s: SparkSession, e: DataFrame, cents: Seq[Seq[Double]],
                 k: Int = DefaultK, nProbe: Int = 2): DataFrame = {
    import s.implicits._
    val assigned = assignCid(e, cents)
    val centDf = cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "centroid")
    // queries come from the UNassigned table — their cid is never used, and
    // deriving them from `assigned` would run the k-cosine assignment pass
    // over the whole corpus a second time
    val queries = e.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
    // probe: nProbe nearest centroids per query
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("cid"))
    val probed = queries.join(broadcast(centDf), lit(true))
      .withColumn("cdist", -VectorOps.cosine(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cid"))
    val scored = assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_sim",
        VectorOps.cosinePrenormed(col("qv"), col("embedding"), col("qn"), col("norm")))
    topKPerQuery(scored, k)
  }

  // -----------------------------------------------------------------
  // Embedding storage/transport utilities
  // -----------------------------------------------------------------

  /** Int8 symmetric quantization (per-vector absmax scaling) — the
    * standard 4× embedding-storage compressor. `scale = 127/max|x|` per
    * vector, `q = floor(x·scale + 0.5)` — floor(+0.5), NOT round(): Spark
    * `round` is HALF_UP while DuckDB's is HALF_EVEN, so round() could not
    * be oracle-matched; floor is identical in both engines for both signs.
    * All arithmetic is float→double widening (exact) then double ops
    * (IEEE-identical), so the integer output hash-matches DuckDB.
    *
    * ZERO-shuffle formulation: the absmax is a codegen'd 64-arg
    * `greatest(abs(element_at(…)))` computed BEFORE the explode (no
    * interpreted array lambda, no groupBy-and-join-back — the
    * explode/agg/self-join alternative shuffles 64n rows for what is
    * per-row arithmetic). PlanSpec pins the exchange-free plan. */
  def quantizeInt8(s: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    val maxAbs = greatest(
      (1 to dim).map(i => abs(element_at(col("embedding"), i).cast("double"))) :+
        lit(1e-12): _*)
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), (lit(127.0) / maxAbs).as("scale"))
      .select(col("vec_id"), col("scale"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("dim_idx"),
              floor(col("col").cast("double") * col("scale") + lit(0.5)).cast("long").as("q"))
  }

  val quantizeInt8Sql: String =
    """WITH x AS (
      |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS dim1, embedding
      |  FROM embeddings),
      |v AS (
      |  SELECT vec_id, CAST(dim1 - 1 AS BIGINT) AS dim_idx,
      |         CAST(embedding[CAST(dim1 AS INT)] AS DOUBLE) AS val
      |  FROM x),
      |s AS (
      |  SELECT vec_id, 127.0 / greatest(max(abs(val)), 1e-12) AS scale
      |  FROM v GROUP BY vec_id)
      |SELECT v.vec_id, v.dim_idx,
      |  CAST(floor(v.val * s.scale + 0.5) AS BIGINT) AS q
      |FROM v JOIN s USING (vec_id)""".stripMargin

  /** Johnson–Lindenstrauss random projection 64 → `outDim` dims (seeded
    * Gaussian planes, 1/√outDim scaling) — the dimensionality reducer that
    * runs before ANN indexing to cut index size and probe cost. Map-only:
    * the projection matrix is a literal; each output dim is one
    * codegen'd [[VectorOps.dot]]. Distance preservation is probabilistic
    * (ε ~ 1/√outDim, property-tested); the VALUES are deterministic and
    * DuckDB-oracled — the plane literals embed in the oracle SQL
    * verbatim (shortest-roundtrip decimal strings parse back to the
    * identical double in both engines), dots accumulate bit-identically
    * ([[bruteForceTopKSql]]), and the float quantization + e5 floor are
    * engine-identical operations. */
  def jlProject(s: SparkSession, dir: String, outDim: Int = 16, dim: Int = 64): DataFrame = {
    val planes = VectorOps.hyperplanes(outDim, dim, seed = 7L)
    val scale = 1.0 / math.sqrt(outDim)
    val projected = array(planes.map { p =>
      (VectorOps.dot(col("embedding"), array(p.map(lit): _*)) * scale).cast("float")
    }: _*)
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), projected.as("proj"))
      .select(col("vec_id"), posexplode(col("proj")))
      .select(col("vec_id"), col("pos").cast("long").as("dim_idx"),
              floor(col("col").cast("double") * lit(100000.0) + lit(0.5)).cast("long").as("val_e5"))
  }

  /** DuckDB twin of [[annLsh]] — the ANN tier under the hash gate. The
    * hyperplanes are deterministic literals; bucket bits are sign tests on
    * dots that accumulate bit-identically in both engines (see
    * [[bruteForceTopKSql]]), so the OR-construction candidate sets match
    * exactly, and scoring/ranking reuses the brute-force parity recipe. */
  def annLshSql(k: Int = DefaultK, nBits: Int = 8, nTables: Int = 4, dim: Int = 64): String = {
    val allPlanes = VectorOps.hyperplanes(nBits * nTables, dim)
    def bucketSql(t: Int): String = VectorSql.srpBucketSql("v", allPlanes, t * nBits, nBits)
    val tablesValues = (0 until nTables).map(t => s"($t)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |b AS (SELECT vec_id, [${(0 until nTables).map(bucketSql).mkString(",\n")}] AS bks FROM n),
      |banded AS (
      |  SELECT vec_id, t.tbl, bks[t.tbl + 1] AS bucket
      |  FROM b, (VALUES $tablesValues) t(tbl)),
      |qb AS (SELECT vec_id AS query_id, tbl, bucket FROM banded WHERE vec_id < $QueryCount),
      |cands AS (
      |  SELECT DISTINCT qb.query_id, c.vec_id
      |  FROM banded c JOIN qb ON c.tbl = qb.tbl AND c.bucket = qb.bucket AND c.vec_id <> qb.query_id),
      |scored AS (
      |  SELECT cands.query_id, cands.vec_id,
      |    list_sum(list_transform(range(1, ${dim + 1}), i -> qn.v[CAST(i AS INT)] * cn.v[CAST(i AS INT)]))
      |      / (qn.nrm * cn.nrm) AS cos
      |  FROM cands
      |  JOIN n qn ON qn.vec_id = cands.query_id
      |  JOIN n cn ON cn.vec_id = cands.vec_id)
      |SELECT query_id, vec_id,
      |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_e4,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
      |FROM scored
      |QUALIFY rank <= $k""".stripMargin
  }

  def jlProjectSql(outDim: Int = 16, dim: Int = 64): String = {
    val planes = VectorOps.hyperplanes(outDim, dim, seed = 7L)
    val scale = 1.0 / math.sqrt(outDim)
    val dims = planes.zipWithIndex.map { case (p, j) =>
      s"""SELECT vec_id, CAST($j AS BIGINT) AS dim_idx,
        |  CAST(floor(CAST(CAST(${VectorSql.dotSql("v", p)} * $scale AS REAL) AS DOUBLE) * 100000 + 0.5) AS BIGINT) AS val_e5
        |FROM e""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |${dims.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** DuckDB twin of [[bruteForceTopK]] — oracle-able because every double
    * op matches the Spark plan bit-for-bit: float→double casts are exact,
    * `list_sum(list_transform(...))` accumulates sequentially in double
    * exactly like [[graft.functions.expressions.DotProduct]]'s loop
    * (verified bitwise on this corpus), and norm/cosine division order is
    * identical. Ranking ties break on vec_id in both engines. */
  val bruteForceTopKSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |q AS (
      |  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < $QueryCount),
      |scored AS (
      |  SELECT q.query_id, n.vec_id,
      |    list_sum(list_transform(range(1, len(n.v) + 1),
      |      i -> q.qv[CAST(i AS INT)] * n.v[CAST(i AS INT)])) / (q.qn * n.nrm) AS cos
      |  FROM n, q WHERE n.vec_id <> q.query_id)
      |SELECT query_id, vec_id,
      |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_e4,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
      |FROM scored
      |QUALIFY rank <= $DefaultK""".stripMargin

  /** Product-quantization encoding (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011) — the storage half of the
    * IVF-PQ index family: the 64-dim vector splits into `m` = 8
    * subvectors of 8 dims; each subvector is replaced by the id of its
    * nearest codeword in that subspace's `k` = 16-entry codebook
    * (64 floats → 8 nibbles, a 64× compression).
    *
    * Codebooks here are DETERMINISTIC literals (the [[VectorOps.hyperplanes]]
    * generator — a production pipeline would train them with the same
    * per-subspace k-means as [[learnCentroids]], which is the already-
    * measured learned-quantizer path); literal codebooks make the encode
    * step fully oracle-able: squared-distance terms accumulate
    * left-to-right in double exactly like DuckDB's `list_sum`, the argmin
    * tie-breaks on code id in both engines (struct-min vs ORDER BY dist,
    * code), and the residual exports e4-floored. Map-only, one projection,
    * no shuffle — at 100 TB PQ encode is a pure scan like [[quantizeInt8]]. */
  /** The squared distance `‖x_j − c‖²` is computed as
    * `(xx_j − 2·x_j·c) + ‖c‖²` with each dot a RUNTIME loop and `‖c‖²` a
    * precomputed constant — NOT as an unrolled per-dimension `(x−c)²`
    * expression fold: the unrolled form is ~24 Catalyst nodes per
    * (subspace, codeword) (~3k per row), which blows the plan past
    * whole-stage codegen's limits and cost 6.8 s for 2 000 vectors
    * (compile + interpreted fallback). Round 10 moved the remaining m·k
    * dot loops out of the expression TREE entirely: the full per-row
    * argmin/LUT computation is one [[graft.functions.expressions.PqCodeDists]]
    * call (compiled JVM loops, ~30 lines of generated code per stage), so
    * the encode stage stays INSIDE whole-stage codegen — the literal-tree
    * form tripped Janino's 64 KB method limit inside the consuming
    * `Generate` and fell back (SURVEY §8.4). The oracle, the spec, and
    * the ADC LUT mirror the identical association `(xx − 2·dot) + cc`,
    * so the reformulation keeps bit parity (asserted by the
    * `q_emb_pq_encode`/`q_emb_pq_adc` hash gates). */
  private def pqCol(vecCol: Column, cidCol: Column, books: Seq[Seq[Double]],
                    consts: Seq[Double], m: Int, subDim: Int, k: Int,
                    includeXx: Boolean, argminOnly: Boolean): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.expressions.PqCodeDists(
      ColumnBridge.expression(vecCol), ColumnBridge.expression(cidCol),
      books, consts, m, subDim, k, includeXx, argminOnly))
  }

  /** `‖b‖²` per codeword, with the exact Scala fold the former literal
    * builder used (left-to-right `reduce`), so the data-driven constants
    * are bit-identical to the literals the oracles mirror. */
  private def bookNorms(books: Seq[Seq[Double]]): Seq[Double] =
    books.map(cb => cb.map(c => c * c).reduce(_ + _))

  def pqEncode(s: SparkSession, dir: String,
               m: Int = 8, subDim: Int = 8, k: Int = 16): DataFrame =
    pqEncodeWith(Tables(s, dir, "embeddings"),
      VectorOps.hyperplanes(m * k, subDim, seed = 11L), m, subDim, k)

  /** [[pqEncode]] against caller-supplied codebooks — the learned-codebook
    * path ([[learnPqCodebooks]]) and the literal oracle tier share this one
    * encode plan. */
  def pqEncodeWith(embeddings: DataFrame, books: Seq[Seq[Double]],
                   m: Int = 8, subDim: Int = 8, k: Int = 16): DataFrame = {
    val mins = pqCol(col("embedding"), lit(0), books, bookNorms(books),
      m, subDim, k, includeXx = true, argminOnly = true)
    embeddings
      .select(col("vec_id"), explode(mins).as("e"))
      .select(col("vec_id"), col("e.sub_idx").as("sub_idx"),
              col("e.code").as("code"),
              floor(col("e.dist") * lit(10000.0) + lit(0.5)).cast("long").as("dist_e4"))
  }

  /** Deterministic capped PQ training sample as `(vec_id, v: array<double>)`
    * — the PQ analogue of [[learnCentroids]]'s row cap: hash-ordered
    * `TakeOrderedAndProject` (per-partition heaps, no global sort), so
    * codebook training is O(1) at any corpus size. */
  def pqTrainingSample(s: SparkSession, dir: String,
                       maxTrainRows: Int = 65536): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(xxhash64(col("vec_id"), lit(13)), col("vec_id"))
      .limit(maxTrainRows)

  /** LEARNED per-subspace PQ codebooks (Jégou 2011 §III.A: k-means in each
    * subspace) — the production step the literal-hyperplane tier stands in
    * for. `vecs` is `(vec_id, v: array<double>)`, already capped by the
    * caller ([[pqTrainingSample]] / the residual sample in [[annIvfPq]]).
    *
    * All m subspaces train TOGETHER over one cached exploded sample
    * `(vec_id, j, sub, xx)`. The per-iteration assign JOINS a tiny
    * broadcast `(j, c, cw, cc)` codebook DataFrame instead of baking the
    * books into literal expressions: the plan is byte-identical across
    * iterations (only the LocalRelation DATA changes), so whole-stage
    * codegen compiles ONCE and every later round hits Spark's codegen
    * cache — the fresh-literal version re-ran Janino each round, and that
    * fixed compile cost (seconds, with 64 KB-method fallbacks at larger
    * m×k) dominated training. The price is one extra exchange of
    * partially-aggregated `(vec_id, j)` rows per round, bounded by the
    * caller's sample cap — microseconds against seconds. The SERVING
    * encode ([[pqEncodeWith]]) keeps literal books for codegen'd map-only
    * scans; only training pays the join. Only the m×k×subDim codebook
    * model crosses to the driver each round (the same
    * bounded-model-transfer contract as [[learnCentroids]]). Empty cells
    * keep their previous codeword. Deterministic: hash-ordered init,
    * fixed iteration count, `(dist, c)` struct-min tiebreak. */
  def learnPqCodebooks(s: SparkSession, vecs: DataFrame,
                       m: Int = 8, subDim: Int = 8, k: Int = 16,
                       iters: Int = 4): Seq[Seq[Double]] = {
    import s.implicits._
    val subCols = (0 until m).map(j => slice(col("v"), j * subDim + 1, subDim).as(s"sub_$j"))
    val sampled = vecs.select(col("vec_id") +: subCols: _*).cache()
    try {
      // deterministic init: the k lowest-hash DISTINCT subvector tuples seed
      // all m books — on corpora with many exact-duplicate vectors (e.g.
      // replicated scale fixtures) duplicate seeds would collapse codewords,
      // and empty cells then pin the duplicate for every iteration
      val seedRows = sampled
        .groupBy((0 until m).map(j => col(s"sub_$j")): _*)
        .agg(min(struct(xxhash64(col("vec_id"), lit(17)).as("h"),
                        col("vec_id").as("id"))).as("ord"))
        .orderBy(col("ord.h"), col("ord.id"))
        .limit(k).collect()
      require(seedRows.nonEmpty, "PQ training sample is empty")
      if (seedRows.length < k)
        System.err.println(s"[graft] learnPqCodebooks: only ${seedRows.length} distinct " +
          s"subvector rows for k=$k seeds — codebooks will carry duplicate codewords")
      val seed = Iterator.continually(seedRows.toIndexedSeq).flatten.take(k).toIndexedSeq
      var books: IndexedSeq[Seq[Double]] = (0 until m).flatMap(j =>
        seed.map(_.getSeq[Double](j).toSeq))
      // iteration-independent exploded sample: (vec_id, j, sub, xx) — one
      // row per (sample row, subspace); cached once, reused every round
      val exploded = sampled.select(col("vec_id"), explode(array((0 until m).map(j =>
          struct(lit(j).as("j"), col(s"sub_$j").as("sub"))): _*)).as("e"))
        .select(col("vec_id"), col("e.j").as("j"), col("e.sub").as("sub"))
        .withColumn("xx", VectorOps.dot(col("sub"), col("sub")))
        .cache()
      try {
        for (_ <- 0 until iters) {
          // (xx − 2·dot) + cc — same association as pqDist, so the learned
          // books are bit-identical to the former literal-expression assign
          val bookDf = broadcast((for { j <- 0 until m; c <- 0 until k } yield {
            val cw = books(j * k + c)
            (j, c, cw, cw.map(x => x * x).reduce(_ + _))
          }).toDF("j", "c", "cw", "cc"))
          val recentered = exploded.join(bookDf, "j")
            .withColumn("dist",
              col("xx") - lit(2.0) * VectorOps.dot(col("sub"), col("cw")) + col("cc"))
            .groupBy(col("vec_id"), col("j"))
            .agg(min(struct(col("dist"), col("c"))).getField("c").as("cid"),
                 first(col("sub")).as("sub"))
            .groupBy(col("j"), col("cid"))
            .agg(array((0 until subDim).map(d =>
              avg(element_at(col("sub"), d + 1))): _*).as("c"))
            .collect()
            .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq).toMap
          books = (0 until m).flatMap(j => (0 until k).map(c =>
            recentered.getOrElse((j, c), books(j * k + c))))
        }
      } finally { exploded.unpersist(); () }
      books
    } finally { sampled.unpersist(); () }
  }

  /** The shared `cb` VALUES table and `d` distance CTE of both PQ oracles —
    * mirrors [[pqDist]]'s `(xx − 2·dot) + cc` association exactly. */
  private def pqDistCtes(m: Int, subDim: Int, k: Int): String = {
    val books = VectorOps.hyperplanes(m * k, subDim, seed = 11L)
    val cbValues = (for { j <- 0 until m; c <- 0 until k } yield {
      val cb = books(j * k + c)
      s"($j, $c, ${VectorSql.planeSql(cb)}, ${cb.map(x => x * x).reduce(_ + _)})"
    }).mkString(",\n  ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cb(sub_idx, code, c, cc) AS (VALUES
      |  $cbValues),
      |d AS (
      |  SELECT e.vec_id, cb.sub_idx, cb.code,
      |    list_sum(list_transform(range(1, ${subDim + 1}),
      |      i -> e.v[CAST(cb.sub_idx * $subDim + i AS INT)]
      |         * e.v[CAST(cb.sub_idx * $subDim + i AS INT)]))
      |    - 2.0 * list_sum(list_transform(range(1, ${subDim + 1}),
      |      i -> e.v[CAST(cb.sub_idx * $subDim + i AS INT)] * cb.c[CAST(i AS INT)]))
      |    + cb.cc AS dist
      |  FROM e, cb)""".stripMargin
  }

  def pqEncodeSql(m: Int = 8, subDim: Int = 8, k: Int = 16): String =
    s"""WITH ${pqDistCtes(m, subDim, k)}
      |SELECT vec_id, CAST(sub_idx AS BIGINT) AS sub_idx, CAST(code AS BIGINT) AS code,
      |  CAST(floor(dist * 10000 + 0.5) AS BIGINT) AS dist_e4
      |FROM d
      |QUALIFY row_number() OVER (PARTITION BY vec_id, sub_idx ORDER BY dist, code) = 1""".stripMargin

  /** PQ asymmetric-distance (ADC) top-k search over the COMPRESSED codes —
    * the operator PQ encoding exists for: per query, a 128-entry lookup
    * table (query-subvector → squared distance to each codeword) is
    * computed once; each corpus vector's approximate L2² distance is then
    * the sum of 8 table lookups over its codes — the 64-float vectors
    * never re-enter the scan (Jégou 2011 §IV).
    *
    * ORACLE-SAFE by integer quantization at the right boundary: each
    * per-subspace LUT distance is e4-floored to an integer FIRST, so the
    * per-candidate sum is an exact integer aggregation (a double sum over
    * a groupBy would be partial-aggregation-order-dependent and could
    * never hash-match). Ranking orders by the integer distance with a
    * vec_id tie-break in both engines.
    *
    * 100 TB shape: codes ⋈ broadcast(LUT) keyed (sub_idx, code), then one
    * integer groupBy-sum per (query, candidate) — linear in codes ×
    * queries, and the codes table is ~64× smaller than the vectors it
    * replaces; the declarative analogue of the SIMD LUT scan. */
  def pqAdcTopK(s: SparkSession, dir: String, kNN: Int = DefaultK,
                m: Int = 8, subDim: Int = 8, k: Int = 16): DataFrame = {
    val books = VectorOps.hyperplanes(m * k, subDim, seed = 11L)
    val codes = pqEncode(s, dir, m, subDim, k).select("vec_id", "sub_idx", "code")
    val lutEntries = pqCol(col("embedding"), lit(0), books, bookNorms(books),
      m, subDim, k, includeXx = true, argminOnly = false)
    val lut = Tables(s, dir, "embeddings")
      .filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("query_id"), explode(lutEntries).as("e"))
      .select(col("query_id"), col("e.sub_idx").as("sub_idx"), col("e.code").as("code"),
              floor(col("e.dist") * lit(10000.0) + lit(0.5)).cast("long").as("d_e4"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_e4"), col("vec_id"))
    codes.join(broadcast(lut), Seq("sub_idx", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d_e4")).as("adc_e4"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("query_id"), col("vec_id"), col("adc_e4"),
              col("rank").cast("long").as("rank"))
  }

  def pqAdcTopKSql(kNN: Int = DefaultK, m: Int = 8, subDim: Int = 8, k: Int = 16): String =
    s"""WITH ${pqDistCtes(m, subDim, k)},
      |codes AS (
      |  SELECT vec_id, sub_idx, code FROM d
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub_idx ORDER BY dist, code) = 1),
      |lut AS (
      |  SELECT d.vec_id AS query_id, d.sub_idx, d.code,
      |    CAST(floor(d.dist * 10000 + 0.5) AS BIGINT) AS d_e4
      |  FROM d WHERE d.vec_id < $QueryCount),
      |adc AS (
      |  SELECT l.query_id, c.vec_id, CAST(sum(l.d_e4) AS BIGINT) AS adc_e4
      |  FROM codes c JOIN lut l ON c.sub_idx = l.sub_idx AND c.code = l.code
      |  WHERE l.query_id <> c.vec_id
      |  GROUP BY 1, 2)
      |SELECT query_id, vec_id, adc_e4,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_e4, vec_id) AS BIGINT) AS rank
      |FROM adc
      |QUALIFY rank <= $kNN""".stripMargin

  // -----------------------------------------------------------------
  // IVF-PQ: the composed production ANN index (Jégou 2011 §IV.A–B)
  // -----------------------------------------------------------------

  /** Per-subspace RESIDUAL distances `‖(x_j − cent(cid)_j) − b_{j,c}‖²`
    * for every code c, with the centroid shift folded into literals via
    * dot-product linearity:
    *
    *   ‖y − a − b‖² = y·y − 2·y·a − 2·y·b + (a·a + 2·a·b + b·b)
    *
    * where y = x_j is the only runtime vector. The centroid subvector `a`
    * enters through two cid-indexed lookups — one dot per centroid
    * (shared across all k codes of the subspace) and one precomputed
    * scalar per (cid, code) — so residual encoding stays MAP-ONLY (no
    * join against a codebook table, no interpreted `zip_with` residual
    * materialization on the corpus) and inside whole-stage codegen:
    * m·(k + nCentroids + 1) native dot loops per row, the same node-budget
    * discipline that took [[pqEncode]] from 6.8 s to 0.4 s. */
  /** Rank-reduced residual ENCODE argmin constants: within one
    * (row, subspace), `y·y` and `y·a(cid)` are constant across all k
    * candidates, so
    * `argmin_c ‖(y−a)−b_c‖² = argmin_c [−2·y·b_c + (2·a·b_c + b_c·b_c)]`
    * — dropping them removes m·(nCentroids+1) dot loops per row from the
    * corpus-wide hot path. Valid ONLY for the argmin: the values are
    * offset by `yy − 2·y·a + a·a` per (row, cid); the ADC LUT (which
    * compares across probed lists) keeps the full linearity decomposition
    * (see [[ivfPqSearchWith]]'s konst table). The Scala folds below are
    * the exact expressions the former literal column builder used, so the
    * data-driven constants stay bit-identical to what the DuckDB twins
    * (`q_sim_ann_ivf_pq_search_lit`) mirror. Flattened `((cid·m + j)·k + c)`
    * as [[graft.functions.expressions.PqCodeDists]] expects. */
  private def residualArgminConsts(cents: Seq[Seq[Double]], books: Seq[Seq[Double]],
                                   m: Int, subDim: Int, k: Int): Seq[Double] =
    for { ci <- cents.indices; j <- 0 until m; c <- 0 until k } yield {
      val a = cents(ci).slice(j * subDim, (j + 1) * subDim)
      val b = books(j * k + c)
      2.0 * a.zip(b).map { case (x, y) => x * y }.sum + b.map(x => x * x).sum
    }

  /** IVFADC storage half: PQ codes of the residual `x − centroid(cid)`
    * (Jégou §IV.A — codebooks cover the residual distribution, which is
    * why they are trained on residuals in [[annIvfPq]]). Input must carry
    * `(vec_id, cid, embedding)`; output `(vec_id, cid, sub_idx, code)` is
    * the persisted index at scale. Map-only, one projection, argmin on
    * the rank-reduced distances inside one [[graft.functions.expressions.PqCodeDists]]
    * call (whole-stage codegen survives at any m/k/nCentroids — the
    * literal-tree form fell back past Janino's 64 KB limit). */
  private def pqEncodeResiduals(assigned: DataFrame, cents: Seq[Seq[Double]],
                                books: Seq[Seq[Double]],
                                m: Int, subDim: Int, k: Int): DataFrame = {
    val mins = pqCol(col("embedding"), col("cid").cast("int"), books,
      residualArgminConsts(cents, books, m, subDim, k),
      m, subDim, k, includeXx = false, argminOnly = true)
    assigned.select(col("vec_id"), col("cid"), explode(mins).as("e"))
      .select(col("vec_id"), col("cid"), col("e.sub_idx").as("sub_idx"),
              col("e.code").as("code"))
  }

  /** Deterministic capped sample of coarse-quantizer RESIDUALS
    * `x − centroid(cid)` — the PQ-codebook training input, defined ONCE and
    * shared by [[annIvfPq]] and [[buildIvfPqIndex]] so the one-shot query
    * and the persisted index can never de-sync on the cap or the hash
    * seed. The interpreted `zip_with` residual materialization touches
    * only this capped sample, never the corpus. */
  private def residualTrainingSample(e: DataFrame, cents: Seq[Seq[Double]],
                                     maxTrainRows: Int): DataFrame = {
    val centArr = array(cents.map(cc => array(cc.map(lit): _*)): _*)
    assignCid(
        e.select(col("vec_id"), col("embedding"))
          .orderBy(xxhash64(col("vec_id"), lit(13)), col("vec_id")).limit(maxTrainRows),
        cents)
      .select(col("vec_id"),
        zip_with(col("embedding").cast("array<double>"),
                 element_at(centArr, col("cid") + 1), (x, c) => x - c).as("v"))
  }

  /** The composed IVF-PQ index — the operator a 100 TB ANN deployment
    * actually runs (Jégou 2011 §IV.A–B, "IVFADC"): coarse-probe, then
    * ADC-scan only the probed lists' compressed codes, then exact re-rank
    * of the short list.
    *
    *   1. coarse quantizer: [[learnCentroids]] k-means (shared with
    *      [[annIvf]]); every vector stores its list id + the PQ codes of
    *      its RESIDUAL, with codebooks trained on residuals
    *      ([[learnPqCodebooks]] over a capped sample — the interpreted
    *      `zip_with` residual materialization touches ONLY that sample);
    *   2. probe: each query picks its nProbe nearest centroids;
    *   3. ADC: per (query, probed list) a 128-entry LUT of e4-floored
    *      integer distances broadcasts; candidates come from
    *      `codes ⋈ broadcast(LUT)` keyed `(cid, sub_idx, code)` — the join
    *      key itself restricts the scan to probed lists — followed by ONE
    *      integer groupBy-sum (order-independent, so deterministic under
    *      any partial-aggregation schedule);
    *   4. exact re-rank: the top-`rerank` ADC candidates (queries×R rows,
    *      broadcast) re-score against the raw vectors for the final
    *      cosine top-k.
    *
    * 100 TB shape: the corpus is touched by exactly two scans that would
    * be precomputed/persisted in production (assignment + codes), one
    * broadcast-join ADC scan over the CODES (64× smaller than the
    * vectors, probed fraction only), and a broadcast semi-join re-rank —
    * no shuffle of the embedding table anywhere. Float k-means makes the
    * tier rows-only by contract (like [[annIvf]]); SimilaritySpec pins
    * the recall law against [[bruteForceTopK]] and plain [[annIvf]]. */
  /** `pqIters` is lower than the coarse `iters` by default: each codebook
    * iteration re-plans the 128-candidate assign expression with fresh
    * literals (a fixed compile cost per round at ANY corpus size), and two
    * rounds already land within the distortion spec's margin; the coarse
    * quantizer keeps `iters` = [[annIvf]]'s so both tiers probe the SAME
    * lists (the recall-law comparison in SimilaritySpec depends on it).
    *
    * `rerank` sizing at scale: grow the shortlist with the probed pool —
    * `rerank = max(50, 5·kNN·nProbe)` (SURVEY §8.5.7, round 11: a fixed
    * R=50 left ~0.005 recall on the table at 32 lists; the adaptive rule
    * reaches 1.000 at the same 0.13 scanned fraction). The default stays
    * 50 for the registered (8-list, nProbe=2) demo configuration, which
    * is already at its plateau there. */
  def annIvfPq(s: SparkSession, dir: String, kNN: Int = DefaultK, nProbe: Int = 2,
               nCentroids: Int = 8, iters: Int = 4, pqIters: Int = 2, rerank: Int = 50,
               m: Int = 8, subDim: Int = 8, k: Int = 16,
               maxTrainRows: Int = 65536, nQueries: Int = QueryCount): DataFrame = {
    val e = emb(s, dir)
    // 1a. coarse quantizer
    val cents = learnCentroids(s, e, nCentroids, iters)
    // 1b. PQ codebooks trained on coarse residuals of a capped sample
    val books = learnPqCodebooks(s, residualTrainingSample(e, cents, maxTrainRows),
      m, subDim, k, iters = pqIters)
    // 1c. the (in-memory) index: list assignment + residual codes
    val assigned = assignCid(e, cents)
    val codes = pqEncodeResiduals(
      assigned.select(col("vec_id"), col("cid"), col("embedding")),
      cents, books, m, subDim, k)
    // 2–4. probe → broadcast-LUT ADC over the probed lists → exact
    // re-rank: the same search stages the persisted index serves
    // ([[ivfPqSearchWith]]; [[buildIvfPqIndex]]/[[annIvfPqSearch]] is the
    // amortized production split of this one-shot query)
    ivfPqSearchWith(e, _ => codes, cents, books, kNN, nProbe, rerank, m, subDim, k,
      nQueries)(s)
  }

  /** Search stages 2–4 of the IVF-PQ index (probe → ADC over probed
    * lists → exact re-rank), shared verbatim by the self-contained
    * [[annIvfPq]] and the persisted-index [[annIvfPqSearch]] — given the
    * same model and codes, the two paths are the same plan. */
  private def ivfPqSearchWith(e: DataFrame, codesFor: Seq[Int] => DataFrame,
                              cents: Seq[Seq[Double]], books: Seq[Seq[Double]],
                              kNN: Int, nProbe: Int, rerank: Int,
                              m: Int, subDim: Int, k: Int,
                              nQueries: Int = QueryCount)
                             (implicit s: SparkSession): DataFrame = {
    import s.implicits._
    val centDf = cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "centroid")
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("cid"))
    val probed = graft.Checkpoints.local(
      queries.join(broadcast(centDf), lit(true))
        .withColumn("cdist", -VectorOps.cosine(col("qv"), col("centroid")))
        .withColumn("crank", row_number().over(probeW))
        .filter(col("crank") <= nProbe)
        .select(col("query_id"), col("cid"), col("qv").as("embedding")))
    // the union of probed lists across the query set — what the code scan
    // is allowed to read (≤ nCentroids ints to the driver); a partitioned
    // index turns this into file-level pruning via `codesFor`
    val probedCids = probed.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val codes = codesFor(probedCids)
    // LUT as DATA, not literals: the previous formulation compiled an
    // m·k-struct literal array (with m·(k + nCentroids + 1) literal dot
    // loops inside) into the plan on EVERY run — a fixed analysis+codegen
    // cost that dominated the amortized search path this query exists to
    // demonstrate. Here the model lands in three tiny broadcast tables
    // (m·nCentroids centroid subvectors, m·k codebook subvectors,
    // m·nCentroids·k precomputed constants) and the distance arithmetic is
    // one constant-shape generic expression over array columns, so the
    // compiled plan is small and independent of m/k/nCentroids. Same
    // linearity decomposition and e4 floor as the residual encode:
    //   ‖(y_j − a_j) − b_c‖² = y·y − 2·y·a − 2·y·b + (a·a + 2·a·b + b·b)
    val centSub = broadcast((for { j <- 0 until m; i <- cents.indices }
      yield (j.toLong, i, cents(i).slice(j * subDim, (j + 1) * subDim)))
      .toDF("sub_idx", "cid", "avec"))
    val bookSub = broadcast((for { j <- 0 until m; c <- 0 until k }
      yield (j.toLong, c.toLong, books(j * k + c))).toDF("sub_idx", "code", "bvec"))
    val konst = broadcast((for { j <- 0 until m; i <- cents.indices; c <- 0 until k } yield {
        val a = cents(i).slice(j * subDim, (j + 1) * subDim)
        val b = books(j * k + c)
        (j.toLong, i, c.toLong,
          a.map(x => x * x).sum + 2.0 * a.zip(b).map { case (x, y) => x * y }.sum +
            b.map(x => x * x).sum)
      }).toDF("sub_idx", "cid", "code", "k_const"))
    val lut = probed
      .select(col("query_id"), col("cid"),
        posexplode(array((0 until m).map(j =>
          slice(col("embedding"), j * subDim + 1, subDim)): _*)).as(Seq("sub_idx", "sub")))
      .withColumn("sub_idx", col("sub_idx").cast("long"))
      .withColumn("yy", VectorOps.dot(col("sub"), col("sub")))
      .join(centSub, Seq("sub_idx", "cid"))
      .withColumn("ya", VectorOps.dot(col("sub"), col("avec")))
      .join(bookSub, Seq("sub_idx"))
      .withColumn("yb", VectorOps.dot(col("sub"), col("bvec")))
      .join(konst, Seq("sub_idx", "cid", "code"))
      .select(col("query_id"), col("cid"), col("sub_idx"), col("code"),
        floor((col("yy") - lit(2.0) * col("ya") - lit(2.0) * col("yb") + col("k_const"))
          * lit(10000.0) + lit(0.5)).cast("long").as("d_e4"))
    val adc = codes.join(broadcast(lut), Seq("cid", "sub_idx", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d_e4")).as("adc_e4"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc_e4"), col("vec_id"))
    val shortlist = adc.withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("vec_id"))
    val scored = e.select(col("vec_id"), col("embedding"), col("norm"))
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos_sim",
        VectorOps.cosinePrenormed(col("qv"), col("embedding"), col("qn"), col("norm")))
    topKPerQuery(scored, kNN)
  }

  /** Build and PERSIST the IVF-PQ index — the amortization the 100 TB
    * story assumes: assignment + residual codes land as parquet (the 64×
    * compressed scan target), the k-means model (centroids + codebooks)
    * lands as a tiny `(kind, idx, vec)` table. [[annIvfPqSearch]] then
    * answers queries against the stored index without touching the raw
    * vectors except for the shortlist re-rank — index build cost is paid
    * once, not per query (the self-contained [[annIvfPq]] bench entry
    * pays it every run BY DESIGN, to stay a pure function of its inputs).
    * Returns the model for callers that want to search in-memory. */
  def buildIvfPqIndex(s: SparkSession, dir: String, indexDir: String,
                      nCentroids: Int = 8, iters: Int = 4, pqIters: Int = 2,
                      m: Int = 8, subDim: Int = 8, k: Int = 16,
                      maxTrainRows: Int = 65536): (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    val (cents, books) = learnIvfPqModel(s, emb(s, dir), nCentroids, iters,
      pqIters, m, subDim, k, maxTrainRows)
    buildIvfPqIndexWith(s, dir, indexDir, cents, books, m, subDim, k)
  }

  /** Learn a full IVF-PQ model (coarse centroids + residual codebooks)
    * over a CALLER-SUPPLIED vector set — the train-on-yesterday's-corpus
    * shape [[appendToIvfPqIndex]] freezes; shared by [[buildIvfPqIndex]]
    * and the append-at-scale probe. */
  def learnIvfPqModel(s: SparkSession, vecs: DataFrame,
                      nCentroids: Int = 8, iters: Int = 4, pqIters: Int = 2,
                      m: Int = 8, subDim: Int = 8, k: Int = 16,
                      maxTrainRows: Int = 65536): (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    val cents = learnCentroids(s, vecs, nCentroids, iters)
    val books = learnPqCodebooks(s, residualTrainingSample(vecs, cents, maxTrainRows),
      m, subDim, k, iters = pqIters)
    (cents, books)
  }

  /** Persistence half of [[buildIvfPqIndex]] against a CALLER-SUPPLIED
    * model — shared by the learned production build and the literal-model
    * oracle twin ([[ivfPqSearchLitQuery]]), so both write the identical
    * index layout and [[annIvfPqSearch]] serves either without knowing
    * which it got. */
  def buildIvfPqIndexWith(s: SparkSession, dir: String, indexDir: String,
                          cents: Seq[Seq[Double]], books: Seq[Seq[Double]],
                          m: Int = 8, subDim: Int = 8,
                          k: Int = 16): (Seq[Seq[Double]], Seq[Seq[Double]]) =
    buildIvfPqIndexOver(s, emb(s, dir), indexDir, cents, books, m, subDim, k)

  /** [[buildIvfPqIndexWith]] over a caller-supplied vector set — the
    * append spec builds its "old"-split base and its same-model full
    * rebuild through this one path. */
  def buildIvfPqIndexOver(s: SparkSession, vecs: DataFrame, indexDir: String,
                          cents: Seq[Seq[Double]], books: Seq[Seq[Double]],
                          m: Int = 8, subDim: Int = 8,
                          k: Int = 16,
                          assignDepth: Option[Int] = None): (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    import s.implicits._
    // assignment depth SIZED AT BUILD (round-16 verdict task 3): above
    // DenseCutoff the two-level argmax probes `assignProbe` coarse cells,
    // chosen by the covering rule over the build corpus instead of a
    // fixed 2 — and FROZEN in the model meta so appends and drift
    // telemetry assign with exactly the function that built the lists
    // (below the cutoff dense assignment is exact; the sizing pass is
    // never paid). `assignDepth` pins the depth instead — the depth is
    // PART of the frozen model, so a rebuild that must equal an existing
    // index (the append≡rebuild law's comparison arm) passes the stored
    // one rather than re-sizing over its own (different) corpus
    val assignProbe = assignDepth.getOrElse {
      if (cents.length <= graft.functions.CentroidAssign.DenseCutoff) 2
      else {
        val p = graft.functions.CentroidAssign
          .nProbeForCoveringOf(vecs, "embedding", cents, AssignCoveringTarget)
        System.err.println(s"[graft] buildIvfPqIndexOver($indexDir): covering-" +
          s"sized assignProbe=$p (K=${cents.length}, target=$AssignCoveringTarget)")
        p
      }
    }
    // codes are HASH-PARTITIONED on cid (round 13): `cid` is the search's
    // probe key — annIvfPqSearch reads ONLY the partitions the probed
    // lists hash into, which is the physical form of the "scan the probed
    // lists" promise (rowgroup stats pruned within a file before; now the
    // unprobed files are never opened at all)
    IndexFamily.writePartitioned(
      pqEncodeResiduals(
        assignCid(vecs, cents, assignProbe).select(col("vec_id"), col("cid"), col("embedding")),
        cents, books, m, subDim, k),
      s"$indexDir/codes.parquet", "cid")
    // drift baselines: the build corpus's assignment fit and IVF list
    // occupancy under the model just frozen — what ivfPqDriftCheck
    // compares every future append against (bounded sampled scans;
    // NaN-guarded for empty builds)
    val fit = ivfPqAssignmentFit(s, vecs, cents, nProbe = assignProbe)
    val occ = if (fit.isNaN) Nil
              else Seq(("fit", 0, Seq(fit)),
                       ("occ", 0, ivfPqOccupancy(s, vecs, cents, nProbe = assignProbe)))
    // the meta row pins the build hyperparameters: a search with different
    // (m, subDim, k, nCentroids) would mis-index books(j·k + c) and return
    // plausible-but-wrong neighbors — annIvfPqSearch require()s agreement.
    // 5th value: the frozen assignment depth
    (Seq(("meta", 0, Seq(m.toDouble, subDim.toDouble, k.toDouble,
        cents.length.toDouble, assignProbe.toDouble))) ++
      occ ++
      cents.zipWithIndex.map { case (c, i) => ("cent", i, c) } ++
      books.zipWithIndex.map { case (b, i) => ("book", i, b) })
      .toDF("kind", "idx", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/model.parquet")
    (cents, books)
  }

  /** ANN search against a [[buildIvfPqIndex]]-persisted index: loads the
    * tiny model to the driver (k×dim ×2 — the same bounded transfer as
    * training), scans the 64×-compressed codes for the probed lists, and
    * re-ranks the shortlist against the raw vectors. The per-query cost a
    * production deployment actually pays. */
  def annIvfPqSearch(s: SparkSession, dir: String, indexDir: String,
                     kNN: Int = DefaultK, nProbe: Int = 2, rerank: Int = 50,
                     m: Int = 8, subDim: Int = 8, k: Int = 16,
                     nQueries: Int = QueryCount): DataFrame = {
    // search probes QUERY-side lists via its own nProbe knob; the stored
    // assignment depth only matters to writers (build/append/telemetry)
    val (cents, books, _) = loadIvfPqModel(s, indexDir, m, subDim, k)
    val codesPath = s"$indexDir/codes.parquet"
    // the cid-partitioned layout makes "scan the probed lists" physical:
    // read ONLY the partitions the probed cids hash into — unprobed code
    // files are never opened (round 13)
    val codesFor = (probedCids: Seq[Int]) => {
      val nP = IndexFamily.partsOf(s, codesPath)
      IndexFamily.readPartitions(s, codesPath,
        probedCids.map(c => math.floorMod(c, nP)).distinct)
    }
    ivfPqSearchWith(emb(s, dir), codesFor, cents, books, kNN, nProbe, rerank,
      m, subDim, k, nQueries)(s)
  }

  /** Load a persisted index's FROZEN model with the hyperparameter
    * handshake — shared by [[annIvfPqSearch]] and [[appendToIvfPqIndex]]:
    * refuse to serve or extend an index whose stored (m, subDim, k)
    * disagree with the caller's — a silent mismatch mis-indexes the
    * codebooks instead of erroring. The nCentroids leg is an index
    * SELF-consistency check (stored meta vs the centroid rows loaded from
    * the same file), not a caller comparison. */
  private def loadIvfPqModel(s: SparkSession, indexDir: String,
                             m: Int, subDim: Int,
                             k: Int): (Seq[Seq[Double]], Seq[Seq[Double]], Int) = {
    val model = s.read.parquet(s"$indexDir/model.parquet")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq).toMap
    val cents = (0 until model.count(_._1._1 == "cent")).map(i => model(("cent", i)))
    val books = (0 until model.count(_._1._1 == "book")).map(i => model(("book", i)))
    val meta = model.getOrElse(("meta", 0),
      sys.error(s"$indexDir/model.parquet has no meta row — rebuild with buildIvfPqIndex"))
    require(meta.map(_.toInt).take(3) == Seq(m, subDim, k),
      s"index at $indexDir built with (m,subDim,k)=(${meta.map(_.toInt).take(3).mkString(",")}); " +
        s"caller passed ($m,$subDim,$k)")
    require(meta(3).toInt == cents.length,
      s"index at $indexDir is self-inconsistent: meta says ${meta(3).toInt} centroids, " +
        s"model file holds ${cents.length}")
    require(books.length == m * k,
      s"index at $indexDir holds ${books.length} codewords, expected m*k=${m * k}")
    // 5th meta value: the build-frozen assignment depth (round-16 verdict
    // task 3)
    (cents, books, meta(4).toInt)
  }

  /** APPEND a batch of new vectors to a [[buildIvfPqIndex]]-persisted
    * index (round-11 verdict task 4): assign + residual-encode ONLY the
    * batch with the index's FROZEN stored model and append the code
    * partitions — cost ∝ new rows, never the corpus. The model is never
    * retrained here (a drifted corpus wants a rebuild, not a silently
    * re-centered append — the codes already in the index were quantized
    * against the stored centroids); the [[loadIvfPqModel]] handshake
    * refuses a hyperparameter mismatch. Because encoding is a pure
    * per-vector function of (vector, model), a search over the appended
    * index is EXACTLY a search over a from-scratch build of the full
    * corpus with the same model — IvfPqAppendSpec pins that equality.
    * Returns the appended codes (lazy; the write already materialized
    * them once). */
  def appendToIvfPqIndex(s: SparkSession, newVecs: DataFrame, indexDir: String,
                         m: Int = 8, subDim: Int = 8, k: Int = 16,
                         driftTolerance: Double = 0.05): DataFrame = {
    val (cents, books, storedProbe) = loadIvfPqModel(s, indexDir, m, subDim, k)
    // the rebuild trigger, armed per append (bounded sampled scan of the
    // batch): appends keep working under drift — stale quantization is a
    // recall degradation, not an error — but the operator says so loudly
    ivfPqDriftCheck(s, indexDir, newVecs, m, subDim, k, driftTolerance)
      .filter(_.drifted).foreach { d =>
        System.err.println(f"[graft] appendToIvfPqIndex DRIFT-ARMED: batch fit " +
          f"${d.batchFit}%.4f vs baseline ${d.baselineFit}%.4f, occupancy TV " +
          f"${d.occupancyTv}%.3f — the frozen model is stale for this batch; " +
          "rebuild the index")
      }
    val codes = pqEncodeResiduals(
      // the stored depth, not a fixed 2: appended codes must land in the
      // SAME lists a from-scratch rebuild with this model would produce,
      // or the append≡rebuild law (IvfPqAppendSpec) breaks above the
      // dense cutoff
      assignCid(newVecs, cents, storedProbe)
        .select(col("vec_id"), col("cid"), col("embedding")),
      cents, books, m, subDim, k)
    // append into the cid-partitioned layout; the lease check inside makes
    // the append-vs-maintenance race refuse instead of losing rows
    IndexFamily.appendPartitioned(codes, s"$indexDir/codes.parquet", "cid",
      "appendToIvfPqIndex")
    codes
  }

  /** DELETE vectors from a persisted IVF-PQ index (round-12 verdict
    * task 4): rewrite-filter the code table through
    * [[IndexMaintenance.rewriteSwap]] — same trade as the dedup indexes
    * (takedown bytes leave the disk; a tombstone would tax every search's
    * code scan with an anti-join instead). The model is untouched: codes
    * are a pure per-vector function of (vector, frozen model), so the
    * filtered table is bit-identical to encoding the surviving vectors
    * from scratch with the same model, and a search over the post-delete
    * index ≡ a search over a rebuild-without-deleted
    * (IndexMaintenanceSpec pins it). Deleting training-set vectors does
    * NOT degrade the stored model's validity for the survivors — it was
    * frozen at build; heavy deletion changing the distribution is the
    * same situation as corpus drift under [[appendToIvfPqIndex]], and the
    * answer is the same: rebuild when drift telemetry says so. */
  def deleteFromIvfPqIndex(s: SparkSession, indexDir: String,
                           vecIds: DataFrame): Unit = {
    val idsRaw = vecIds.select(col("vec_id")).distinct()
    val ids = IndexFamily.maybeBroadcast(idsRaw, idsRaw.count())
    // layout-preserving rewrite (the using-column anti-join moves vec_id
    // first — re-select the stored order, the mergeTouched discipline)
    IndexFamily.rewritePartitioned(s, s"$indexDir/codes.parquet", "cid") { c =>
      c.join(ids, Seq("vec_id"), "left_anti")
        .select(c.columns.map(col): _*)
    }
  }

  /** COMPACT a persisted IVF-PQ index's code table — the
    * [[graft.operators.Dedup.compactIndex]] shape on the third growing
    * index: appends accumulate part files, and a search scans codes BY
    * LIST (`cid` is the ADC join's leading key), so the compacted layout
    * repartitions+sorts by `(cid, vec_id, sub_idx)` — rowgroup stats then
    * prune unprobed lists from the scan, which is exactly the pruning the
    * probed-list semantics promise. Pure reorganization
    * (IndexMaintenanceSpec pins search-identical). */
  def compactIvfPqIndex(s: SparkSession, indexDir: String, nFiles: Int = 8): Unit =
    // layout-preserving: one file per cid partition (appends accumulate a
    // file per batch per touched partition; compaction collapses them),
    // rows ordered by (cid, vec_id, sub_idx) within the file — `nFiles`
    // is subsumed by the partition grain
    IndexFamily.rewritePartitioned(s, s"$indexDir/codes.parquet", "cid",
      sortCols = Seq("cid", "vec_id", "sub_idx"))(identity)

  // -----------------------------------------------------------------
  // Drift telemetry: WHEN to rebuild instead of append (round 12 — the
  // §8.5.10 rebuild-trigger sentence made executable)
  // -----------------------------------------------------------------

  /** "Assignment fit" of a vector set under frozen coarse centroids: the
    * mean best-centroid cosine — exactly the statistic [[assignCid]]
    * maximizes per row, so a batch whose distribution has drifted away
    * from the training corpus scores measurably lower (its vectors land
    * far from every centroid and their residuals blow past what the PQ
    * codebooks were trained to cover). Computed on a deterministic
    * hash-ordered sample capped at `maxRows` (the [[learnCentroids]]
    * bounded-training discipline): a fit ESTIMATE needs a fixed number of
    * points, so the statistic costs O(1) at any corpus size. */
  def ivfPqAssignmentFit(s: SparkSession, vecs: DataFrame,
                         cents: Seq[Seq[Double]],
                         maxRows: Int = 65536,
                         nProbe: Int = 2): Double = {
    val sampled = vecs.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id"), lit(7)), col("vec_id"))
      .limit(maxRows)
    val row = graft.functions.CentroidAssign
      .withBestCentroid(sampled, "embedding", cents,
        cidName = "__cid", simName = "__csim", nProbe = nProbe)
      .agg(avg(col("__csim"))).head()
    if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
  }

  /** Centroid OCCUPANCY of a vector set under frozen centroids: the
    * fraction of (sampled) vectors assigned to each coarse list, in cid
    * order — the IVF list-size profile. Complements the fit statistic:
    * a distribution that COLLAPSES onto few lists keeps its per-vector
    * fit (each vector is still near some centroid) while hot lists
    * destroy probed-search selectivity; occupancy shift catches it. Same
    * bounded-sample discipline as [[ivfPqAssignmentFit]]. */
  def ivfPqOccupancy(s: SparkSession, vecs: DataFrame,
                     cents: Seq[Seq[Double]],
                     maxRows: Int = 65536,
                     nProbe: Int = 2): Seq[Double] = {
    val sampled = vecs.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id"), lit(7)), col("vec_id"))
      .limit(maxRows)
    val counts = graft.functions.CentroidAssign
      .withBestCentroid(sampled, "embedding", cents,
        cidName = "cid", simName = "__sim", nProbe = nProbe)
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = math.max(1L, counts.values.sum)
    cents.indices.map(i => counts.getOrElse(i, 0L).toDouble / total)
  }

  /** One drift measurement against a persisted index's stored build-time
    * baselines, two complementary legs — the rebuild trigger
    * ([[appendToIvfPqIndex]] freezes the model BY DESIGN; this is the
    * telemetry that says the freeze has gone stale):
    *
    *  - fit leg: the batch's mean best-centroid cosine sits more than
    *    `fitTolerance` below the build corpus's (vectors the centroids
    *    no longer cover — residuals outrun the codebooks, recall decays).
    *    The baseline includes the k-means training sample; at deployment
    *    scale that sample is a ≤64k drop in the corpus so the baseline is
    *    effectively held-out, but on corpora comparable to the training
    *    sample it is optimistic by the overfit margin — size
    *    `fitTolerance` accordingly there;
    *  - occupancy leg: total-variation distance between the batch's and
    *    the build's IVF list profiles exceeds `occTolerance` (hot lists —
    *    probed search loses selectivity even though per-vector fit holds). */
  case class IvfPqDrift(baselineFit: Double, batchFit: Double,
                        occupancyTv: Double,
                        fitTolerance: Double, occTolerance: Double) {
    def fitDrifted: Boolean = batchFit < baselineFit - fitTolerance
    def occDrifted: Boolean = occupancyTv > occTolerance
    def drifted: Boolean = fitDrifted || occDrifted
  }

  /** Measure a batch's drift against a persisted index's stored
    * baselines. `None` when the index predates drift telemetry (no `fit`
    * row in its model table) — append still works, it just can't tell you
    * when to stop appending. Cost: one bounded sampled scan of the batch
    * per leg. */
  def ivfPqDriftCheck(s: SparkSession, indexDir: String, newVecs: DataFrame,
                      m: Int = 8, subDim: Int = 8, k: Int = 16,
                      fitTolerance: Double = 0.05,
                      occTolerance: Double = 0.25): Option[IvfPqDrift] = {
    // both legs measure under the index's STORED assignment depth — the
    // baselines were computed with it at build, and comparing statistics
    // of two different assignment functions would read as spurious drift
    val (cents, _, storedProbe) = loadIvfPqModel(s, indexDir, m, subDim, k)
    val stored = s.read.parquet(s"$indexDir/model.parquet")
      .filter(col("kind").isin("fit", "occ"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](2).toSeq).toMap
    stored.get("fit").map { fitRow =>
      val occTv = stored.get("occ") match {
        case Some(baseOcc) =>
          val batchOcc = ivfPqOccupancy(s, newVecs, cents, nProbe = storedProbe)
          0.5 * baseOcc.zipAll(batchOcc, 0.0, 0.0)
            .map { case (p, q) => math.abs(p - q) }.sum
        case None => 0.0
      }
      IvfPqDrift(fitRow.head,
        ivfPqAssignmentFit(s, newVecs, cents, nProbe = storedProbe),
        occTv, fitTolerance, occTolerance)
    }
  }

  // -----------------------------------------------------------------
  // Registered build/search query pair for the persisted index
  // -----------------------------------------------------------------

  /** Per-JVM scratch root for the registered build/search pair — created
    * fresh for every JVM so a stale index can never serve regenerated
    * test data across runs; inside one JVM the index is keyed per sf dir. */
  private lazy val indexScratch: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft-ivfpq-")

  private val builtIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def indexDirFor(dir: String): String =
    indexScratch.resolve(java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir))).toString

  /** The registered BUILD half (`q_sim_ann_ivf_pq_build`): (re)builds the
    * persisted index for `dir` into the per-JVM scratch dir and returns
    * the per-list code counts — the bench entry prices exactly what a
    * production deployment pays ONCE per corpus version. Rows-only by the
    * float-k-means contract (like [[annIvfPq]]). */
  def ivfPqBuildQuery(s: SparkSession, dir: String): DataFrame = {
    val idx = indexDirFor(dir)
    buildIvfPqIndex(s, dir, idx)
    builtIndexes.put(dir, idx)
    s.read.parquet(s"$idx/codes.parquet")
      .groupBy(col("cid")).agg(count(lit(1)).as("n_codes"))
      .orderBy(col("cid"))
  }

  /** The registered SEARCH half (`q_sim_ann_ivf_pq_search`): answers the
    * demo query set against the persisted index — the amortized per-query
    * cost the 100 TB story is priced on, shown in the bench artifact next
    * to the build cost it no longer pays. Builds the index on first use so
    * the query stays a pure function of its inputs under any run order. */
  def ivfPqSearchQuery(s: SparkSession, dir: String): DataFrame = {
    val had = builtIndexes.containsKey(dir)
    val idx = builtIndexes.computeIfAbsent(dir, d => {
      val p = indexDirFor(d)
      buildIvfPqIndex(s, d, p)
      p
    })
    // one observable line per run so bench/verify artifacts show whether
    // search served from a prebuilt index (amortized path) or paid a
    // first-use build — the two measure different things (VERDICT r7 §7)
    println(s"[graft] q_sim_ann_ivf_pq_search: index ${if (had) "cache-hit" else "built-on-first-use"} at $idx")
    annIvfPqSearch(s, dir, idx)
  }

  // -----------------------------------------------------------------
  // Literal-model oracle twin of the persisted search (VERDICT r9 #2)
  // -----------------------------------------------------------------

  /** Fixed LITERAL IVF-PQ model for the hash-gated oracle twin of the
    * persisted search path: deterministic hyperplane centroids/codebooks
    * stand in for the float-k-means output (the `q_emb_pq_encode` trick,
    * one level up). With the model literal, the ENTIRE production search
    * pipeline — index build (assign + residual argmin codes), parquet
    * round-trip, probe, broadcast-LUT ADC over the codes, shortlist
    * re-rank — is a deterministic double-arithmetic program both engines
    * evaluate bit-identically, so [[annIvfPqSearch]]'s full plan earns a
    * DuckDB hash gate (`q_sim_ann_ivf_pq_search_lit`) that the learned
    * tiers (`q_sim_ann_ivf_pq*`) structurally share. */
  private val LitCents: Seq[Seq[Double]] = VectorOps.hyperplanes(8, 64, seed = 23L)
  private val LitBooks: Seq[Seq[Double]] = VectorOps.hyperplanes(8 * 16, 8, seed = 11L)

  /** The registered literal-model SEARCH query: builds the tiny literal
    * index once per (JVM, sf dir) via the SHARED persistence path
    * ([[buildIvfPqIndexWith]]) and serves it through the production
    * [[annIvfPqSearch]] — byte-for-byte the same search stages the learned
    * index runs, now under the hash gate. */
  def ivfPqSearchLitQuery(s: SparkSession, dir: String): DataFrame = {
    val idx = builtIndexes.computeIfAbsent(dir + "#lit", _ => {
      val p = indexDirFor(dir) + "-lit"
      buildIvfPqIndexWith(s, dir, p, LitCents, LitBooks)
      p
    })
    annIvfPqSearch(s, dir, idx)
  }

  /** Deterministic 4/5 vec_id-range split for the registered append pair
    * (the dedup-index split convention): the bottom 4/5 is the indexed
    * corpus, the top 1/5 arrives as the new batch. */
  def ivfPqAppendSplitAt(s: SparkSession, dir: String): Long = {
    val maxId = emb(s, dir).agg(max(col("vec_id"))).head().getLong(0)
    (maxId + 1) * 4 / 5
  }

  /** The registered APPEND query (`q_sim_ann_ivf_pq_append_lit`): the
    * top-1/5 batch assigned + residual-encoded against a FROZEN
    * literal-model index built over the bottom 4/5, through the
    * production [[appendToIvfPqIndex]] path — so the incremental-index
    * operation itself is under the DuckDB hash gate (encoding is
    * model-agnostic arithmetic; the learned-model leg differs only in
    * which constants ride in, and IvfPqAppendSpec pins its
    * appended-equals-rebuilt law). The bench entry prices exactly what a
    * growing corpus pays per batch: assign + encode + write ∝ new rows.
    * Repeat runs re-append the same codes into the per-JVM scratch index
    * — harmless (nothing searches it; the output is a pure function of
    * (batch, model), independent of the index contents). */
  def ivfPqAppendLitQuery(s: SparkSession, dir: String): DataFrame = {
    val split = ivfPqAppendSplitAt(s, dir)
    val idx = builtIndexes.computeIfAbsent(dir + "#appendlit", _ => {
      val p = indexDirFor(dir) + "-appendlit"
      buildIvfPqIndexOver(s, emb(s, dir).filter(col("vec_id") < split),
        p, LitCents, LitBooks)
      p
    })
    appendToIvfPqIndex(s, emb(s, dir).filter(col("vec_id") >= split), idx)
  }

  /** DuckDB twin of [[ivfPqAppendLitQuery]]: the literal-model codes CTE
    * restricted to the new split — the same per-vector assignment +
    * argmin-code arithmetic, nothing else (appending changes no code). */
  def ivfPqAppendLitSql(m: Int = 8, subDim: Int = 8, k: Int = 16,
                        dim: Int = 64): String =
    litCodesCtesSql(
      " WHERE vec_id >= (SELECT ((max(vec_id) + 1) * 4) // 5 FROM embeddings)",
      m, subDim, k, dim) +
      "\nSELECT vec_id, cid, sub_idx, code FROM codes"

  /** DuckDB twin of [[ivfPqSearchLitQuery]] — the whole IVFADC search
    * recomputed from first principles against the same literal model:
    * cosine argmax assignment (ties to the higher cid, mirroring
    * [[assignCid]]'s struct-greatest), rank-reduced residual argmin codes
    * ([[residualArgminConsts]]' `(−2·y·b) + (2·a·b + b·b)` association),
    * nProbe centroid probe on `−cos`, the e4-floored integer LUT
    * (`((yy − 2·ya) − 2·yb) + (a·a + 2·a·b + b·b)` exactly as
    * [[ivfPqSearchWith]] associates it), an exact integer ADC sum, and
    * the brute-force re-rank recipe of [[bruteForceTopKSql]]. Every
    * driver-side constant (centroid norms, LUT constants) is computed by
    * the IDENTICAL left-to-right Scala fold the Spark plan evaluates and
    * embedded as a shortest-roundtrip double literal. */
  /** The literal-model CTE prefix shared by [[ivfPqSearchLitSql]] and
    * [[ivfPqAppendLitSql]]: embeddings (optionally restricted by
    * `vecWhere`) → norms → literal centroid/codebook/constant tables →
    * cosine-argmax assignment → residual argmin codes. Every driver-side
    * constant is computed by the IDENTICAL left-to-right Scala fold the
    * Spark plan evaluates. Restricting `e` is sound because assignment
    * and encoding are pure per-vector functions — the appended-split
    * codes equal the same vectors' codes in a full build. */
  private def litCodesCtesSql(vecWhere: String, m: Int, subDim: Int, k: Int,
                              dim: Int): String = {
    val cents = LitCents
    val books = LitBooks
    val ctVals = cents.zipWithIndex.map { case (c, i) =>
      // same fold as the runtime l2Norm over the centroid array: squares
      // accumulate left-to-right in double, then one IEEE sqrt
      s"($i, ${VectorSql.planeSql(c)}, ${math.sqrt(c.map(x => x * x).sum)})"
    }.mkString(",\n  ")
    val bkVals = (for { j <- 0 until m; c <- 0 until k } yield
      s"($j, $c, ${VectorSql.planeSql(books(j * k + c))})").mkString(",\n  ")
    val caVals = (for { j <- 0 until m; i <- cents.indices } yield
      s"($j, $i, ${VectorSql.planeSql(cents(i).slice(j * subDim, (j + 1) * subDim))})")
      .mkString(",\n  ")
    val consVals = (for { j <- 0 until m; i <- cents.indices; c <- 0 until k } yield {
      val a = cents(i).slice(j * subDim, (j + 1) * subDim)
      val b = books(j * k + c)
      // av: residualArgminConsts' const; kv: ivfPqSearchWith's konst —
      // both with the exact operation order of their Scala originals
      val av = 2.0 * a.zip(b).map { case (x, y) => x * y }.sum + b.map(x => x * x).sum
      val kv = a.map(x => x * x).sum + 2.0 * a.zip(b).map { case (x, y) => x * y }.sum +
        b.map(x => x * x).sum
      s"($j, $i, $c, $av, $kv)"
    }).mkString(",\n  ")
    def dot8(vec: String, other: String): String =
      s"list_sum(list_transform(range(1, ${subDim + 1}), i -> $vec[CAST(bk.sub_idx * $subDim + i AS INT)] * $other))"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings$vecWhere),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |ct(cid, cvec, cnorm) AS (VALUES
      |  $ctVals),
      |asg AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT n.vec_id, ct.cid,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_sum(list_transform(range(1, ${dim + 1}), i -> n.v[CAST(i AS INT)] * ct.cvec[CAST(i AS INT)]))
      |          / (n.nrm * ct.cnorm) DESC, ct.cid DESC) AS rn
      |    FROM n, ct)
      |  WHERE rn = 1),
      |bk(sub_idx, code, bvec) AS (VALUES
      |  $bkVals),
      |ca(sub_idx, cid, avec) AS (VALUES
      |  $caVals),
      |cons(sub_idx, cid, code, av, kv) AS (VALUES
      |  $consVals),
      |cd AS (
      |  SELECT e.vec_id, asg.cid, bk.sub_idx, bk.code,
      |    -2.0 * ${dot8("e.v", "bk.bvec[CAST(i AS INT)]")} + cons.av AS dist
      |  FROM e JOIN asg ON asg.vec_id = e.vec_id
      |  CROSS JOIN bk
      |  JOIN cons ON cons.sub_idx = bk.sub_idx AND cons.code = bk.code AND cons.cid = asg.cid),
      |codes AS (
      |  SELECT vec_id, cid, sub_idx, code FROM cd
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub_idx ORDER BY dist, code) = 1)""".stripMargin
  }

  def ivfPqSearchLitSql(kNN: Int = DefaultK, nProbe: Int = 2, rerank: Int = 50,
                        m: Int = 8, subDim: Int = 8, k: Int = 16,
                        dim: Int = 64): String = {
    def dot8(vec: String, other: String): String =
      s"list_sum(list_transform(range(1, ${subDim + 1}), i -> $vec[CAST(bk.sub_idx * $subDim + i AS INT)] * $other))"
    litCodesCtesSql("", m, subDim, k, dim) + s""",
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < $QueryCount),
      |probed AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.query_id, ct.cid,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY
      |        -(list_sum(list_transform(range(1, ${dim + 1}), i -> q.qv[CAST(i AS INT)] * ct.cvec[CAST(i AS INT)]))
      |          / (q.qn * ct.cnorm)), ct.cid) AS rn
      |    FROM q, ct)
      |  WHERE rn <= $nProbe),
      |lut AS (
      |  SELECT p.query_id, p.cid, bk.sub_idx, bk.code,
      |    CAST(floor((
      |        ${dot8("q.qv", s"q.qv[CAST(bk.sub_idx * $subDim + i AS INT)]")}
      |      - 2.0 * ${dot8("q.qv", "ca.avec[CAST(i AS INT)]")}
      |      - 2.0 * ${dot8("q.qv", "bk.bvec[CAST(i AS INT)]")}
      |      + cons.kv) * 10000 + 0.5) AS BIGINT) AS d_e4
      |  FROM probed p
      |  JOIN q ON q.query_id = p.query_id
      |  CROSS JOIN bk
      |  JOIN ca ON ca.sub_idx = bk.sub_idx AND ca.cid = p.cid
      |  JOIN cons ON cons.sub_idx = bk.sub_idx AND cons.cid = p.cid AND cons.code = bk.code),
      |adc AS (
      |  SELECT l.query_id, c.vec_id, CAST(sum(l.d_e4) AS BIGINT) AS adc_e4
      |  FROM codes c JOIN lut l ON c.cid = l.cid AND c.sub_idx = l.sub_idx AND c.code = l.code
      |  WHERE l.query_id <> c.vec_id
      |  GROUP BY 1, 2),
      |short AS (
      |  SELECT query_id, vec_id FROM adc
      |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc_e4, vec_id) <= $rerank),
      |scored AS (
      |  SELECT sh.query_id, sh.vec_id,
      |    list_sum(list_transform(range(1, ${dim + 1}), i -> q.qv[CAST(i AS INT)] * n.v[CAST(i AS INT)])) / (q.qn * n.nrm) AS cos
      |  FROM short sh JOIN q ON q.query_id = sh.query_id JOIN n ON n.vec_id = sh.vec_id)
      |SELECT query_id, vec_id,
      |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_e4,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
      |FROM scored
      |QUALIFY rank <= $kNN""".stripMargin
  }

  /** The registered literal-centroid IVF twin: [[annIvfWith]] (the
    * production search plan — assignment, probe, probed-list exact-cosine
    * scan, top-k) against [[LitCents]] under the DuckDB hash gate. With
    * this, every ANN tier has a gated twin: brute (●), SRP-LSH (●),
    * IVF (this), IVF-PQ (`q_sim_ann_ivf_pq_search_lit`). */
  def annIvfLitQuery(s: SparkSession, dir: String): DataFrame =
    annIvfWith(s, emb(s, dir), LitCents)

  /** DuckDB twin of [[annIvfLitQuery]]: the [[ivfPqSearchLitSql]]
    * assignment/probe CTEs (same literal model, same `cid DESC` /
    * `cid ASC` tie rules) composed with [[bruteForceTopKSql]]'s scoring
    * recipe over the probed lists. */
  def annIvfLitSql(kNN: Int = DefaultK, nProbe: Int = 2, dim: Int = 64): String = {
    val ctVals = LitCents.zipWithIndex.map { case (c, i) =>
      s"($i, ${VectorSql.planeSql(c)}, ${math.sqrt(c.map(x => x * x).sum)})"
    }.mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |ct(cid, cvec, cnorm) AS (VALUES
      |  $ctVals),
      |asg AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT n.vec_id, ct.cid,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_sum(list_transform(range(1, ${dim + 1}), i -> n.v[CAST(i AS INT)] * ct.cvec[CAST(i AS INT)]))
      |          / (n.nrm * ct.cnorm) DESC, ct.cid DESC) AS rn
      |    FROM n, ct)
      |  WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < $QueryCount),
      |probed AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.query_id, ct.cid,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY
      |        -(list_sum(list_transform(range(1, ${dim + 1}), i -> q.qv[CAST(i AS INT)] * ct.cvec[CAST(i AS INT)]))
      |          / (q.qn * ct.cnorm)), ct.cid) AS rn
      |    FROM q, ct)
      |  WHERE rn <= $nProbe),
      |scored AS (
      |  SELECT p.query_id, n.vec_id,
      |    list_sum(list_transform(range(1, ${dim + 1}), i -> q.qv[CAST(i AS INT)] * n.v[CAST(i AS INT)])) / (q.qn * n.nrm) AS cos
      |  FROM probed p
      |  JOIN asg ON asg.cid = p.cid
      |  JOIN n ON n.vec_id = asg.vec_id
      |  JOIN q ON q.query_id = p.query_id
      |  WHERE n.vec_id <> p.query_id)
      |SELECT query_id, vec_id,
      |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_e4,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
      |FROM scored
      |QUALIFY rank <= $kNN""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_ann_ivf_lit" -> ((s: SparkSession, d: String) => annIvfLitQuery(s, d)),
    "q_sim_ann_ivf_pq" -> ((s: SparkSession, d: String) => annIvfPq(s, d)),
    "q_sim_ann_ivf_pq_build" -> ((s: SparkSession, d: String) => ivfPqBuildQuery(s, d)),
    "q_sim_ann_ivf_pq_search" -> ((s: SparkSession, d: String) => ivfPqSearchQuery(s, d)),
    "q_sim_ann_ivf_pq_search_lit" -> ((s: SparkSession, d: String) => ivfPqSearchLitQuery(s, d)),
    "q_sim_ann_ivf_pq_append_lit" -> ((s: SparkSession, d: String) => ivfPqAppendLitQuery(s, d)),
    "q_emb_pq_adc" -> ((s: SparkSession, d: String) => pqAdcTopK(s, d)),
    "q_emb_pq_encode" -> ((s: SparkSession, d: String) => pqEncode(s, d)),
    "q_sim_topk_brute" -> ((s: SparkSession, d: String) => bruteForceTopK(s, d)),
    "q_sim_ann_lsh" -> ((s: SparkSession, d: String) => annLsh(s, d)),
    "q_sim_ann_ivf" -> ((s: SparkSession, d: String) => annIvf(s, d)),
    "q_emb_quantize_int8" -> ((s: SparkSession, d: String) => quantizeInt8(s, d)),
    "q_emb_jl_project" -> ((s: SparkSession, d: String) => jlProject(s, d)))

  val oracles: Map[String, String] = Map(
    "q_sim_ann_ivf_lit" -> annIvfLitSql(),
    "q_sim_ann_ivf_pq_search_lit" -> ivfPqSearchLitSql(),
    "q_sim_ann_ivf_pq_append_lit" -> ivfPqAppendLitSql(),
    "q_emb_pq_adc" -> pqAdcTopKSql(),
    "q_emb_pq_encode" -> pqEncodeSql(),
    "q_sim_topk_brute" -> bruteForceTopKSql,
    "q_sim_ann_lsh" -> annLshSql(),
    "q_emb_quantize_int8" -> quantizeInt8Sql,
    "q_emb_jl_project" -> jlProjectSql())
}
