package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-mix sampling over `documents` — the operators that carve a
  * corpus into reproducible training subsets.
  *
  *  - [[systematicSample]]: deterministic arithmetic hash-mod sampling —
  *    pure integer arithmetic on the key, so the SAME rows are selected by
  *    any engine (DuckDB-oracled) and by any re-run. The idiom for "take a
  *    stable p% slice of 100 TB": a map-only pushed-down filter, no
  *    shuffle, no RNG state.
  *  - [[stratifiedSample]]: per-stratum fractions via `DataFrame.stat
  *    .sampleBy` (seeded Bernoulli per row) — the training-mix reweighter
  *    (e.g. upsample low-resource languages). Deterministic per seed but
  *    RNG-based, so rows-only + property-tested (binomial bounds), not
  *    oracle-matched.
  */
object Sampling {

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** Knuth's multiplicative-hash constant (2^32 / phi, public domain). */
  val Mix = 2654435761L

  /** Prime id-wrap keeping `IdMod * Mix` < 2^63 — overflow-FREE by
    * construction (Spark would silently wrap a BIGINT multiply while
    * DuckDB raises an out-of-range error, so the oracle pair must never
    * overflow; a 100 TB corpus has ~1e10 ids, well past 2^63 / Mix). */
  val IdMod = 1000000007L

  /** The `((id % IdMod) * Mix) % 100 < pct` membership predicate — the ONE
    * home of the overflow-discipline idiom (mod before multiply, see
    * [[IdMod]]), shared by [[systematicSample]] and
    * [[Similarity.learnCentroids]]'s training sample so the sampling
    * universes cannot silently desynchronize. */
  def hashPct(idCol: Column, pct: Int): Column =
    pmod(pmod(idCol, lit(IdMod)) * lit(Mix), lit(100L)) < pct

  /** Deterministic ~`pct`% systematic sample:
    * `((doc_id % IdMod) * Mix) % 100 < pct`. All-integer, engine-portable. */
  def systematicSample(s: SparkSession, dir: String, pct: Int = 10): DataFrame =
    docs(s, dir)
      .filter(hashPct(col("doc_id"), pct))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  def systematicSampleSql(pct: Int = 10): String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE ((doc_id % $IdMod) * $Mix) % 100 < $pct""".stripMargin

  /** Per-language stratified sample: `fractions` maps lang → keep
    * probability (missing langs keep 0). Seeded, reproducible. */
  def stratifiedSample(s: SparkSession, dir: String,
                       fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    docs(s, dir)
      .stat.sampleBy("lang", fractions, seed)
      .select(col("doc_id"), col("lang"))

  /** Deterministic stratified sample (round 10): per-stratum keep
    * fractions by hash THRESHOLD in the shared [[hashOrder]] universe —
    * keep a doc iff `hashOrder(doc_id) < floor(f_lang · IdMod)`. The
    * reproducible production alternative to [[stratifiedSample]]'s
    * Spark-RNG `sampleBy` (rows-only forever by its partition-seeded
    * RNG): at 100 TB a re-run, a repartition, or an engine swap must not
    * change which documents a training mix contains, and a hash
    * threshold can't. Same uniform-rate law over the hash universe
    * (SamplingSpec pins the binomial bound on BOTH tiers), but exactly
    * reproducible — so this tier is DuckDB hash-gated end-to-end.
    * Map-only scan: the per-lang threshold is a small literal CASE. */
  def stratifiedHashSample(s: SparkSession, dir: String,
                           fractions: Map[String, Double]): DataFrame = {
    val thresholds = fractions.toSeq.sortBy(_._1)
      .map { case (l, f) => (l, math.floor(f * IdMod).toLong) }
    // lit(0L) seed so an empty fractions map yields an empty sample
    // (threshold 0 for every lang) instead of throwing on .head
    val thr = thresholds.foldLeft(lit(0L): Column) {
      case (acc, (l, t)) => when(col("lang") === l, lit(t)).otherwise(acc)
    }
    docs(s, dir)
      .filter(hashOrder < thr)
      .select(col("doc_id"), col("lang"))
  }

  def stratifiedHashSampleSql(fractions: Map[String, Double]): String = {
    val cases = fractions.toSeq.sortBy(_._1)
      .map { case (l, f) =>
        s"WHEN '${l.replace("'", "''")}' THEN ${math.floor(f * IdMod).toLong}" }
      .mkString(" ")
    if (cases.isEmpty)
      "SELECT doc_id, lang FROM documents WHERE FALSE"
    else
      s"""SELECT doc_id, lang FROM documents
         |WHERE $hashOrderSql < CASE lang $cases ELSE 0 END""".stripMargin
  }

  /** Deterministic pseudo-random total order: the hash-mod key with a
    * doc_id tie-break — the engine-portable stand-in for `rand()` ordering
    * (same overflow-free integer discipline as [[systematicSample]]).
    * Package-visible as the ONE home of the ordering rule: [[Curation]]
    * must sample in the same universe, and a private re-derivation there
    * could silently desynchronize from this one. */
  private[graft] def hashOrder: Column =
    pmod(pmod(col("doc_id"), lit(IdMod)) * lit(Mix), lit(IdMod))

  private[graft] val hashOrderSql = s"(doc_id % $IdMod) * $Mix % $IdMod"

  /** Exact-K uniform sample: "give me exactly K documents, uniformly,
    * reproducibly" — ORDER BY deterministic hash LIMIT K, which Spark
    * plans as `TakeOrderedAndProject` (per-partition heaps of size K, no
    * global sort; pinned in PlanSpec). The exact-count complement to
    * [[systematicSample]]'s fixed-percentage slice. */
  def exactKSample(s: SparkSession, dir: String, k: Int = 100): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(hashOrder, col("doc_id"))
      .limit(k)

  def exactKSampleSql(k: Int = 100): String =
    s"""SELECT doc_id, lang, source FROM documents
      |ORDER BY $hashOrderSql, doc_id LIMIT $k""".stripMargin

  /** Per-domain cap: keep at most `cap` docs per `source`, chosen in the
    * deterministic hash order — "no single domain dominates the training
    * mix", the anti-boilerplate quota every web-corpus pipeline applies.
    * Partitioned window (per-source ranking parallelizes; no global
    * state). */
  def domainCapSample(s: SparkSession, dir: String, cap: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(hashOrder, col("doc_id"))
    docs(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= cap)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  def domainCapSampleSql(cap: Int = 50): String =
    s"""SELECT doc_id, lang, source FROM documents
      |QUALIFY row_number() OVER (PARTITION BY source
      |  ORDER BY $hashOrderSql, doc_id) <= $cap""".stripMargin

  /** Token-budget mixture: per source, take documents in the deterministic
    * hash order until a per-source TOKEN budget fills — training mixes are
    * specified in tokens, not documents, so the quota is a running token
    * sum, not a row count (the token analogue of [[domainCapSample]]). A
    * doc ships while the budget is not yet exhausted BEFORE it, so the
    * boundary doc completes its source's quota and every non-empty source
    * contributes at least one document. Partitioned running-sum window —
    * per-source prefix sums parallelize like [[TextAnalysis.seqPack]]'s
    * shards. */
  def tokenBudgetSample(s: SparkSession, dir: String,
                        budgetPerSource: Long = 800L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(hashOrder, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(s, dir)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("tok_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .filter(col("tok_before") < budgetPerSource)
      .select(col("doc_id"), col("source"), col("n_tok"), col("tok_before"))
  }

  // outer CAST on the window sum: DuckDB widens it to HUGEINT, which lands
  // as float64 at the driver and fails the dtype-strict hash gate
  def tokenBudgetSampleSql(budgetPerSource: Long = 800L): String =
    s"""WITH t AS (
      |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST(coalesce(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
      |      PARTITION BY source ORDER BY $hashOrderSql, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
      |  FROM documents)
      |SELECT doc_id, source, n_tok, tok_before FROM t
      |WHERE tok_before < $budgetPerSource""".stripMargin

  /** Temperature-weighted training-mix sampling — the actual pretraining
    * mix math (e.g. multilingual sampling à la XLM-R): each (lang, source)
    * stratum's share of a global token budget is proportional to
    * `mass^α` with temperature α = 0.5, flattening the distribution so
    * low-resource strata are upsampled relative to their raw share.
    * Composition of the [[tokenBudgetSample]] prefix rule with a
    * [[stratifiedSample]]-style reweighting, but fully deterministic.
    *
    * α is FIXED at 0.5 because `sqrt` is the one power IEEE 754 requires
    * correctly rounded — both engines compute the identical double from
    * the identical integer token mass, and `floor` lands it back in exact
    * BIGINT. A generic `pow(mass, α)` is not cross-engine bit-stable, so
    * other temperatures would demote this query to rows-only.
    *
    * Integer renormalization: `budget_g = (B · w_g) div Σw` with
    * `w_g = floor(sqrt(tokens_g))` — all exact; a stratum whose share
    * rounds to 0 tokens ships nothing (unlike [[tokenBudgetSample]]'s
    * per-source floor of one boundary doc — a global budget must be
    * allowed to starve negligible strata or it cannot be met).
    *
    * Shape: one tiny per-stratum aggregate (|langs|×|sources| rows)
    * broadcast back over the corpus; per-stratum prefix-sum window in the
    * deterministic hash order. No global window, no RNG. */
  def temperatureMixSample(s: SparkSession, dir: String,
                           totalBudget: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val strata = d.groupBy(col("lang"), col("source"))
      .agg(sum(col("n_tok")).as("g_tok"))
      .select(col("lang"), col("source"),
        floor(sqrt(col("g_tok").cast("double"))).cast("long").as("w"))
    val totalW = strata.agg(sum(col("w")).as("total_w"))
    val budgets = strata.crossJoin(broadcast(totalW))
      .select(col("lang"), col("source"),
        call_function("div", lit(totalBudget) * col("w"), col("total_w")).as("budget"))
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(hashOrder, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("tok_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .join(broadcast(budgets), Seq("lang", "source"))
      .filter(col("tok_before") < col("budget"))
      .select(col("doc_id"), col("lang"), col("source"),
              col("n_tok"), col("tok_before"), col("budget"))
  }

  def temperatureMixSampleSql(totalBudget: Long = 5000L): String =
    s"""WITH t AS (
      |  SELECT doc_id, lang, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |g AS (
      |  SELECT lang, source,
      |    CAST(floor(sqrt(CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE))) AS BIGINT) AS w
      |  FROM t GROUP BY 1, 2),
      |n AS (SELECT CAST(sum(w) AS BIGINT) AS total_w FROM g),
      |b AS (
      |  SELECT lang, source, CAST(($totalBudget * w) // total_w AS BIGINT) AS budget
      |  FROM g, n),
      |p AS (
      |  SELECT doc_id, lang, source, n_tok,
      |    CAST(coalesce(sum(n_tok) OVER (
      |      PARTITION BY lang, source ORDER BY $hashOrderSql, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
      |  FROM t)
      |SELECT p.doc_id, p.lang, p.source, p.n_tok, p.tok_before, b.budget
      |FROM p JOIN b USING (lang, source)
      |WHERE p.tok_before < b.budget""".stripMargin

  /** Deterministic global-shuffle shard layout (round 12): the last mile
    * of a training-data pipeline — assign every document to one of
    * `nShards` output shards and a position within it, such that the
    * concatenated shard order is a pseudo-random PERMUTATION of the
    * corpus (training dataloaders must not see the corpus's crawl/source
    * order — that is curriculum leakage), yet fully deterministic: the
    * same corpus yields byte-identical shards on any engine, any re-run,
    * any partitioning ([[hashOrder]] is the one shuffle-order authority,
    * shared with every sampler here so "shard 17 of the 10% sample" and
    * "the 10% sample of shard 17" agree).
    *
    * Scale shape: shard assignment is a MAP-ONLY mod on the hash
    * (uniform over shards by the multiplicative-hash mix); the in-shard
    * position is a per-shard window — `nShards` independent partitions,
    * no global sort, no driver state. At 100 TB this is
    * `repartitionByRange`-free: each shard's writer task sorts only its
    * own slice. */
  def shardLayout(s: SparkSession, dir: String, nShards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard_id")).orderBy(hashOrder, col("doc_id"))
    docs(s, dir)
      .select(col("doc_id"),
        pmod(hashOrder, lit(nShards.toLong)).as("shard_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard_id"), col("pos"), col("n_tok"))
  }

  def shardLayoutSql(nShards: Int = 16): String =
    s"""SELECT doc_id, $hashOrderSql % $nShards AS shard_id,
      |  CAST(row_number() OVER (PARTITION BY $hashOrderSql % $nShards
      |    ORDER BY $hashOrderSql, doc_id) AS BIGINT) AS pos,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |FROM documents""".stripMargin

  /** Leakage-safe train/holdout split (round 12): partition the corpus so
    * that NO exact- or near-duplicate pair straddles the split — the
    * contamination-safe eval carve-out every training pipeline needs
    * (a held-out doc whose near-dup twin stayed in train is a leaked
    * answer key, invisible to doc-level random splits).
    *
    * Split UNIT is the duplication component, not the document: edges are
    * the production MinHash-LSH near-dup pairs ([[Dedup.minhashLshPairs]])
    * plus the exact-dup edges ([[Dedup.exactDedup]] — sub-shingle docs
    * have no signature, exactly [[Dedup.dedupPipelineLsh]]'s composition),
    * components come from the tiered connected-components dispatcher, and
    * the component LABEL (its minimum doc_id) is hashed with the shared
    * [[hashPct]] integer discipline — so membership is engine-portable
    * and re-run/repartition-stable, and the whole operator sits under the
    * DuckDB hash gate end-to-end ([[leakageSafeSplitSql]]).
    *
    * The guarantee is with respect to the pair GENERATOR's edge set (LSH
    * at `threshold` + exact dups) — the same contract as the dedup
    * pipeline itself; a pair the banding cannot surface is by definition
    * also invisible to the dedup path. Scale shape: the expensive part IS
    * the pair generation the pipeline already pays (banded, never
    * all-pairs); the split adds one component labeling + one map-only
    * hash — no new shuffle class. */
  def leakageSafeSplit(s: SparkSession, dir: String, holdoutPct: Int = 20,
                       threshold: Double = 0.5): DataFrame = {
    import graft.operators.{Dedup => D}
    val near = D.minhashLshPairs(s, dir, threshold)
      .select(col("doc_a"), col("doc_b"))
    val labels = D.clusterPairs(near.unionByName(exactDupEdges(s, dir)))
    docs(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(hashPct(col("cluster_id"), holdoutPct), lit("holdout"))
          .otherwise(lit("train")))
  }

  /** Exact-duplicate edges `(doc_a, doc_b = its keeper)` — the ONE home of
    * the exact edge set both split paths union with their near-dup edges,
    * so the SamplingSpec path-equality law cannot be broken by the two
    * copies drifting apart. The RECOMPUTE path ([[leakageSafeSplit]]) pays
    * this md5 scan by design; the index path reads the same edges from
    * [[graft.operators.Dedup.buildExactState]]'s persisted table instead
    * (round-13 verdict task 4). */
  private def exactDupEdges(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .join(graft.operators.Dedup.exactDedup(s, dir)
              .select(col("text_hash"), col("keep_id")),
            Seq("text_hash"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as("doc_a"), col("keep_id").as("doc_b"))

  /** Per-JVM scratch + per-corpus memo for [[leakageSafeSplitFromIndex]]'s
    * registered query (the [[graft.operators.Dedup]] index-query pattern:
    * fresh per JVM so a stale index never serves regenerated testdata). */
  private lazy val splitIdxScratch: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft-splitidx-")
  private val builtSplitIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def fullIndexWithState(s: SparkSession, dir: String): String =
    builtSplitIndexes.computeIfAbsent(dir, _ => {
      val idx = splitIdxScratch.resolve(java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir))).toString
      graft.operators.Dedup.buildMinhashIndex(s, docs(s, dir), idx, s"$dir#leaksplit")
      graft.operators.Dedup.buildClusterState(s, idx)
      graft.operators.Dedup.buildExactState(s, docs(s, dir), idx)
      idx
    })

  /** [[leakageSafeSplit]] answered from PERSISTED dedup state instead of a
    * pair recompute — the shape a 100 TB deployment actually runs: the
    * MinHash index and its cluster state are already maintained daily
    * ([[graft.operators.Dedup.buildClusterState]] /
    * [[graft.operators.Dedup.clusterIncrement]]), so carving an eval
    * holdout must not re-shingle and re-sign the corpus (the §8.5.8
    * feasibility line). Stored labels enter as STAR EDGES (member → label),
    * which preserve each component's connectivity exactly, union the
    * exact-dup edges (sub-shingle docs have no signature, so they are
    * invisible to the index), and the tiered CC re-derives component
    * minima — so the output is IDENTICAL to [[leakageSafeSplit]]'s, which
    * is the registered gate: `q_sample_leak_split_idx` runs THIS path
    * under the SAME DuckDB oracle, and `SamplingSpec` pins the
    * path-equality law directly.
    *
    * Round 13 (verdict task 4): the exact-dup edges are read from the
    * persisted [[graft.operators.Dedup.buildExactState]] table too — the
    * path no longer re-hashes the corpus (`md5(text)` never appears in
    * its plan, PlanSpec-pinned); the only corpus read left is the
    * doc_id column the output itself enumerates.
    *
    * FRESHNESS contract (round 14): the BATCH increment path maintains the
    * edges — [[graft.operators.Dedup.dedupPipelineIncrement]] appends each
    * batch's exact edges and new keepers when the state tables exist, and
    * deletion re-elects keepers — so daily batch ingest keeps this split
    * leakage-safe with no refresh. The STREAM legs do not (the at-ingest
    * path drops exact duplicates via the corpus-fingerprint anti-join
    * rather than recording edges): after stream-only ingest, run
    * [[graft.operators.Dedup.buildExactState]] before an index-backed
    * split, or use [[leakageSafeSplit]] (the recompute path). */
  def leakageSafeSplitFromIndex(s: SparkSession, dir: String, indexDir: String,
                                holdoutPct: Int = 20): DataFrame = {
    import graft.operators.{Dedup => D}
    val state = graft.operators.IndexFamily
      .readSnapshot(s, s"$indexDir/clusters.parquet")
      .select(col("doc_id"), col("cluster_id"))
    val starEdges = state.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val exactP = new org.apache.hadoop.fs.Path(s"$indexDir/exact_edges.parquet")
    require(exactP.getFileSystem(s.sparkContext.hadoopConfiguration).exists(exactP),
      s"$indexDir holds no exact_edges.parquet — the index path reads persisted " +
        "exact-dup edges; run Dedup.buildExactState(corpus, indexDir) next to " +
        "buildClusterState (or use leakageSafeSplit, the recompute path)")
    val exactEdges = s.read.parquet(s"$indexDir/exact_edges.parquet")
      .select(col("doc_a"), col("doc_b"))
    val labels = D.clusterPairs(starEdges.unionByName(exactEdges))
    docs(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(hashPct(col("cluster_id"), holdoutPct), lit("holdout"))
          .otherwise(lit("train")))
  }

  /** Registered wrapper: builds (memoized per corpus) the full-corpus
    * index + cluster state, then splits from the stored labels. */
  def leakageSafeSplitIdxQuery(s: SparkSession, dir: String): DataFrame =
    leakageSafeSplitFromIndex(s, dir, fullIndexWithState(s, dir))

  /** DuckDB twin of [[leakageSafeSplit]]: the full-algorithm
    * [[Dedup.minhashLshPairsSql]] pair oracle unioned with the exact-dup
    * edges, the same recursive min-reachable-id closure as
    * [[Dedup.dedupPipelineLshSql]], singletons labeled by their own id,
    * and the [[hashPct]] predicate on the component label. */
  def leakageSafeSplitSql(holdoutPct: Int = 20, threshold: Double = 0.5): String = {
    // substituted AFTER stripMargin (the embedded SQL's bitwise-OR lines
    // start with '|' — the dedupPipelineLshSql trap)
    val pairsSubquery = "(" + graft.operators.Dedup.minhashLshPairsSql(threshold) + ")"
    s"""WITH RECURSIVE pairs AS (
      |  SELECT doc_a, doc_b FROM __PAIRS__ p
      |  UNION
      |  SELECT d.doc_id AS doc_a, k.keep_id AS doc_b
      |  FROM documents d
      |  JOIN (SELECT md5(text) AS h, min(doc_id) AS keep_id
      |        FROM documents GROUP BY 1) k
      |    ON md5(d.text) = k.h AND d.doc_id <> k.keep_id),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |clusters AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      |             FROM reach GROUP BY src)
      |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
      |  CASE WHEN (coalesce(c.cluster_id, d.doc_id) % $IdMod) * $Mix % 100 < $holdoutPct
      |       THEN 'holdout' ELSE 'train' END AS split
      |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id""".stripMargin
      .replace("__PAIRS__", pairsSubquery)
  }

  /** SOFT dedup — the reweighting alternative to dropping duplicates
    * (keep every copy, scale its training weight by 1/|exact-dup group|,
    * so each distinct text contributes unit mass to the mix regardless of
    * how many times the crawl found it). One fingerprint-keyed window at
    * document grain; `weight_e4 = round(1/n, 4)` stays in the e4 oracle
    * floor. Composes with [[temperatureMixSample]]-style mixing the same
    * way hard dedup composes with sampling. */
  def softDedupWeights(s: SparkSession, dir: String): DataFrame =
    softDedupWeightsDf(docs(s, dir))

  def softDedupWeightsDf(docsDf: DataFrame): DataFrame = {
    val n = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text"))))
    docsDf.select(col("doc_id"), n.as("n_copies"),
      round(lit(1.0) / n, 4).as("weight_e4"))
  }

  val softDedupWeightsSql: String =
    """SELECT doc_id,
      |  count(*) OVER (PARTITION BY md5(text)) AS n_copies,
      |  round(1.0 / count(*) OVER (PARTITION BY md5(text)), 4) AS weight_e4
      |FROM documents""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sample_soft_dedup" -> ((s: SparkSession, d: String) => softDedupWeights(s, d)),
    "q_sample_leak_split" -> ((s: SparkSession, d: String) => leakageSafeSplit(s, d)),
    "q_sample_leak_split_idx" -> (leakageSafeSplitIdxQuery _),
    "q_sample_shard_layout" -> ((s: SparkSession, d: String) => shardLayout(s, d)),
    "q_sample_temperature_mix" -> ((s: SparkSession, d: String) => temperatureMixSample(s, d)),
    "q_sample_token_budget" -> ((s: SparkSession, d: String) => tokenBudgetSample(s, d)),
    "q_sample_systematic" -> ((s: SparkSession, d: String) => systematicSample(s, d)),
    "q_sample_stratified" -> ((s: SparkSession, d: String) =>
      stratifiedSample(s, d, StratifiedFractions)),
    "q_sample_stratified_hash" -> ((s: SparkSession, d: String) =>
      stratifiedHashSample(s, d, StratifiedFractions)),
    "q_sample_exact_k" -> ((s: SparkSession, d: String) => exactKSample(s, d)),
    "q_sample_domain_cap" -> ((s: SparkSession, d: String) => domainCapSample(s, d)))

  /** Shared by the RNG tier and its deterministic hash twin, so the two
    * can never sample different target rates. */
  val StratifiedFractions: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 1.0, "fr" -> 1.0, "es" -> 0.25, "zh" -> 1.0)

  val oracles: Map[String, String] = Map(
    "q_sample_soft_dedup" -> softDedupWeightsSql,
    "q_sample_leak_split" -> leakageSafeSplitSql(),
    // the index-backed path must reproduce the recompute path exactly
    // (star edges preserve connectivity; exact edges identical) — same
    // oracle, independently gated (the nearDupClustersSql convention)
    "q_sample_leak_split_idx" -> leakageSafeSplitSql(),
    "q_sample_shard_layout" -> shardLayoutSql(),
    "q_sample_stratified_hash" -> stratifiedHashSampleSql(StratifiedFractions),
    "q_sample_temperature_mix" -> temperatureMixSampleSql(),
    "q_sample_token_budget" -> tokenBudgetSampleSql(),
    "q_sample_systematic" -> systematicSampleSql(),
    "q_sample_exact_k" -> exactKSampleSql(),
    "q_sample_domain_cap" -> domainCapSampleSql())
}
