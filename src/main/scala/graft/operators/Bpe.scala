package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Byte-pair encoding — the real merge-table tokenizer, not just the
  * pre-tokenizer scan tier (`TextAnalysis.bpeTokenCounts` keeps that
  * role). Two halves:
  *
  *  - '''apply''' ([[segmentVocab]] / `q_text_bpe_merges`): segment every
  *    corpus token with a literal rank-ordered merge table, iterative
  *    pair-merge to fixpoint — DuckDB-oracled via a recursive CTE running
  *    the IDENTICAL algorithm (single-sourced from [[Merges]]).
  *  - '''train''' ([[learnMerges]] / `q_text_bpe_train`): the distributed
  *    BPE training loop — per round, segment the vocabulary with the
  *    merges learned so far, count adjacent piece pairs weighted by token
  *    frequency, and adopt the most frequent pair (deterministic
  *    tiebreak). DuckDB-oracled via [[learnMergesSql]] — the training
  *    loop unrolled into R materialized CTE stages — and law-spec'd
  *    against an independent local trainer.
  *
  * Scale shape: both halves run at VOCABULARY grain, not corpus grain —
  * the token stream is reduced to `(tok, count)` by one keyed wordcount
  * shuffle, and every per-round pass touches only distinct tokens. On a
  * 100 TB corpus the vocabulary is bounded (≈10⁶–10⁷ rows); the expensive
  * corpus-grain work is a single map+shuffle, the R training rounds cost
  * R small vocab passes, and the learned/literal table broadcasts to the
  * serving encode for free.
  *
  * Reference anchor: token counting is the budget-estimation op of the
  * survey's pipeline surface (SURVEY.md §2.3); the reference itself has
  * no tokenizer (`processor.go` counts users, not tokens) — this is part
  * of the extended LLM-pipeline tier.
  */
object Bpe {

  /** Literal rank-ordered merge table. VALID by construction: each side is
    * a single character or the product of an EARLIER rank — the invariant
    * real BPE training guarantees, and the one that makes rank-order
    * application equivalent to the classic lowest-rank-first greedy loop
    * (a later merge can never create an occurrence of an earlier pair,
    * because the earlier pair's sides already existed when it was
    * learned and cannot contain the later product). */
  val Merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("a", "n"), ("e", "r"),
    ("o", "w"), ("r", "ow"), ("s", "t"), ("a", "st"),
    ("j", "o"), ("i", "n"), ("jo", "in"), ("h", "a"),
    ("ha", "s"), ("has", "h"), ("q", "u"), ("e", "y"))

  /** Segment one token: for each merge in rank order, repeatedly merge the
    * LEFTMOST adjacent occurrence of the pair until none remains, then
    * advance to the next rank. Leftmost-repeat is order-identical to the
    * DuckDB oracle's `instr`+`substr` surgery, and (for a valid table)
    * to greedy lowest-rank-first BPE. Driver/executor-side scalar — runs
    * inside a typed map over the vocabulary only. */
  def segment(tok: String, merges: Seq[(String, String)] = Merges): Vector[String] = {
    // seed by CODE POINTS, not UTF-16 units: a non-BMP char (emoji) is one
    // seed symbol, matching the DuckDB oracle's regexp_split_to_array(tok,'')
    // and the repo-wide fixtures/utf8 discipline (Utf8Spec)
    var s: Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < tok.length) {
        val cp = tok.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b.result()
    }
    for ((a, b) <- merges) {
      var idx = pairIndex(s, a, b)
      while (idx >= 0) {
        s = (s.take(idx) :+ (a + b)) ++ s.drop(idx + 2)
        idx = pairIndex(s, a, b)
      }
    }
    s
  }

  private def pairIndex(s: Vector[String], a: String, b: String): Int = {
    var i = 0
    while (i < s.length - 1) {
      if (s(i) == a && s(i + 1) == b) return i
      i += 1
    }
    -1
  }

  /** Corpus vocabulary with occurrence counts — ONE keyed wordcount
    * shuffle; everything downstream runs at vocab grain. */
  private def vocab(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(explode(split(col("text"), " ", -1)).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("n_occ"))

  /** `q_text_bpe_merges`: every distinct corpus token segmented by the
    * literal merge table, with its occurrence count. Typed map (guide
    * tier (d)) is justified: the per-token merge loop is genuinely
    * imperative, and it touches only the vocabulary. */
  def segmentVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = Merges
    vocab(s, dir).as[(String, Long)].map { case (tok, n) =>
      val pieces = segment(tok, merges)
      (tok, pieces.mkString(" "), pieces.length.toLong, n)
    }.toDF("tok", "pieces", "n_pieces", "n_occ")
  }

  /** The DuckDB twin of [[segmentVocab]], generated from the SAME
    * [[Merges]] literal (single-sourced — the tables cannot drift). The
    * recursive CTE carries each token's segmentation as a
    * `chr(1)`-separated symbol string and performs the same
    * leftmost-merge-until-fixpoint-per-rank loop with `instr` + `substr`
    * surgery; ranks advance only at fixpoint, and the terminal rows are
    * the ones that exhausted the table. */
  def segmentVocabSql: String = {
    val vals = Merges.zipWithIndex
      .map { case ((a, b), i) => s"($i, '$a', '$b')" }.mkString(", ")
    val r = Merges.length
    s"""WITH RECURSIVE merges(rank, a, b) AS (VALUES $vals),
       |toks AS (
       |  SELECT tok, count(*) AS n_occ
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE len(tok) > 0 GROUP BY tok),
       |seg(tok, s, rank) AS (
       |  SELECT tok, chr(1) || array_to_string(regexp_split_to_array(tok, ''), chr(1)) || chr(1), 0
       |  FROM toks
       |  UNION ALL
       |  SELECT tok,
       |         CASE WHEN pos > 0 THEN substr(s, 1, pos - 1) || rep || substr(s, pos + len(pat)) ELSE s END,
       |         CASE WHEN pos > 0 THEN rank ELSE rank + 1 END
       |  FROM (
       |    SELECT g.tok, g.s, g.rank,
       |           chr(1) || m.a || chr(1) || m.b || chr(1) AS pat,
       |           chr(1) || m.a || m.b || chr(1) AS rep,
       |           instr(g.s, chr(1) || m.a || chr(1) || m.b || chr(1)) AS pos
       |    FROM seg g JOIN merges m ON m.rank = g.rank
       |    WHERE g.rank < $r))
       |SELECT t.tok, replace(substr(f.s, 2, len(f.s) - 2), chr(1), ' ') AS pieces,
       |       CAST(len(f.s) - len(replace(f.s, chr(1), '')) - 1 AS BIGINT) AS n_pieces,
       |       t.n_occ AS n_occ
       |FROM (SELECT tok, s FROM seg WHERE rank = $r) f JOIN toks t USING (tok)""".stripMargin
  }

  /** Distributed BPE training: learn `nMerges` merges from the corpus.
    * Per round, the vocabulary is re-segmented with the merges adopted so
    * far (broadcast closure), adjacent piece pairs are counted weighted
    * by token frequency, and the winner is the pair with the highest
    * count — ties broken by `(left, right)` ascending, so the result is a
    * pure function of the corpus. Returns `(rank, left, right, count)`.
    *
    * Each round is one vocab-grain map + one small keyed agg + a top-1
    * collect (the bounded model transfer of the k-means pattern);
    * training never touches corpus grain after the initial wordcount. */
  def learnMerges(s: SparkSession, dir: String, nMerges: Int): Seq[(Int, String, String, Long)] = {
    import s.implicits._
    val v = vocab(s, dir).as[(String, Long)].cache()
    try {
      val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var done = false
      while (learned.length < nMerges && !done) {
        val cur: Seq[(String, String)] = learned.toSeq.map(m => (m._2, m._3))
        val top = v.flatMap { case (tok, n) =>
            segment(tok, cur).sliding(2).collect { case Vector(x, y) => (x, y, n) }
          }.toDF("left", "right", "n")
          .groupBy(col("left"), col("right")).agg(sum(col("n")).as("n_pairs"))
          .orderBy(col("n_pairs").desc, col("left"), col("right"))
          .limit(1).collect()
        if (top.isEmpty) done = true
        else {
          val r = top(0)
          learned += ((learned.length, r.getString(0), r.getString(1), r.getLong(2)))
        }
      }
      learned.toSeq
    } finally v.unpersist()
  }

  /** Batched BPE training: per round, adopt up to `batch` pairs from one
    * pair-count pass instead of one. Candidates are taken in the same
    * deterministic order as [[learnMerges]] (count desc, then `(left,
    * right)` asc); within a round a candidate is adopted only if its
    * symbol set is DISJOINT from every pair already adopted this round.
    * Disjointness is the soundness condition: merging `(a,b) → ab` can
    * only change the counts of pairs that touch an `a` or `b` occurrence,
    * so a disjoint candidate's count — and therefore its rank among the
    * remaining disjoint candidates — is exactly what a sequential
    * re-count would see. The sequential and batched merge SETS can still
    * diverge when a just-created product pair (`x`,`ab`) out-counts a
    * later in-batch candidate (classic batched-BPE caveat); BpeSpec pins
    * equality on the test corpus, where that does not occur.
    *
    * Cost: rounds drop from R to ~R/batch, and since round r re-segments
    * the vocabulary with all r·batch merges so far, the total
    * re-segmentation work falls from O(R²) toward O(R²/batch) — the fix
    * for the sequential trainer's driver-round-trip-per-merge shape at
    * production vocab sizes (R ≈ 32k, batch ≈ 256). */
  def learnMergesBatched(s: SparkSession, dir: String, nMerges: Int,
                         batch: Int = 8): Seq[(Int, String, String, Long)] = {
    import s.implicits._
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val v = vocab(s, dir).as[(String, Long)].cache()
    try {
      val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var done = false
      while (learned.length < nMerges && !done) {
        val cur: Seq[(String, String)] = learned.toSeq.map(m => (m._2, m._3))
        // one vocab pass; pull enough ordered candidates to fill the
        // batch even after disjointness skips. 4*batch looked like a
        // comfortable margin ("each adopted pair blocks 2 symbols"), but
        // symbol sharing is structural, not worst-case: at character
        // level the top candidates chain through a few hot symbols
        // ((t,h),(h,e),... all touch 'h'), so on a vocab-rich corpus a
        // 4*batch pull fills only ~a third of the batch and the round
        // count balloons (measured at R=512: B=16 ran ~119 effective
        // rounds instead of 32). 16*batch reaches the deeper candidates
        // that use OTHER symbols — still a bounded driver transfer
        // (<=1024 tiny rows), and adoption order over the shared prefix
        // is unchanged, so the oracle stays bit-identical
        val cands = v.flatMap { case (tok, n) =>
            segment(tok, cur).sliding(2).collect { case Vector(x, y) => (x, y, n) }
          }.toDF("left", "right", "n")
          .groupBy(col("left"), col("right")).agg(sum(col("n")).as("n_pairs"))
          .orderBy(col("n_pairs").desc, col("left"), col("right"))
          .limit(math.max(16 * batch, 64)).collect()
        if (cands.isEmpty) done = true
        else {
          val used = scala.collection.mutable.Set.empty[String]
          var adopted = 0
          val it = cands.iterator
          while (it.hasNext && adopted < batch && learned.length < nMerges) {
            val r = it.next()
            val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
            if (!used(a) && !used(b)) {
              learned += ((learned.length, a, b, n))
              used += a; used += b
              adopted += 1
            }
          }
          if (adopted == 0) done = true
          // diagnosability sentinel (ADVICE r9): learnMergesBatchedSql's
          // fixed unrolling assumes every non-final round adopts exactly
          // `batch` pairs. If a corpus regen ever breaks that, the gate
          // would fail as an opaque hash mismatch — name the real cause.
          else if (adopted < batch && learned.length < nMerges)
            System.err.println(s"[graft] learnMergesBatched: PARTIAL round " +
              s"(adopted=$adopted < batch=$batch at ${learned.length}/$nMerges merges) — " +
              "the oracle's fixed unrolling assumes full rounds; a hash mismatch on " +
              "q_text_bpe_train_batched is this batch-fill assumption, not the algorithm")
        }
      }
      learned.toSeq
    } finally v.unpersist()
  }

  /** DuckDB twin of [[learnMerges]]: the R-round training loop UNROLLED
    * into R chained CTE stages — stage r materializes the vocabulary
    * segmented with the first r merges (`segf_r`), counts adjacent piece
    * pairs weighted by occurrence (`list_zip` over the chr(1)-separated
    * symbol list), and picks the same `(count DESC, left, right)` argmax
    * (`top_r`); a per-stage recursive CTE then applies the adopted merge
    * leftmost-until-fixpoint to produce `segf_{r+1}`. Incremental
    * application is EXACTLY the trainer's from-scratch re-segmentation:
    * [[segment]] processes merges in rank order without revisiting, so
    * the state after ranks 0..r−1 IS `segf_r` — the same staging, just
    * materialized. `AS MATERIALIZED` is load-bearing: DuckDB inlines
    * plain CTEs per reference, which makes the staged chain re-evaluate
    * its whole prefix (measured exponential; the materialized form runs
    * in ~0.25 s on the sf0.01 vocabulary). The batched trainer gets its
    * own unrolling ([[learnMergesBatchedSql]]) — on this very corpus the
    * two algorithms diverge at rank 3, so each query is gated against its
    * OWN semantics. */
  def learnMergesSql(nMerges: Int = 12): String = {
    val parts = Seq.newBuilder[String]
    parts += """toks AS MATERIALIZED (
               |  SELECT tok, count(*) AS n_occ
               |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
               |  WHERE len(tok) > 0 GROUP BY tok)""".stripMargin
    parts += """segf_0 AS MATERIALIZED (
               |  SELECT tok, chr(1) || array_to_string(regexp_split_to_array(tok, ''), chr(1)) || chr(1) AS s
               |  FROM toks)""".stripMargin
    for (r <- 0 until nMerges) {
      parts += s"""top_$r AS MATERIALIZED (
                  |  SELECT $r AS rank, a, b, n FROM (
                  |    SELECT p[1] AS a, p[2] AS b, sum(n_occ) AS n
                  |    FROM (SELECT tok, unnest(list_zip(l, l[2:])) AS p
                  |          FROM (SELECT tok, string_split(s, chr(1)) AS l FROM segf_$r)) z
                  |    JOIN toks USING (tok)
                  |    WHERE p[1] <> '' AND p[2] <> '' AND p[2] IS NOT NULL
                  |    GROUP BY 1, 2)
                  |  ORDER BY n DESC, a, b LIMIT 1)""".stripMargin
      if (r < nMerges - 1) {
        parts += s"""seg_${r + 1}(tok, s, d) AS (
                    |  SELECT tok, s, 0 FROM segf_$r
                    |  UNION ALL
                    |  SELECT tok,
                    |    CASE WHEN pos > 0 THEN substr(s, 1, pos - 1) || rep || substr(s, pos + len(pat)) ELSE s END,
                    |    CASE WHEN pos > 0 THEN 0 ELSE 1 END
                    |  FROM (
                    |    SELECT g.tok, g.s,
                    |      chr(1) || t.a || chr(1) || t.b || chr(1) AS pat,
                    |      chr(1) || t.a || t.b || chr(1) AS rep,
                    |      instr(g.s, chr(1) || t.a || chr(1) || t.b || chr(1)) AS pos
                    |    FROM seg_${r + 1} g CROSS JOIN top_$r t
                    |    WHERE g.d = 0))""".stripMargin
        parts += s"segf_${r + 1} AS MATERIALIZED (SELECT tok, s FROM seg_${r + 1} WHERE d = 1)"
      }
    }
    val union = (0 until nMerges).map(r => s"SELECT * FROM top_$r").mkString(" UNION ALL ")
    "WITH RECURSIVE " + parts.result().mkString(",\n") +
      s"""\nSELECT CAST(rank AS INTEGER) AS rank, a AS "left", b AS "right", CAST(n AS BIGINT) AS n_pairs FROM ($union)"""
  }

  /** DuckDB twin of [[learnMergesBatched]] — the BATCHED algorithm itself,
    * not the sequential one: the two genuinely diverge on the gate corpus
    * (sequential adopts `(o,r)` at rank 3 after re-counting; the batch's
    * disjointness rule defers it behind `(s,t)` because `(o,w)` already
    * used `o`), so sharing [[learnMergesSql]] would be a wrong oracle, not
    * a strict gate. Per round: candidate pairs ranked `(n DESC, a, b)`
    * (`cands_r`, top `16·batch`), the greedy disjoint scan as a recursive
    * CTE threading the used-symbol list through candidate ranks (`sel_r`),
    * then one leftmost-until-fixpoint application stage per adoption slot
    * (`LEFT JOIN … ON true` passes tokens through unchanged when a slot
    * is empty). Within-round application order can't matter — adopted
    * pairs are symbol-disjoint — but slots apply in adoption order anyway,
    * mirroring [[segment]]. Assumes every round fills its batch (true on
    * the gate corpus, asserted by the Spark/oracle hash match itself);
    * a partial round would end the Scala trainer's round loop later than
    * this fixed unrolling. */
  def learnMergesBatchedSql(nMerges: Int = 12, batch: Int = 4): String = {
    val head = math.max(16 * batch, 64)
    val rounds = (nMerges + batch - 1) / batch
    val parts = Seq.newBuilder[String]
    parts += """toks AS MATERIALIZED (
               |  SELECT tok, count(*) AS n_occ
               |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
               |  WHERE len(tok) > 0 GROUP BY tok)""".stripMargin
    parts += """segf_0_in AS MATERIALIZED (
               |  SELECT tok, chr(1) || array_to_string(regexp_split_to_array(tok, ''), chr(1)) || chr(1) AS s
               |  FROM toks)""".stripMargin
    var src = "segf_0_in"
    for (r <- 0 until rounds) {
      parts += s"""cands_$r AS MATERIALIZED (
                  |  SELECT a, b, n, CAST(row_number() OVER (ORDER BY n DESC, a, b) AS INTEGER) AS rn FROM (
                  |    SELECT p[1] AS a, p[2] AS b, sum(n_occ) AS n
                  |    FROM (SELECT tok, unnest(list_zip(l, l[2:])) AS p
                  |          FROM (SELECT tok, string_split(s, chr(1)) AS l FROM $src)) z
                  |    JOIN toks USING (tok)
                  |    WHERE p[1] <> '' AND p[2] <> '' AND p[2] IS NOT NULL
                  |    GROUP BY 1, 2)
                  |  ORDER BY n DESC, a, b LIMIT $head)""".stripMargin
      val ok = s"s.adopted < $batch AND NOT list_contains(s.used, c.a) AND NOT list_contains(s.used, c.b)"
      parts += s"""sel_$r(rn, used, adopted, a, b, n, take) AS (
                  |  SELECT 0, []::VARCHAR[], 0, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), false
                  |  UNION ALL
                  |  SELECT c.rn,
                  |    CASE WHEN $ok THEN list_concat(s.used, [c.a, c.b]) ELSE s.used END,
                  |    s.adopted + CASE WHEN $ok THEN 1 ELSE 0 END,
                  |    c.a, c.b, c.n,
                  |    $ok
                  |  FROM sel_$r s JOIN cands_$r c ON c.rn = s.rn + 1)""".stripMargin
      parts += s"""adopted_$r AS MATERIALIZED (
                  |  SELECT a, b, n, CAST(row_number() OVER (ORDER BY rn) - 1 AS INTEGER) AS slot
                  |  FROM sel_$r WHERE take)""".stripMargin
      for (sl <- 0 until batch) {
        val idx = s"${r}_$sl"
        parts += s"""seg_$idx(tok, s, d) AS (
                    |  SELECT tok, s, 0 FROM $src
                    |  UNION ALL
                    |  SELECT tok,
                    |    CASE WHEN pos > 0 THEN substr(s, 1, pos - 1) || rep || substr(s, pos + len(pat)) ELSE s END,
                    |    CASE WHEN pos > 0 THEN 0 ELSE 1 END
                    |  FROM (
                    |    SELECT g.tok, g.s,
                    |      chr(1) || t.a || chr(1) || t.b || chr(1) AS pat,
                    |      chr(1) || t.a || t.b || chr(1) AS rep,
                    |      instr(g.s, chr(1) || t.a || chr(1) || t.b || chr(1)) AS pos
                    |    FROM seg_$idx g LEFT JOIN (SELECT a, b FROM adopted_$r WHERE slot = $sl) t ON true
                    |    WHERE g.d = 0))""".stripMargin
        parts += s"segf_$idx AS MATERIALIZED (SELECT tok, s FROM seg_$idx WHERE d = 1)"
        src = s"segf_$idx"
      }
    }
    val union = (0 until rounds)
      .map(r => s"SELECT $r AS round, slot, a, b, n FROM adopted_$r").mkString(" UNION ALL ")
    "WITH RECURSIVE " + parts.result().mkString(",\n") +
      s"""\nSELECT CAST(row_number() OVER (ORDER BY round, slot) - 1 AS INTEGER) AS rank,
         |       a AS "left", b AS "right", CAST(n AS BIGINT) AS n_pairs
         |FROM ($union) QUALIFY row_number() OVER (ORDER BY round, slot) <= $nMerges""".stripMargin
  }

  /** `q_text_bpe_train`: the learned merge table as a DataFrame, under the
    * [[learnMergesSql]] hash gate; BpeSpec additionally pins exact parity
    * with an independent local trainer. */
  def learnMergesQuery(s: SparkSession, dir: String, nMerges: Int = 12): DataFrame = {
    import s.implicits._
    learnMerges(s, dir, nMerges)
      .toDF("rank", "left", "right", "n_pairs")
      .select(col("rank").cast("int"), col("left"), col("right"), col("n_pairs"))
  }

  /** `q_text_bpe_train_batched`: [[learnMergesBatched]] as a DataFrame —
    * the production-shaped trainer (B merges per vocab pass), under the
    * [[learnMergesBatchedSql]] hash gate (the batched algorithm's own
    * unrolling; it genuinely diverges from sequential on this corpus). */
  def learnMergesBatchedQuery(s: SparkSession, dir: String, nMerges: Int = 12,
                              batch: Int = 4): DataFrame = {
    import s.implicits._
    learnMergesBatched(s, dir, nMerges, batch)
      .toDF("rank", "left", "right", "n_pairs")
      .select(col("rank").cast("int"), col("left"), col("right"), col("n_pairs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_bpe_merges" -> ((s: SparkSession, d: String) => segmentVocab(s, d)),
    "q_text_bpe_train" -> ((s: SparkSession, d: String) => learnMergesQuery(s, d)),
    "q_text_bpe_train_batched" -> ((s: SparkSession, d: String) => learnMergesBatchedQuery(s, d)))

  val oracles: Map[String, String] = Map(
    "q_text_bpe_merges" -> segmentVocabSql,
    "q_text_bpe_train" -> learnMergesSql(),
    "q_text_bpe_train_batched" -> learnMergesBatchedSql())
}
