package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-second extension batch — dedup below the word boundary:
  *
  *  - codepoint n-gram Jaccard pairs (x232): the whitespace tokenizer
  *    under every x02-family chain silently collapses on unsegmented
  *    scripts (CJK, Thai, Lao): a spaceless document is ONE token, so
  *    its "5-gram shingle" set is a single whole-text string and
  *    near-dup recall drops to exact-copy-only. The fix real pipelines
  *    ship (CCNet's char-level fallback) is shingling on CODEPOINT
  *    n-grams — script-independent, no segmenter needed — through the
  *    SAME inverted-index pair machinery (never all-pairs).
  *  - script-routed pair union: word shingles where spaces carry the
  *    structure, codepoint grams where they don't, selected per
  *    document by measured space density, pairs unioned — the
  *    per-language selection rule as one operator.
  *
  * Determinism discipline: grams are distinct per doc before the
  * explode (the x02 contract); Jaccard rounds to 4dp before
  * thresholding; pair order is (doc_a < doc_b).
  */
object Extensions102 {

  /** Distinct codepoint `n`-grams of a (already case-folded) text
    * column. Uniform substr semantics — a document shorter than n
    * codepoints contributes its whole text as one gram (substr
    * truncates), exactly replayable as SQL `substr(t, i, n)`.
    *
    * The gram column must be a bound attribute (`t`), not an inline
    * expression: HOF lambdas re-evaluate their free expressions per
    * element (the [[Extensions.shinglesFromToks]] lesson — O(len²)
    * otherwise).
    */
  private[ops] def charGramsOf(t: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
      i => t.substr(i, lit(n))))

  /** (doc_id, n_sh, shk) inverted-index rows over codepoint n-grams —
    * the [[Extensions.shingleIndexFastOf]] shape with characters as the
    * unit, so the whole pair/cluster/store tail applies unchanged.
    * Empty texts are dropped (an empty gram would pair every empty doc
    * with every other at Jaccard 1).
    *
    * Scale: ~1 gram per codepoint vs ~1 shingle per word — a constant
    * ~5× index-row factor over the word path, same never-all-pairs join
    * geometry; only 8-byte keys shuffle.
    */
  def charGramIndexOf(
      corpus: DataFrame, idCol: String, textCol: String, n: Int = 10,
      gramSampleMod: Int = 1): DataFrame = {
    require(n >= 2, "codepoint grams below 2 are single characters — no context")
    require(gramSampleMod >= 1)
    // winnowing dial: keep only grams whose CONTENT hash ≡ 0 (mod m) —
    // content-keyed (shift-robust, unlike position striding: a 1-char
    // insertion moves every downstream position but no gram's bytes),
    // identical selection on both sides of any pair, and md5-portable
    // so the oracle replays it. Jaccard over the sampled sets is the
    // standard unbiased estimate; index rows AND hot-gram join fan-out
    // both shrink ~m× (the fan-out quadratically where it hurts).
    val sampled =
      if (gramSampleMod == 1) charGramsOf(col("ct"), n)
      else filter(charGramsOf(col("ct"), n), g =>
        pmod(graft.functions.HashFunctions.md5_bucket60(g),
          lit(gramSampleMod.toLong)) === 0L)
    // Materialize the (doc_id, grams) projection BEFORE the explode.
    // Two optimizer behaviors otherwise stack into a single-slot
    // disaster: InferFiltersFromGenerate infers size(grams) > 0 from
    // the explode, and predicate pushdown carries that filter — with
    // the ENTIRE gram expression inlined — through the rebalance
    // exchange onto the unbalanced scan, where it runs once per row on
    // one core (and once more per join side in the pair tail).
    // The checkpoint pins the expensive expression to exactly one
    // 32-wide evaluation; the inferred filter then reads a materialized
    // array column. Measured at sf0.1: 23 s → ~4 s for the x232 chain.
    val gs = Extensions.materialized(
      Extensions.rebalanced(corpus, idCol)
        .select(col(idCol).as("doc_id"), lower(col(textCol)).as("ct"))
        .filter(length(col("ct")) > 0)
        .select(col("doc_id"), sampled.as("gs")))
    gs.select(col("doc_id"), size(col("gs")).as("n_sh"), explode(col("gs")).as("sh"))
      .select(col("doc_id"), col("n_sh"), xxhash64(col("sh")).as("shk"))
  }

  /** The materialized (doc_id, tk, sz) gram-hash set table both pair
    * paths verify against — extracted (r15) so [[charGramCapCard]] can
    * build it ONCE and share it across its exact baseline and every
    * swept cap instead of re-running the gram pipeline per call.
    */
  private[ops] def charGramSetsOf(
      corpus: DataFrame, idCol: String, textCol: String, n: Int,
      gramSampleMod: Int, md5Keys: Boolean): DataFrame = {
    val sampled =
      if (gramSampleMod == 1) charGramsOf(col("ct"), n)
      else filter(charGramsOf(col("ct"), n), g =>
        pmod(graft.functions.HashFunctions.md5_bucket60(g),
          lit(gramSampleMod.toLong)) === 0L)
    val keyOf: Column => Column =
      if (md5Keys) g => graft.functions.HashFunctions.md5_bucket60(g)
      else g => xxhash64(g)
    // the same pre-explode materialization as charGramIndexOf (pins the
    // gram expression to one evaluation); terms travel as 8-byte hashes,
    // made DISTINCT and SORTED once per doc (r15) so the pair verify runs
    // the codegen'd two-pointer intersect_count_sorted instead of building
    // a hash set per pair (array_intersect). Nothing downstream reads tk
    // order: postings explode it, the verify intersects it.
    Extensions.materialized(
      Extensions.rebalanced(corpus, idCol)
        .select(col(idCol).as("doc_id"), lower(col(textCol)).as("ct"))
        .filter(length(col("ct")) > 0)
        .select(col("doc_id"), sort_array(array_distinct(transform(sampled, keyOf))).as("tk"))
        .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("sz")))
  }

  /** Capped candidate pairs from a prefix-postings table — the stop-gram
    * seeding step of [[charGramJaccardPairs]], extracted (r15) so the
    * cap sweep can reuse ONE postings build across caps.
    */
  private[ops] def cappedCandsOf(postings: DataFrame, postingCap: Int): DataFrame = {
    val kept = Extensions114.topKPerGroup(
      postings
        .select(col("term").as("g"), col("doc_id").as("id"),
          (-col("sz")).as("score")),
      "g", "id", "score", postingCap)
      .select(col("g"), col("id"))
    kept.as("a")
      .join(kept.as("b"), col("a.g") === col("b.g")
        && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
  }

  /** Exact-Jaccard verify of candidate pairs against a gram-set table —
    * the shared tail of both pair paths (extracted r15).
    */
  private[ops] def verifiedPairsOf(
      cands: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("tk").as("tka"),
        col("sz").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("tk").as("tkb"),
        col("sz").as("nb")), Seq("doc_b"))
      .withColumn("shared", graft.functions.VectorFunctions
        .intersect_count_sorted(col("tka"), col("tkb")))
      .withColumn("jaccard",
        Extensions.round4o(col("shared") / (col("na") + col("nb") - col("shared"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Exact codepoint-n-gram Jaccard pairs at `threshold` — the x02
    * contract for scripts the word chain cannot see. Output:
    * (doc_a, doc_b, jaccard), doc_a < doc_b. `gramSampleMod` > 1
    * switches to the winnowed estimate (see [[charGramIndexOf]]) — the
    * production dial for corpora where ~1 gram/codepoint is real money.
    *
    * Re-plan (sf1 scaling audit: exponent 1.82 through the full-index
    * bucket self-join): codepoint grams are LOW-cardinality — common
    * substrings recur corpus-wide far more than word shingles do, so
    * hot gram buckets grow with the corpus and the bucket self-join
    * goes quadratic exactly where boilerplate lives. Candidates now
    * come from the x253 lossless prefix filter over the per-doc gram
    * HASH sets (each doc's prefix keeps only its globally-RAREST
    * grams, so a hot gram never seeds a candidate) and verify is a
    * per-candidate array intersection. Threshold equivalence is exact:
    * round4(j) >= T  <=>  the integer prefix bound at (T·10^5 − 5)/10^5.
    *
    * Second re-plan (round-12; the prefix filter alone re-measured
    * 1.47 — "rarest grams per doc" still have corpus-growing posting
    * lists when the gram space itself is low-cardinality): the DEFAULT
    * path now also caps each prefix term's posting list at `postingCap`
    * docs (sz asc, doc_id asc — deterministic, oracle-replayable), the
    * AllPairs stop-gram discipline. Candidate volume is bounded by
    * gram-types·cap² — no hot bucket can go quadratic by construction.
    * `postingCap = 0` disables the cap: the exact lossless form, kept
    * as the truth baseline; [[charGramCapCard]] prices the cap's recall
    * against it on a bounded fixture.
    */
  def charGramJaccardPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.4, n: Int = 10, gramSampleMod: Int = 1,
      postingCap: Int = 64): DataFrame = {
    // Term keys: the capped path hashes grams with the 60-bit md5 lane
    // (the house ORACLE-REPLAYABLE hash) because once a cap exists, the
    // (df, term) prefix tie order and the (sz, doc_id) posting order
    // DECIDE which pairs are seeded — the oracle must sort the same
    // longs. The lossless path keeps xxhash64 (cheaper; with no cap the
    // verify makes any consistent global order produce identical pairs).
    val sets = charGramSetsOf(corpus, idCol, textCol, n, gramSampleMod,
      md5Keys = postingCap > 0)
    val tNum = math.round(threshold * 100000.0) - 5L
    val cands =
      if (postingCap <= 0) Extensions111.prefixCandidates(sets, tNum, 100000L)
      else {
        // Stop-gram discipline (round-11 audit: the capless prefix chain
        // measured exponent 1.47 — low-cardinality char grams keep
        // corpus-growing posting lists even inside prefixes): each
        // term's posting list is capped at its `postingCap` (sz asc,
        // doc_id asc) members BEFORE the pair join, so a hot gram seeds
        // at most cap·(cap−1)/2 candidate pairs no matter the corpus —
        // candidate volume is ≤ grams·cap², linear in gram types.
        // Selection runs through TopKFold (partial agg, ≤ cap entries
        // per term per map partition cross the shuffle) — a hot term
        // never concentrates a corpus-sized sort on one task the way a
        // row_number window would. LOSSY by design: a true pair whose
        // every shared prefix gram is hot is missed; the exact-verify
        // tail keeps precision at 1 and [[charGramCapCard]] prices the
        // recall (postingCap = 0 is the exact truth baseline).
        cappedCandsOf(Extensions111.prefixPostings(sets, tNum, 100000L),
          postingCap)
      }
    verifiedPairsOf(cands, sets, threshold)
  }

  /** Script-routed near-dup pairs: documents whose space share is below
    * `spaceShareMin` (unsegmented scripts — CJK text has essentially no
    * U+0020) take the codepoint path; the rest take the word path; the
    * pair lists union (a cross-route pair cannot arise — the routes
    * partition the corpus, which is the point: a CJK doc and an English
    * doc are not near-dups of each other under either tokenizer).
    *
    * Scale: one corpus scan computes the route flag; each route's chain
    * sees only its slice.
    */
  def scriptRoutedJaccardPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.4, wordShingle: Int = 5, charGram: Int = 10,
      spaceShareMin: Double = 0.05): DataFrame = {
    val routed = Extensions.materialized(
      corpus.select(col(idCol).as("doc_id"), col(textCol).as("t"))
        .filter(length(col("t")) > 0)
        .withColumn("__char_route",
          (length(col("t")) - length(translate(col("t"), " ", ""))).cast("double")
            / length(col("t")) < spaceShareMin))
    val wordPairs = Extensions.jaccardPairs(
      routed.filter(!col("__char_route")), "doc_id", "t", threshold, wordShingle)
    val charPairs = charGramJaccardPairs(
      routed.filter(col("__char_route")), "doc_id", "t", threshold, charGram)
    wordPairs.unionByName(charPairs)
  }

  // ---- x232: codepoint-gram dedup on despaced text ------------------------------

  /** x232: the documents fixture with spaces stripped — every doc
    * becomes an "unsegmented script" stand-in (one giant token), which
    * is exactly the input that collapses the word chain (the spec
    * proves the word path finds only exact copies here) — and the
    * codepoint path must still recover the planted near-dup structure.
    */
  def x232CharGramDedup(s: SparkSession, dir: String): DataFrame =
    charGramJaccardPairs(
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), translate(col("text"), " ", "").as("text")),
      "doc_id", "text", gramSampleMod = 4)

  /** Shared oracle prologue: despaced lowered docs (optionally bounded
    * by `docBound`), winnowed (mod 4) distinct 10-grams, their 60-bit
    * md5 keys, set sizes, key document frequencies, and the prefix
    * index rows at t = 39995/100000 — the exact DuckDB replay of the
    * Spark chain's md5-keyed sets ([[charGramJaccardPairs]] with a cap
    * uses md5 keys precisely so this replay can sort the same longs).
    */
  private def oraclePrologue(docBound: String): String = s"""
      d AS (SELECT doc_id, replace(lower(text), ' ', '') AS t
            FROM documents
            WHERE $docBound len(replace(lower(text), ' ', '')) > 0),
      g0 AS (SELECT doc_id, substr(t, i, 10) AS g
             FROM d, UNNEST(generate_series(1,
               greatest(len(t) - 9, 1))) AS s(i)),
      gd AS (SELECT DISTINCT doc_id, g FROM g0
             WHERE ('0x' || substr(md5(g), 1, 15))::BIGINT % 4 = 0),
      kd AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS k
             FROM gd),
      cnt AS (SELECT doc_id, count(*) AS sz FROM kd GROUP BY doc_id),
      dfk AS (SELECT k, count(*) AS df FROM kd GROUP BY k),
      pre AS (SELECT doc_id, k, sz FROM (
                SELECT kd.doc_id, kd.k, cnt.sz, dfk.df,
                       row_number() OVER (PARTITION BY kd.doc_id
                         ORDER BY dfk.df, kd.k) AS pos
                FROM kd JOIN cnt USING (doc_id) JOIN dfk USING (k))
              WHERE pos <= sz - ((39995 * sz + 99999) // 100000) + 1)"""

  /** Per-cap oracle blocks: capped postings (sz asc, doc_id asc — the
    * TopKFold order), candidate pairs, verified pairs at j >= 0.4.
    * `tag` suffixes the CTE names so a cap sweep can stack blocks.
    */
  private def cappedPairsCtes(cap: Int, tag: String): String = s"""
      cap$tag AS (SELECT doc_id, k FROM (
                SELECT doc_id, k,
                       row_number() OVER (PARTITION BY k
                         ORDER BY sz, doc_id) AS tpos
                FROM pre)
              WHERE tpos <= $cap),
      cand$tag AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM cap$tag a JOIN cap$tag b
                     ON a.k = b.k AND a.doc_id < b.doc_id),
      sh$tag AS (SELECT c.doc_a, c.doc_b, count(*) AS shared
                 FROM cand$tag c
                 JOIN kd ka ON ka.doc_id = c.doc_a
                 JOIN kd kb ON kb.doc_id = c.doc_b AND kb.k = ka.k
                 GROUP BY 1, 2),
      found$tag AS (SELECT doc_a, doc_b,
                      round(shared * 1.0 / (ca.sz + cb.sz - shared), 4) AS jaccard
                    FROM sh$tag
                    JOIN cnt ca ON ca.doc_id = sh$tag.doc_a
                    JOIN cnt cb ON cb.doc_id = sh$tag.doc_b
                    WHERE round(shared * 1.0 / (ca.sz + cb.sz - shared), 4) >= 0.4)"""

  /** x232's oracle replays the SHIPPED plan end to end — winnow mod 4,
    * md5-keyed prefix index, the 64-doc posting cap in the same
    * (sz, doc_id) order, exact verify — so the gate checks the capped
    * default itself, not an uncapped stand-in it happens to agree with
    * at fixture scale.
    */
  private val x232OracleSql: String = s"""
      WITH ${oraclePrologue("")},
      ${cappedPairsCtes(64, "_64")}
      SELECT doc_a, doc_b, jaccard
      FROM found_64
      ORDER BY doc_a, doc_b"""

  // ---- x286: posting-cap recall card --------------------------------------------

  /** Cap-sweep recall card for [[charGramJaccardPairs]]'s stop-gram
    * seeding, the x182/x279 measure-the-approximation pattern: for each
    * cap, the capped pairs vs the exact (postingCap = 0) truth baseline
    * on the SAME corpus — (posting_cap, n_exact, n_found, n_missed,
    * n_extra, recall). n_extra is computed, not asserted: the verify
    * tail makes capped ⊆ exact by construction, so any nonzero value is
    * a bug surfacing loudly. Run it on a BOUNDED calibration slice (the
    * blockingPlanSampled discipline) — the exact baseline inside is the
    * quadratic-prone truth form.
    */
  def charGramCapCard(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.4, n: Int = 10, gramSampleMod: Int = 1,
      caps: Seq[Int] = Seq(2, 8, 64)): DataFrame = {
    require(caps.nonEmpty && caps.forall(_ >= 1))
    val spark = corpus.sparkSession
    import spark.implicits._
    // r15 fused sweep (guide §2.4 — fewer passes): before, the exact
    // baseline and every cap each called charGramJaccardPairs (4
    // identical gram+hash pipeline builds) and paid its own verify +
    // 3 count jobs. The whole sweep is ONE pipeline: a pair is seeded
    // by cap c  ⇔  some shared prefix term has both posting positions
    // ≤ c  ⇔  min over shared terms of max(tpos_a, tpos_b) ≤ c — the
    // oracle's own row_number formulation, and selection-identical to
    // TopKFold's (sz asc, doc_id asc) order. So: one postings build
    // with tpos, one pair self-join carrying mincap, one exact verify,
    // one agg with |caps| conditional sums. The exact baseline is the
    // verified candidate set itself (the capless prefix filter is
    // lossless, and the oracle's baseline replays the same md5 keys).
    // n_extra is structurally 0 here — which is the value the old
    // anti-join always produced (capped ⊆ exact by construction).
    // The per-term row_number window replaces TopKFold's partial-agg
    // discipline; the card's contract is a BOUNDED calibration slice,
    // where a corpus-sized hot-term sort cannot arise.
    val sets = charGramSetsOf(corpus, idCol, textCol, n, gramSampleMod,
      md5Keys = true)
    val tNum = math.round(threshold * 100000.0) - 5L
    val wTerm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("sz"), col("doc_id"))
    val p = Extensions111.prefixPostings(sets, tNum, 100000L)
      .withColumn("tpos", row_number().over(wTerm))
    val prs = p.as("a").join(p.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(greatest(col("a.tpos"), col("b.tpos"))).as("mincap"))
    val verified = Extensions.materialized(prs
      .join(sets.select(col("doc_id").as("doc_a"), col("tk").as("tka"),
        col("sz").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("tk").as("tkb"),
        col("sz").as("nb")), Seq("doc_b"))
      .withColumn("shared", graft.functions.VectorFunctions
        .intersect_count_sorted(col("tka"), col("tkb")))
      .withColumn("jaccard", Extensions.round4o(
        col("shared") / (col("na") + col("nb") - col("shared"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("mincap")))
    val sortedCaps = caps.sorted
    val aggCols = count(lit(1)).as("n_exact") +: sortedCaps.map(c =>
      sum(when(col("mincap") <= c, 1L).otherwise(0L)).as(s"f_$c"))
    val r = verified.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val nExact = r.getLong(0)
    val rows = sortedCaps.zipWithIndex.map { case (c, i) =>
      val nFound = r.getLong(i + 1)
      val nMissed = nExact - nFound
      val recall =
        math.round((nExact - nMissed) * 10000.0 / math.max(nExact, 1L)) / 10000.0
      (c, nExact, nFound, nMissed, 0L, recall)
    }
    rows.toDF("posting_cap", "n_exact", "n_found", "n_missed", "n_extra", "recall")
  }

  // ---- x321: posting-cap plan (measure-then-act) ----------------------------------

  /** Measure-then-act over [[charGramCapCard]]'s sweep — the
    * geometryPlan/blockingPlan/probePlan pattern applied to the x232
    * stop-gram cap: same per-cap recall rows, plus `chosen` = the
    * SMALLEST cap whose recall against the exact baseline meets
    * `targetRecall` (falls back to the largest swept cap when none
    * does — the highest-recall lossy option; the caller who needs more
    * goes to postingCap = 0, the exact form). Run it on a bounded
    * calibration slice; feed the chosen cap to
    * [[charGramJaccardPairs]] — [[charGramJaccardPairsPlanned]] wires
    * the two for corpora where nobody hand-picks the dial.
    */
  def postingCapPlan(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.4, n: Int = 10, gramSampleMod: Int = 1,
      caps: Seq[Int] = Seq(2, 8, 64),
      targetRecall: Double = 0.99): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // |caps|-row local collect: the card's rows are already a driver fold
    val rows = charGramCapCard(corpus, idCol, textCol, threshold, n,
        gramSampleMod, caps)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(_._1)
    val chosen = rows.find(_._6 >= targetRecall).map(_._1)
      .getOrElse(rows.last._1)
    rows.map { case (c, ne, nf, nm, nx, rec) =>
      (c, ne, nf, nm, nx, rec, c == chosen)
    }.toSeq.toDF("posting_cap", "n_exact", "n_found", "n_missed",
      "n_extra", "recall", "chosen")
  }

  /** [[charGramJaccardPairs]] with the posting cap CHOSEN by
    * [[postingCapPlan]] on a bounded md5-sampled calibration slice
    * (expected ≤ `maxSample` docs, deterministic — the
    * blockingPlanSampled discipline; the full corpus is taken when it
    * already fits). The plan's exact baseline runs only on the slice,
    * so the quadratic-prone truth form never sees the corpus.
    */
  def charGramJaccardPairsPlanned(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.4, n: Int = 10, gramSampleMod: Int = 1,
      caps: Seq[Int] = Seq(2, 8, 64), targetRecall: Double = 0.99,
      maxSample: Long = 2000L): DataFrame = {
    import graft.functions.HashFunctions.md5_bucket60
    val nDocs = corpus.select(col(idCol)).count()
    val slice =
      if (nDocs <= maxSample) corpus
      else {
        val m = 1L << 32
        val thr = math.max(1L,
          (BigInt(m) * 9 * maxSample / (BigInt(10) * nDocs)).toLong)
        corpus.filter(
          pmod(md5_bucket60(col(idCol).cast("string")), lit(m)) < lit(thr))
      }
    val plan = postingCapPlan(slice, idCol, textCol, threshold, n,
        gramSampleMod, caps, targetRecall)
      .filter(col("chosen")).select(col("posting_cap"))
      .collect()
    val cap = plan(0).getInt(0)
    charGramJaccardPairs(corpus, idCol, textCol, threshold, n,
      gramSampleMod, postingCap = cap)
  }

  /** x321: the plan on the x286 calibration slice — same fixture, same
    * sweep, plus the chosen dial; the measure-then-act wiring the
    * round-12 verdict asked for.
    */
  def x321PostingCapPlan(s: SparkSession, dir: String): DataFrame =
    postingCapPlan(
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 600)
        .select(col("doc_id"), translate(col("text"), " ", "").as("text")),
      "doc_id", "text", gramSampleMod = 4)

  /** x286: the cap sweep on a bounded despaced-documents slice
    * (doc_id < 600 — all of sf0.01, a fixed-size calibration sample of
    * anything larger, so the exact baseline inside stays corpus-
    * invariant), winnow mod 4 — the x232 fixture semantics exactly.
    */
  def x286CharGramCapCard(s: SparkSession, dir: String): DataFrame =
    charGramCapCard(
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 600)
        .select(col("doc_id"), translate(col("text"), " ", "").as("text")),
      "doc_id", "text", gramSampleMod = 4)

  private val x286OracleSql: String = {
    val capBlocks = Seq(2, 8, 64).map(c => cappedPairsCtes(c, s"_$c")).mkString(",")
    val rows = Seq(2, 8, 64).map { c =>
      s"""SELECT $c AS posting_cap,
             (SELECT count(*) FROM ex) AS n_exact,
             (SELECT count(*) FROM found_$c) AS n_found,
             (SELECT count(*) FROM ex e LEFT JOIN found_$c f
                ON e.doc_a = f.doc_a AND e.doc_b = f.doc_b
              WHERE f.doc_a IS NULL) AS n_missed,
             (SELECT count(*) FROM found_$c f LEFT JOIN ex e
                ON e.doc_a = f.doc_a AND e.doc_b = f.doc_b
              WHERE e.doc_a IS NULL) AS n_extra"""
    }.mkString(" UNION ALL ")
    s"""
      WITH ${oraclePrologue("doc_id < 600 AND")},
      $capBlocks,
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM kd a JOIN kd b ON a.k = b.k AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      ex AS (SELECT doc_a, doc_b FROM prs
             JOIN cnt ca ON ca.doc_id = prs.doc_a
             JOIN cnt cb ON cb.doc_id = prs.doc_b
             WHERE round(shared * 1.0 / (ca.sz + cb.sz - shared), 4) >= 0.4),
      sweep AS ($rows)
      SELECT posting_cap, CAST(n_exact AS BIGINT) AS n_exact,
             CAST(n_found AS BIGINT) AS n_found,
             CAST(n_missed AS BIGINT) AS n_missed,
             CAST(n_extra AS BIGINT) AS n_extra,
             round((n_exact - n_missed) * 10000.0
               / greatest(n_exact, 1), 0) / 10000.0 AS recall
      FROM sweep
      ORDER BY posting_cap"""
  }

  /** x321's oracle = the x286 sweep + the pick rule in SQL: smallest
    * cap with recall >= 0.99, else the largest swept cap.
    */
  private val x321OracleSql: String = {
    val capBlocks = Seq(2, 8, 64).map(c => cappedPairsCtes(c, s"_$c")).mkString(",")
    val rows = Seq(2, 8, 64).map { c =>
      s"""SELECT $c AS posting_cap,
             (SELECT count(*) FROM ex) AS n_exact,
             (SELECT count(*) FROM found_$c) AS n_found,
             (SELECT count(*) FROM ex e LEFT JOIN found_$c f
                ON e.doc_a = f.doc_a AND e.doc_b = f.doc_b
              WHERE f.doc_a IS NULL) AS n_missed,
             (SELECT count(*) FROM found_$c f LEFT JOIN ex e
                ON e.doc_a = f.doc_a AND e.doc_b = f.doc_b
              WHERE e.doc_a IS NULL) AS n_extra"""
    }.mkString(" UNION ALL ")
    s"""
      WITH ${oraclePrologue("doc_id < 600 AND")},
      $capBlocks,
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM kd a JOIN kd b ON a.k = b.k AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      ex AS (SELECT doc_a, doc_b FROM prs
             JOIN cnt ca ON ca.doc_id = prs.doc_a
             JOIN cnt cb ON cb.doc_id = prs.doc_b
             WHERE round(shared * 1.0 / (ca.sz + cb.sz - shared), 4) >= 0.4),
      sweep AS ($rows),
      scored AS (SELECT posting_cap, CAST(n_exact AS BIGINT) AS n_exact,
             CAST(n_found AS BIGINT) AS n_found,
             CAST(n_missed AS BIGINT) AS n_missed,
             CAST(n_extra AS BIGINT) AS n_extra,
             round((n_exact - n_missed) * 10000.0
               / greatest(n_exact, 1), 0) / 10000.0 AS recall
           FROM sweep),
      pick AS (SELECT coalesce(
          (SELECT min(posting_cap) FROM scored WHERE recall >= 0.99),
          (SELECT max(posting_cap) FROM scored)) AS c)
      SELECT s.posting_cap, s.n_exact, s.n_found, s.n_missed, s.n_extra,
             s.recall, s.posting_cap = p.c AS chosen
      FROM scored s, pick p
      ORDER BY s.posting_cap"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x232_chargram_dedup", x232CharGramDedup _, x232OracleSql),
    Entry("x286_chargram_cap_card", x286CharGramCapCard _, x286OracleSql),
    Entry("x321_posting_cap_plan", x321PostingCapPlan _, x321OracleSql))
}
