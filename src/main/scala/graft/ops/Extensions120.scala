package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-twentieth extension batch — the BLOCKING-FAMILY PLANNER
  * for record linkage (round-9 verdict item 4): the engine ships three
  * blocking families — FastSS deletion neighborhoods (x89),
  * sorted-neighborhood windows (x248), prefix-filtered set overlap
  * (x253) — and the Fellegi–Sunter scorer they feed (x255), but the
  * caller picked the blocker blind. x270 applies the measure-then-act
  * pattern (saltDecision, geometryPlan, probePlan): run ALL THREE
  * candidate generators on a calibration sample, score each family's
  * candidate volume (the verify+scoring work it buys) and its recall
  * against an exact gold standard (all-pairs Jaro–Winkler at the match
  * threshold — N² priced once, on the SAMPLE), and mark the cheapest
  * family reaching the recall target (highest recall when none does).
  *
  * Scale: a calibration tool — the N² gold pass and the three candidate
  * sets run on the sampled records, never the corpus; the chosen
  * family then blocks the full corpus with its proven geometry, and
  * only candidate pairs (output-shaped by construction in all three
  * families) ever reach the Jaro–Winkler comparator / FS scorer.
  *
  * Determinism: candidate counts are exact set cardinalities; recall
  * renders by the half-up integer formula; the choice rule is a total
  * order (recall gate, then fewest candidates, then family name) both
  * engines replay.
  */
object Extensions120 {

  /** The per-family card: (family, n_candidates, n_truth, n_caught,
    * recall, chosen), ordered by family name. Refuses inputs above
    * `maxSample` (the gold pass is n² BY DESIGN — only a sample may pay
    * it); [[blockingPlanSampled]] handles full corpora.
    */
  def blockingPlan(
      records: DataFrame, strCol: String,
      jwThreshold: Double = 0.9, window: Int = 10,
      tNum: Long = 1L, tDen: Long = 2L,
      targetRecall: Double = 0.9,
      maxSample: Long = 50000L): DataFrame = {
    import graft.functions.JaroWinkler.jaroWinkler
    val spark = records.sparkSession
    import spark.implicits._
    val strs = Extensions.materialized(
      records.select(lower(col(strCol)).as("s"))
        .filter(col("s").isNotNull && length(col("s")) > 0)
        .distinct())
    // The gold standard below is an ALL-PAIRS theta-join — n² by design,
    // priced ONCE on a calibration sample. Nothing else in the repo runs
    // an unguarded quadratic join, so ENFORCE the sample bound instead of
    // trusting the caller (the saltDecisionSampled discipline): a full
    // corpus here is a BNLJ scale-killer, and the refusal names the
    // sampled entry point that handles it.
    val nStrs = strs.count()
    require(nStrs <= maxSample,
      s"blockingPlan prices an ALL-PAIRS Jaro-Winkler gold standard " +
        s"(~${nStrs * nStrs / 2} comparisons at n=$nStrs distinct strings) — " +
        s"that exceeds maxSample=$maxSample; pass a calibration sample, or " +
        "use blockingPlanSampled, which md5-samples one deterministically")
    // gold standard: every true match pair on the calibration sample
    val truth = Extensions.materialized(
      strs.as("a").join(strs.as("b"), col("a.s") < col("b.s"))
        .filter(jaroWinkler(col("a.s"), col("b.s")) >= jwThreshold)
        .select(col("a.s").as("name_a"), col("b.s").as("name_b")))
    val families: Seq[(String, DataFrame)] = Seq(
      "fastss_del1" -> deletion1ByString(strs),
      "prefix_filter" -> prefixByToken(strs, tNum, tDen),
      "sorted_neighborhood" -> snmByPrefix(strs, window))
    val scored = families.map { case (name, cand) =>
      val c = Extensions.materialized(cand)
      val nCand = c.count()
      val caught = c.join(truth, Seq("name_a", "name_b"), "left_semi").count()
      (name, nCand, caught)
    }
    val nTruth = truth.count()
    def recall(caught: Long): Double =
      if (nTruth == 0L) 1.0
      else ((caught * 10000L * 2 + nTruth) / (2 * nTruth)) / 10000.0
    val rows = scored.map { case (f, nc, ca) => (f, nc, nTruth, ca, recall(ca)) }
    val meeting = rows.filter(_._5 >= targetRecall)
    val chosen =
      if (meeting.nonEmpty) meeting.minBy(r => (r._2, r._1))._1
      else rows.minBy(r => (-r._5, r._2, r._1))._1
    rows.sortBy(_._1)
      .map { case (f, nc, nt, ca, rec) => (f, nc, nt, ca, rec, f == chosen) }
      .toDF("family", "n_candidates", "n_truth", "n_caught", "recall", "chosen")
  }

  /** [[blockingPlan]] over a DETERMINISTIC md5-derived sample of the
    * records — the 100 TB entry point. The keep-set is a fixed-threshold
    * filter on the string's 60-bit md5 lane (no RNG, no partition
    * seeding: the same corpus always prices the same sample, and a
    * retry replays it bit-identically), sized so the expected kept
    * count is ~`maxSample`; the guard inside [[blockingPlan]] then
    * enforces the bound the filter targeted.
    */
  def blockingPlanSampled(
      records: DataFrame, strCol: String,
      jwThreshold: Double = 0.9, window: Int = 10,
      tNum: Long = 1L, tDen: Long = 2L,
      targetRecall: Double = 0.9,
      maxSample: Long = 50000L): DataFrame = {
    import graft.functions.HashFunctions.md5_bucket60
    val n = records.select(lower(col(strCol)).as("s"))
      .filter(col("s").isNotNull && length(col("s")) > 0)
      .distinct().count()
    if (n <= maxSample)
      return blockingPlan(records, strCol, jwThreshold, window, tNum, tDen,
        targetRecall, maxSample)
    // expected-keep sizing with headroom under the hard cap: thr/m = 0.9 ·
    // maxSample/n, so the binomial draw stays below maxSample w.h.p. at
    // these sizes (maxSample ≫ 1/0.01²)
    val m = 1L << 32
    val thr = math.max(1L,
      (BigInt(m) * 9 * maxSample / (BigInt(10) * n)).toLong)
    blockingPlan(
      records.filter(pmod(md5_bucket60(lower(col(strCol))), lit(m)) < lit(thr)),
      strCol, jwThreshold, window, tNum, tDen, targetRecall, maxSample)
  }

  /** FastSS deletion-1 candidates keyed by the variant STRING (exact —
    * the x89 hash-keyed join trades a vanishing collision risk for a
    * narrower exchange; a calibration card must count exactly).
    */
  private def deletion1ByString(strs: DataFrame): DataFrame = {
    val keyed = strs.select(col("s"), explode(array_union(
      array(col("s")),
      transform(sequence(lit(1), length(col("s"))), i =>
        concat(col("s").substr(lit(1), i - 1),
          col("s").substr(i + 1, length(col("s")) - i))))).as("v"))
    keyed.select(col("s").as("name_a"), col("v"))
      .join(keyed.select(col("s").as("name_b"), col("v")), Seq("v"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"))
      .distinct()
  }

  /** Sorted-neighborhood candidates at `w`: the x248 shape (distributed
    * rank on the 16-char key, two-bucket windowed self-join) minus the
    * verify tail.
    */
  private def snmByPrefix(strs: DataFrame, w: Int): DataFrame = {
    require(w >= 2)
    val keyed = strs.select(col("s"), substring(col("s"), 1, 16).as("__sk"))
    val ranked = Rank.globalRank(keyed, Seq("__sk", "s"), Seq(false, false),
        parts = 8, tiles = 1)
      .select(col("s"), col("rn"))
    val lo = ranked.select(col("s").as("sa"), col("rn").as("ra"),
      floor(col("rn") / w).cast("long").as("b0"))
    val hi = ranked.select(col("s").as("sb"), col("rn").as("rb"),
      floor(col("rn") / w).cast("long").as("hb"))
    lo.withColumn("bk", explode(array(col("b0"), col("b0") + 1L)))
      .join(hi, col("bk") === col("hb"))
      .filter(col("rb") > col("ra") && col("rb") - col("ra") < w)
      .select(least(col("sa"), col("sb")).as("name_a"),
        greatest(col("sa"), col("sb")).as("name_b"))
      .distinct()
  }

  /** Prefix-filter candidates on word sets at t = tNum/tDen — the x253
    * candidate stage over single-word shingles.
    */
  private def prefixByToken(strs: DataFrame, tNum: Long, tDen: Long): DataFrame =
    Extensions111.prefixCandidates(
        Extensions111.tokenSets(strs, "s", "s", 1), tNum, tDen)
      .select(col("doc_a").as("name_a"), col("doc_b").as("name_b"))

  /** x270: the planner card over part names at jw ≥ 0.9 (the x257
    * match predicate), window 10, prefix threshold 1/2.
    */
  def x270BlockingPlan(s: SparkSession, dir: String): DataFrame =
    blockingPlan(Tables.load(s, dir, "part"), "p_name")

  private val x270OracleSql: String = """
      WITH strs AS MATERIALIZED (
        SELECT DISTINCT lower(p_name) AS s FROM part
        WHERE p_name IS NOT NULL AND length(p_name) > 0),
      truth AS MATERIALIZED (
        SELECT a.s AS name_a, b.s AS name_b
        FROM strs a JOIN strs b ON a.s < b.s
        WHERE jaro_winkler_similarity(a.s, b.s) >= 0.9),
      vars AS (
        SELECT s, s AS v FROM strs
        UNION
        SELECT s, substr(s, 1, i - 1) || substr(s, i + 1) AS v
        FROM strs, UNNEST(generate_series(1, length(s))) AS g(i)),
      fastss AS MATERIALIZED (
        SELECT DISTINCT a.s AS name_a, b.s AS name_b
        FROM vars a JOIN vars b ON a.v = b.v AND a.s < b.s),
      ranked AS (
        SELECT s, row_number() OVER (ORDER BY substr(s, 1, 16), s) AS rn
        FROM strs),
      snm AS MATERIALIZED (
        SELECT DISTINCT least(a.s, b.s) AS name_a, greatest(a.s, b.s) AS name_b
        FROM ranked a JOIN ranked b ON b.rn > a.rn AND b.rn - a.rn < 10),
      tok AS (SELECT s, unnest(list_distinct(string_split(s, ' '))) AS term
              FROM strs),
      sz AS (SELECT s, CAST(count(*) AS BIGINT) AS sz FROM tok GROUP BY s),
      df AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
      pref AS (
        SELECT s, term FROM (
          SELECT t.s, t.term, z.sz,
                 row_number() OVER (PARTITION BY t.s ORDER BY d.df, t.term) AS pos
          FROM tok t JOIN df d USING (term) JOIN sz z USING (s))
        WHERE pos <= sz - ((1 * sz + 2 - 1) // 2) + 1),
      prefc AS MATERIALIZED (
        SELECT DISTINCT a.s AS name_a, b.s AS name_b
        FROM pref a JOIN pref b ON a.term = b.term AND a.s < b.s),
      nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM truth),
      card AS (
        SELECT 'fastss_del1' AS family,
               (SELECT CAST(count(*) AS BIGINT) FROM fastss) AS n_candidates,
               nt.n AS n_truth,
               (SELECT CAST(count(*) AS BIGINT) FROM fastss f
                 JOIN truth t ON t.name_a = f.name_a AND t.name_b = f.name_b)
                 AS n_caught
        FROM nt
        UNION ALL
        SELECT 'prefix_filter',
               (SELECT CAST(count(*) AS BIGINT) FROM prefc), nt.n,
               (SELECT CAST(count(*) AS BIGINT) FROM prefc f
                 JOIN truth t ON t.name_a = f.name_a AND t.name_b = f.name_b)
        FROM nt
        UNION ALL
        SELECT 'sorted_neighborhood',
               (SELECT CAST(count(*) AS BIGINT) FROM snm), nt.n,
               (SELECT CAST(count(*) AS BIGINT) FROM snm f
                 JOIN truth t ON t.name_a = f.name_a AND t.name_b = f.name_b)
        FROM nt),
      scored AS (
        SELECT family, n_candidates, n_truth, n_caught,
               CASE WHEN n_truth = 0 THEN 1.0
                    ELSE ((n_caught * 10000 * 2 + n_truth)
                          // (2 * n_truth)) / 10000.0 END AS recall
        FROM card),
      pick AS (
        SELECT COALESCE(
          (SELECT family FROM scored WHERE recall >= 0.9
           ORDER BY n_candidates, family LIMIT 1),
          (SELECT family FROM scored
           ORDER BY recall DESC, n_candidates, family LIMIT 1)) AS f)
      SELECT s.family, s.n_candidates, s.n_truth, s.n_caught, s.recall,
             s.family = p.f AS chosen
      FROM scored s, pick p
      ORDER BY s.family"""

  val entries: Seq[Entry] = Seq(
    Entry("x270_blocking_plan", x270BlockingPlan _, x270OracleSql))
}
