package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Forty-fourth extension batch — trusting the scores the engine ships:
  *
  *  - calibration / ECE report (x120): the x94 classifier emits margins
  *    and x105 picks a threshold, but a deployed gate also needs its
  *    PROBABILITIES to mean something — "0.9 keeps" should be right 90%
  *    of the time. The reliability table (Guo et al. 2017 shape): bin
  *    predicted keep-probability into 10 equal-width bins, compare each
  *    bin's mean confidence against its empirical accuracy, and summarize
  *    with the expected calibration error Σ n_b/N·|acc_b − conf_b|.
  *  - Bradley–Terry preference fit (x121): pairwise "A beats B"
  *    comparisons → per-player strengths via the classical MM iteration
  *    (Hunter 2004): p_i ← W_i / Σ_j n_ij/(p_i+p_j). THE model behind
  *    RLHF preference data, chess Elo-style laddering, and LLM arena
  *    leaderboards — fit here as a fixed-round deterministic loop so the
  *    whole run replays in SQL.
  *
  * Determinism discipline (the x94/x96 rules): every value that crosses
  * an aggregation is an exact integer. x120's per-bin gap numerator is
  * |1000·npos − Σconf_permille| (a long), so ECE is one integer sum and
  * a single final division; x121 quantizes each pairwise MM term to an
  * integer before the per-player sum (round(1e15·n/(p_i+p_j))) and the
  * weight update replays as the same half-away integer division both
  * engines compute exactly.
  */
object Extensions44 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- x120: calibration / ECE report ----------------------------------------

  /** Reliability table + expected calibration error for a scored,
    * labeled table. `marginCol` is an exact micro-margin (the x94
    * contract); confidence = round(1000·σ(margin/1e6)) — an integer
    * permille, the only float step, on an exact integer input (the x94
    * sigmoid-ulp residue class). Bins are equal-width on [0,1]:
    * bin = min(conf_permille · bins / 1000, bins−1).
    *
    * Output, one row per non-empty bin: (bin, n, npos,
    * avg_conf, acc, abs_gap, ece) — ece repeated on every row so the
    * table is self-contained. All ratio columns use the 4dp product-form
    * rounding; their numerators (Σconf, npos, |1000·npos − Σconf|) are
    * exact longs, so partial-aggregation order cannot move a result.
    *
    * Scale: one map pass (sigmoid + bin), one hash-agg to ≤ `bins`
    * rows, one 1-row total broadcast back — nothing after the partial
    * aggregation is corpus-sized.
    */
  def calibrationReport(
      scored: DataFrame, marginCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins > 0 && 1000 % bins == 0,
      s"calibrationReport: bins must divide 1000, got $bins")
    val width = 1000 / bins
    val conf = round(lit(1000.0) / (lit(1.0) + exp(-col(marginCol) / lit(1e6))), 0)
      .cast("long")
    val per = scored
      .select(
        least(floor(conf / lit(width.toDouble)).cast("long"), lit(bins - 1L))
          .as("bin"),
        conf.as("confp"), col(labelCol).cast("long").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("confp")).as("sum_conf"),
        sum(col("y")).as("npos"))
      .withColumn("gap_num", abs(lit(1000L) * col("npos") - col("sum_conf")))
    val tot = per.agg(sum(col("gap_num")).as("gap_total"),
      sum(col("n")).as("n_total"))
    per.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("npos"),
        Extensions.round4o(col("sum_conf") / (lit(1000.0) * col("n")))
          .as("avg_conf"),
        Extensions.round4o(col("npos") / col("n")).as("acc"),
        Extensions.round4o(col("gap_num") / (lit(1000.0) * col("n")))
          .as("abs_gap"),
        Extensions.round4o(col("gap_total") / (lit(1000.0) * col("n_total")))
          .as("ece"))
  }

  /** x120: reliability table of the x94 fixture classifier (same cached
    * trained weights as x94/x105). Oracle = the x94 training replay +
    * the same sigmoid-permille binning and integer gap sums.
    */
  def x120Calibration(s: SparkSession, dir: String): DataFrame =
    calibrationReport(Extensions26.fixtureScored(s, dir),
      "margin_micro", "label")

  private val x120OracleSql: String = {
    val F1 = Extensions26.NumBuckets + 1
    Extensions26.logregOracleChain(8) + s""",
    scored AS (
      SELECT f.doc_id, f.y AS label,
             CAST(list_sum(list_transform(generate_series(1, $F1), j -> w.w[j] * f.x[j])) AS BIGINT) AS margin
      FROM feat f, w8 w),
    conf AS (SELECT label,
               CAST(round(1000.0 / (1.0 + exp(-margin / 1e6)), 0) AS BIGINT) AS confp
             FROM scored),
    b AS (SELECT least(CAST(floor(confp / 100.0) AS BIGINT), 9) AS bin,
                 count(*) AS n,
                 CAST(sum(confp) AS BIGINT) AS sum_conf,
                 CAST(sum(label) AS BIGINT) AS npos
          FROM conf GROUP BY 1),
    g AS (SELECT *, abs(1000 * npos - sum_conf) AS gap_num FROM b),
    tot AS (SELECT CAST(sum(gap_num) AS BIGINT) AS gap_total,
                   CAST(sum(n) AS BIGINT) AS n_total FROM g)
    SELECT bin, n, npos,
           round(sum_conf / (1000.0 * n) * 10000.0, 0) / 10000.0 AS avg_conf,
           round(npos * 1.0 / n * 10000.0, 0) / 10000.0 AS acc,
           round(gap_num / (1000.0 * n) * 10000.0, 0) / 10000.0 AS abs_gap,
           round(gap_total / (1000.0 * n_total) * 10000.0, 0) / 10000.0 AS ece
    FROM g, tot
    ORDER BY bin"""
  }

  // ---- x121: Bradley–Terry preference-strength fit ----------------------------

  /** Spark/DuckDB-shared half-away-from-zero integer division for
    * POSITIVE operands (the x96 form): (num·2 + den) DIV (2·den).
    */
  private def halfAwaySpark(num: String, den: String): String =
    s"(($num) * 2 + ($den)) DIV (2 * ($den))"

  /** Bradley–Terry strengths from a directed comparison table `games`
    * with one row per ordered (player, opponent): `nCol` games played,
    * `wCol` won by `playerCol`. Fixed `iters` MM rounds (Hunter 2004
    * §1): p_i ← W_i / Σ_j n_ij/(p_i+p_j), with one virtual win and one
    * virtual loss against a ghost player of fixed strength 1.0 — the
    * standard pseudo-game regularization that anchors the scale and
    * keeps winless/lossless players finite, so no normalization step is
    * needed.
    *
    * Integer discipline: strengths live in micro-units (1e6 = 1.0).
    * Each pairwise term quantizes to d_ij = round(1e15·n_ij/(p_i+p_j))
    * BEFORE the per-player sum (so the sum is an exact long, order-
    * free); the update is the half-away integer division
    * p′ = ⌊(1e15·(W_i+1)·2 + S_i) / (2·S_i)⌋. Headroom: the numerator
    * needs 2e15·(W_i+1) < 2^63 — fine to ~4.6e3 wins per player; n_ij
    * up to ~9e3 keeps 1e15·n_ij exact in the double divide.
    *
    * Scale: the comparison log aggregates ONCE to the (player, opp)
    * matchup table (one hash-agg over the raw log — the only corpus-
    * sized step); every iteration is a self-join of the O(players)
    * strength table onto that matchup table plus a per-player hash-agg,
    * the x96 per-round shape. The driver holds nothing.
    *
    * Output: (player, n_games, wins, strength_micro, bt_rank) — rank 1
    * is the strongest (ties broken by player id).
    */
  def bradleyTerry(
      games: DataFrame, playerCol: String, oppCol: String,
      nCol: String, wCol: String, iters: Int = 6): DataFrame = {
    val matchups = Extensions.materialized(
      games.groupBy(col(playerCol).as("player"), col(oppCol).as("opp"))
        .agg(sum(col(nCol).cast("long")).as("n"),
          sum(col(wCol).cast("long")).as("w")))
    val wtab = Extensions.materialized(
      matchups.groupBy(col("player"))
        .agg(sum(col("n")).as("n_games"), sum(col("w")).as("wins")))
    var p = wtab.select(col("player"), lit(1000000L).as("p"))
    for (_ <- 1 to iters) {
      val pi = p.select(col("player"), col("p").as("p_i"))
      val pj = p.select(col("player").as("opp"), col("p").as("p_j"))
      val s = matchups.join(pi, Seq("player")).join(pj, Seq("opp"))
        .select(col("player"),
          round(lit(1e15) * col("n") / (col("p_i") + col("p_j")), 0)
            .cast("long").as("d"))
        .groupBy(col("player")).agg(sum(col("d")).as("s_pairs"))
      p = Extensions.materialized(
        s.join(wtab, Seq("player")).join(pi, Seq("player"))
          .select(col("player"),
            (col("s_pairs")
              + round(lit(2e15) / (col("p_i") + lit(1000000L)), 0).cast("long"))
              .as("den"),
            (lit(1000000000000000L) * (col("wins") + lit(1L))).as("num"))
          .select(col("player"),
            expr(halfAwaySpark("num", "den")).as("p")))
    }
    wtab.join(p, Seq("player"))
      .select(col("player"), col("n_games"), col("wins"),
        col("p").as("strength_micro"))
      .withColumn("bt_rank",
        row_number().over(Window.orderBy(col("strength_micro").desc,
          col("player"))).cast("long"))
  }

  /** x121: a 12-player round robin among docs 0..11 — each unordered
    * pair plays once, the longer document (token count; ties to the
    * lower id) wins. 6 MM rounds. The DuckDB oracle REPLAYS THE FIT:
    * one unrolled (pairwise-term, update) CTE pair per round over
    * 12-element strength lists, same integer arithmetic.
    */
  def x121BradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val pl = Extensions.materialized(
      docs(s, dir).filter(col("doc_id") < 12)
        .select(col("doc_id").as("player"),
          size(split(lower(col("text")), " ")).cast("long").as("lt")))
    val opp = pl.select(col("player").as("opp"), col("lt").as("lt_o"))
    val games = pl.join(opp, col("player") =!= col("opp"))
      .select(col("player"), col("opp"), lit(1L).as("n"),
        when(col("lt") > col("lt_o")
            || (col("lt") === col("lt_o") && col("player") < col("opp")), 1L)
          .otherwise(0L).as("w"))
    bradleyTerry(games, "player", "opp", "n", "w")
  }

  /** The DuckDB replay of [[bradleyTerry]] for the 12-player fixture,
    * generated for a fixed round count (the x94/x96 generated-SQL
    * discipline): strengths are 12-element BIGINT lists, one CTE pair
    * per MM round.
    */
  private[ops] def btOracleChain(iters: Int, players: Int = 12): String = {
    val head = s"""WITH d AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS lt
      FROM documents WHERE doc_id < $players),
    wt AS (SELECT a.doc_id AS i,
             CAST(sum(CASE WHEN a.lt > b.lt OR (a.lt = b.lt AND a.doc_id < b.doc_id)
                           THEN 1 ELSE 0 END) AS BIGINT) AS wins,
             CAST(count(*) AS BIGINT) AS n_games
           FROM d a JOIN d b ON b.doc_id <> a.doc_id
           GROUP BY 1),
    wl AS (SELECT list(wins ORDER BY i) AS wl FROM wt),
    p0 AS (SELECT list_transform(generate_series(1, $players),
             i -> CAST(1000000 AS BIGINT)) AS p)"""
    val rounds = (1 to iters).map { r =>
      s"""
    s$r AS (SELECT w.wl AS wl,
         list_transform(generate_series(1, $players), i ->
           CAST(list_sum(list_transform(generate_series(1, $players), j ->
             CASE WHEN j = i THEN CAST(0 AS BIGINT)
                  ELSE CAST(round(1e15 * 1 / (p.p[i] + p.p[j]), 0) AS BIGINT) END))
             AS BIGINT)
           + CAST(round(2e15 / (p.p[i] + 1000000), 0) AS BIGINT)) AS s
         FROM p${r - 1} p, wl w),
    p$r AS MATERIALIZED (SELECT list_transform(generate_series(1, $players), i ->
           (1000000000000000 * (t.wl[i] + 1) * 2 + t.s[i]) // (2 * t.s[i])) AS p
         FROM s$r t)"""
    }
    head + rounds.mkString(",", ",", "")
  }

  private val x121OracleSql: String = btOracleChain(6) + """
    SELECT CAST(w.i AS BIGINT) AS player, w.n_games, w.wins,
           p.p[w.i + 1] AS strength_micro,
           CAST(row_number() OVER (ORDER BY p.p[w.i + 1] DESC, w.i) AS BIGINT)
             AS bt_rank
    FROM wt w, p6 p
    ORDER BY bt_rank"""

  val entries: Seq[Entry] = Seq(
    Entry("x120_calibration", x120Calibration _, x120OracleSql),
    Entry("x121_bradley_terry", x121BradleyTerry _, x121OracleSql))
}
