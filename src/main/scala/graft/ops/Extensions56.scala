package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.functions.HashFunctions

/** Fifty-sixth extension batch — completing the eval + uncertainty tier:
  *
  *  - MAP/MRR retrieval eval (x144): the binary-relevance counterparts
  *    of x111's nDCG — average precision and reciprocal rank per
  *    query, the standard IR scoreboard columns (Manning et al. 2008
  *    §8.4) the retrieval stack (BM25/RRF/ANN) gets graded on.
  *  - split-conformal gate (x145): distribution-free prediction sets
  *    for the x94 classifier (Vovk et al. 2005; split form per
  *    Angelopoulos & Bates 2021): calibrate the nonconformity quantile
  *    on a held-out split, then report EMPIRICAL coverage and average
  *    set size on the eval split per target level — the finite-sample
  *    guarantee the x105/x140 point calibrations can't give.
  *
  * Determinism discipline: x144's precision terms carry the common
  * denominator L = lcm(1..k), so AP numerators are exact longs and the
  * 4dp render is one half-away integer division; x145's nonconformity
  * scores are integer permilles, the conformal quantile is an exact
  * k-th order statistic read off cumulative grid counts, and coverage/
  * set-size are exact counts — no float enters either operator before
  * the final division.
  */
object Extensions56 {

  // ---- x144: MAP / MRR retrieval eval -----------------------------------------

  private def lcmTo(k: Int): Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1L to k.toLong).reduce((a, b) => a / gcd(a, b) * b)
  }

  /** Per-query MAP@k and MRR over a ranking (q_id, c_id, rk ∈ 1..k)
    * and a binary relevance set (q_id, c_id):
    *
    *   AP@k = (1/min(R,k)) · Σ_{i ≤ k, hit at i} P@i,  P@i = c_i/i
    *   RR   = 1/rank of first hit (0 when no hit; AP 0 when R = 0)
    *
    * with R = |relevant(q)| over the FULL relevance set (hits beyond k
    * count toward the denominator — the standard penalty for a
    * retriever that buries them). Output (q_id, n_rel, n_rel_at_k,
    * first_rel_rank, rr, ap); first_rel_rank 0 = none.
    *
    * Exactness: every P@i is c_i·(L/i) over the common denominator
    * L = lcm(1..k) (k ≤ 20 ⇒ L ≤ 232792560 — products stay far inside
    * long range), so AP sums exact longs and renders via ONE half-away
    * division.
    *
    * Scale: the eval runs entirely on tables that are already ≤
    * queries·k rows (one window, two hash-aggs) — it costs nothing
    * next to the retrieval it scores.
    */
  def mapMrrAtK(ranking: DataFrame, rel: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 20, s"mapMrrAtK: k in 1..20, got $k")
    val bigL = lcmTo(k)
    val relTotal = rel.groupBy(col("q_id")).agg(count(lit(1)).as("n_rel"))
    val joined = ranking.filter(col("rk") <= k)
      .join(rel.withColumn("hit", lit(1L)), Seq("q_id", "c_id"), "left_outer")
      .na.fill(0L, Seq("hit"))
    val wCum = Window.partitionBy(col("q_id")).orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perQ = joined
      .withColumn("c_i", sum(col("hit")).over(wCum))
      .groupBy(col("q_id"))
      .agg(
        sum(when(col("hit") === 1L, col("c_i") * expr(s"$bigL DIV rk"))
          .otherwise(0L)).as("apnum"),
        sum(col("hit")).as("n_rel_at_k"),
        min(when(col("hit") === 1L, col("rk"))).as("frr"))
    perQ.join(relTotal, Seq("q_id"), "left_outer")
      .na.fill(0L, Seq("n_rel"))
      .withColumn("den", lit(bigL) * least(col("n_rel"), lit(k.toLong)))
      .select(col("q_id"), col("n_rel"), col("n_rel_at_k"),
        coalesce(col("frr"), lit(0L)).as("first_rel_rank"),
        when(col("frr").isNotNull,
          expr("((10000 * 2 + frr) DIV (2 * frr)) / 10000.0D")
            .cast("double")).otherwise(lit(0.0d)).as("rr"),
        when(col("den") > 0L,
          expr("((apnum * 10000 * 2 + den) DIV (2 * den)) / 10000.0D")
            .cast("double")).otherwise(lit(0.0d)).as("ap"))
  }

  /** x144: MAP@10/MRR of the trigram-Jaccard ranking against binary
    * unigram-Jaccard relevance (grade ≥ 1, i.e. jac ≥ 0.25) for
    * queries doc_id ≤ 5 — the same retrieval x111 grades with nDCG.
    */
  def x144MapMrr(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val ranking = Extensions37.jaccardRanking(d, qMax = 5L, n = 3, k = 10)
      .select(col("q_id"), col("c_id"), col("rk"))
    val rel = Extensions37.jaccardLike(d, qMax = 5L)
      .filter(col("grade") >= 1L).select(col("q_id"), col("c_id"))
    mapMrrAtK(ranking, rel, k = 10)
  }

  private val x144OracleSql: String = """
      WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      g3 AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
             FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS t(i)
             WHERE len(tk) >= 3),
      g1 AS (SELECT DISTINCT doc_id, u.g
             FROM toks, UNNEST(tk) AS u(g)),
      sz3 AS (SELECT doc_id, count(*) AS sz FROM g3 GROUP BY doc_id),
      sz1 AS (SELECT doc_id, count(*) AS sz FROM g1 GROUP BY doc_id),
      inter3 AS (SELECT a.doc_id AS q_id, b.doc_id AS c_id, count(*) AS inter
                 FROM g3 a JOIN g3 b ON a.g = b.g AND a.doc_id <= 5 AND a.doc_id <> b.doc_id
                 GROUP BY 1, 2),
      ranked AS (SELECT q_id, c_id, rk FROM (
          SELECT i.q_id, i.c_id,
                 row_number() OVER (PARTITION BY i.q_id
                   ORDER BY round(i.inter * 1.0 / (qs.sz + cs.sz - i.inter), 4) DESC, i.c_id) AS rk
          FROM inter3 i
          JOIN sz3 qs ON qs.doc_id = i.q_id
          JOIN sz3 cs ON cs.doc_id = i.c_id)
        WHERE rk <= 10),
      inter1 AS (SELECT a.doc_id AS q_id, b.doc_id AS c_id, count(*) AS inter
                 FROM g1 a JOIN g1 b ON a.g = b.g AND a.doc_id <= 5 AND a.doc_id <> b.doc_id
                 GROUP BY 1, 2),
      rel AS (SELECT i.q_id, i.c_id
              FROM inter1 i
              JOIN sz1 qs ON qs.doc_id = i.q_id
              JOIN sz1 cs ON cs.doc_id = i.c_id
              WHERE CAST(floor(round(i.inter * 1.0 / (qs.sz + cs.sz - i.inter), 4) * 4.0) AS BIGINT) >= 1),
      rt AS (SELECT q_id, count(*) AS n_rel FROM rel GROUP BY q_id),
      j AS (SELECT r.q_id, r.c_id, r.rk,
              CASE WHEN rel.q_id IS NULL THEN 0 ELSE 1 END AS hit
            FROM ranked r LEFT JOIN rel ON rel.q_id = r.q_id AND rel.c_id = r.c_id),
      cum AS (SELECT *, CAST(sum(hit) OVER (PARTITION BY q_id ORDER BY rk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_i
              FROM j),
      pq AS (SELECT q_id,
               CAST(sum(CASE WHEN hit = 1 THEN c_i * (2520 // rk) ELSE 0 END) AS BIGINT) AS apnum,
               CAST(sum(hit) AS BIGINT) AS n_rel_at_k,
               min(CASE WHEN hit = 1 THEN rk END) AS frr
             FROM cum GROUP BY q_id),
      fin AS (SELECT pq.q_id, coalesce(rt.n_rel, 0) AS n_rel, pq.n_rel_at_k,
                pq.frr, 2520 * least(coalesce(rt.n_rel, 0), 10) AS den, pq.apnum
              FROM pq LEFT JOIN rt ON rt.q_id = pq.q_id)
      SELECT q_id, n_rel, n_rel_at_k,
             CAST(coalesce(frr, 0) AS BIGINT) AS first_rel_rank,
             CASE WHEN frr IS NOT NULL
                  THEN ((10000 * 2 + frr) // (2 * frr)) / 10000.0
                  ELSE 0.0 END AS rr,
             CASE WHEN den > 0
                  THEN ((apnum * 10000 * 2 + den) // (2 * den)) / 10000.0
                  ELSE 0.0 END AS ap
      FROM fin
      ORDER BY q_id"""

  // ---- x145: split-conformal prediction gate ----------------------------------

  /** Split-conformal prediction sets for a binary scored table: rows
    * split 50/50 by the md5 permille of `idCol` (calibration vs eval);
    * nonconformity α = 1000 − s for the true label 1 and s for label 0
    * (s = confidence permille, the x120 contract); per target level
    * 1−a the conformal quantile q̂ is the k-th smallest calibration α
    * with k = ⌈(n_cal+1)(1−a)⌉ — read exactly off cumulative grid
    * counts. The eval split then reports per level: empirical coverage
    * (true label's α ≤ q̂) and average prediction-set size
    * ([s ≤ q̂] + [1000−s ≤ q̂]) — the honesty/efficiency trade the
    * finite-sample guarantee promises.
    *
    * Output (coverage_target, n_cal, qhat, n_eval, coverage_emp,
    * avg_set_size). k > n_cal degrades to q̂ = 1000
    * (full sets, coverage 1 — the honest small-sample answer).
    *
    * Scale: one map pass + hash-agg to the ≤1001-row nonconformity
    * grid, thresholds broadcast (|levels| rows), one eval aggregation
    * with the level spine exploded map-side — corpus touched twice.
    */
  def conformalGate(
      scored: DataFrame, idCol: String, marginCol: String, labelCol: String,
      levels: Seq[Int] = Seq(900, 950, 990)): DataFrame = {
    require(levels.nonEmpty && levels.forall(l => l > 0 && l < 1000))
    val s = round(lit(1000.0) / (lit(1.0) + exp(-col(marginCol) / lit(1e6))), 0)
      .cast("long")
    val base = scored.select(
      pmod(HashFunctions.md5_bucket60(col(idCol).cast("string")), lit(1000L))
        .as("pm"),
      s.as("s"), col(labelCol).cast("long").as("y"))
    val calib = base.filter(col("pm") < 500L)
      .withColumn("a", when(col("y") === 1L, lit(1000L) - col("s"))
        .otherwise(col("s")))
    val grid = calib.groupBy(col("a")).agg(count(lit(1)).as("cnt"))
    // round-14: the conformal quantile reads off GridStats.conformalQhat
    // (shared kernel with x324 Extensions143.conformalCard — the delta is
    // the degrade policy: full sets at k > n_cal here, loud-refuse there)
    val qhats = GridStats.conformalQhat(grid, "a", "cnt", levels)
      .withColumn("qhat", coalesce(col("qhat"), lit(1000L)))
      .drop("k")
    val eval = base.filter(col("pm") >= 500L)
    eval.crossJoin(broadcast(qhats))
      .withColumn("cov", when(col("y") === 1L, lit(1000L) - col("s") <= col("qhat"))
        .otherwise(col("s") <= col("qhat")))
      .withColumn("sz",
        (col("s") <= col("qhat")).cast("long") +
          (lit(1000L) - col("s") <= col("qhat")).cast("long"))
      .groupBy(col("level"), col("n_cal"), col("qhat"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("cov"), 1L).otherwise(0L)).as("ncov"),
        sum(col("sz")).as("szsum"))
      .select((col("level") / lit(1000.0d)).as("coverage_target"),
        col("n_cal"), col("qhat"), col("n_eval"),
        Extensions.round4o(col("ncov") / col("n_eval")).as("coverage_emp"),
        Extensions.round4o(col("szsum") / col("n_eval")).as("avg_set_size"))
  }

  /** x145: conformal gate of the x94 fixture classifier (same cached
    * trained weights as x94/x105/x120/x140).
    */
  def x145Conformal(s: SparkSession, dir: String): DataFrame =
    conformalGate(Extensions26.fixtureScored(s, dir),
      "doc_id", "margin_micro", "label")

  private val x145OracleSql: String = {
    val F1 = Extensions26.NumBuckets + 1
    Extensions26.logregOracleChain(8) + s""",
    scored AS (
      SELECT f.doc_id, f.y,
             CAST(round(1000.0 / (1.0 + exp(
               -CAST(list_sum(list_transform(generate_series(1, $F1), j -> w.w[j] * f.x[j])) AS BIGINT)
               / 1e6)), 0) AS BIGINT) AS s,
             ('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS pm
      FROM feat f, w8 w),
    calib AS (SELECT CASE WHEN y = 1 THEN 1000 - s ELSE s END AS a
              FROM scored WHERE pm < 500),
    grid AS (SELECT a, count(*) AS cnt FROM calib GROUP BY a),
    cum AS (SELECT a, CAST(sum(cnt) OVER (ORDER BY a
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
            FROM grid),
    nc AS (SELECT count(*) AS n_cal FROM calib),
    spine AS (SELECT CAST(u.l AS BIGINT) AS level FROM (VALUES (900), (950), (990)) u(l)),
    ks AS (SELECT level, n_cal, ((n_cal + 1) * level + 999) // 1000 AS k
           FROM spine, nc),
    qh AS (SELECT ks.level, ks.n_cal, coalesce(min(cum.a), 1000) AS qhat
           FROM ks LEFT JOIN cum ON cum.c >= ks.k
           GROUP BY ks.level, ks.n_cal),
    ev AS (SELECT s, y FROM scored WHERE pm >= 500)
    SELECT qh.level / 1000.0 AS coverage_target, qh.n_cal, qh.qhat,
           count(*) AS n_eval,
           round(sum(CASE WHEN (CASE WHEN ev.y = 1 THEN 1000 - ev.s ELSE ev.s END) <= qh.qhat
                     THEN 1 ELSE 0 END) * 1.0 / count(*) * 10000.0, 0) / 10000.0 AS coverage_emp,
           round(sum((CASE WHEN ev.s <= qh.qhat THEN 1 ELSE 0 END)
                     + (CASE WHEN 1000 - ev.s <= qh.qhat THEN 1 ELSE 0 END)) * 1.0
                 / count(*) * 10000.0, 0) / 10000.0 AS avg_set_size
    FROM ev, qh
    GROUP BY qh.level, qh.n_cal, qh.qhat
    ORDER BY coverage_target"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x144_map_mrr", x144MapMrr _, x144OracleSql),
    Entry("x145_conformal", x145Conformal _, x145OracleSql))
}
