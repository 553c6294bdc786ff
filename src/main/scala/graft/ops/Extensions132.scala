package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-thirty-second extension batch — the causal tier's
  * matching estimator and the linkage tier's multi-token comparator:
  *
  *  - propensity-score caliper matching (x296): nearest-control
  *    matching WITH replacement on the clipped propensity (Rosenbaum &
  *    Rubin 1983) — the estimator practitioners reach for before IPW,
  *    here on the EXACT same world as x274 (same GD propensity chain,
  *    same treatment/outcome), so the two ATT readouts diff directly.
  *    Candidates come from a 1-D caliper-bucket join (the x288 grid
  *    trick in one dimension — lossless for the caliper ball, never
  *    treated × controls).
  *  - Monge–Elkan similarity join (x297): the multi-token fuzzy-name
  *    comparator (Monge & Elkan 1996) — per token of A, the best
  *    Jaro–Winkler match in B, averaged; computed in BOTH directions
  *    and symmetrized by max. Fills the gap between whole-string JW
  *    (x257, order-sensitive) and token-set Jaccard (order-blind but
  *    typo-blind).
  *
  * Determinism: x296 ties break (|Δe| asc, control id asc) on exact
  * integer micro scores; x297 rounds each token's best-JW to micro
  * BEFORE the per-pair sum (max of doubles is order-free; an unordered
  * SUM of doubles is not — the one float-nondeterminism trap in any
  * mean-of-max construction).
  */
object Extensions132 {

  import Extensions26.NumBuckets

  private def marginMicro(weights: Array[Long], x: Column): Column =
    graft.functions.VectorFunctions.long_dot(
      array(weights.map(lit(_)): _*), x)

  // ---- x296: propensity-score caliper matching ----------------------------------

  /** One-row matched-ATT card: each treated unit matches the control
    * with the nearest clipped propensity within `caliperMicro` (with
    * replacement; ties |Δe| asc, control id asc). Output: (n_treated,
    * n_matched, n_unmatched, mean_t_micro, mean_mc_micro, att_micro) —
    * means over MATCHED pairs, half-up micro.
    *
    * Scale (r12 re-plan, audit-driven): the propensity is the x94 GD
    * chain (corpus featurized once, 8 bounded map+agg passes). The
    * first shipped match plan joined treated × in-caliper controls and
    * ranked — the sf1 audit read it at exponent 1.50 (both sides of a
    * hot propensity bucket grow with the corpus, so candidate pairs
    * grow quadratically). Now: controls collapse to their DISTINCT
    * clipped-propensity grid (≤ 10^6 rows forever — corpus-invariant;
    * per grid value the min-id control is the representative, which
    * preserves the (|Δe|, c_id) tie EXACTLY because the original
    * argmin over a tied-|Δe| set is the min id of the union of the
    * grid groups), then TWO native as-of merge joins (below/above,
    * tolerance = caliper) keyed by caliper bucket with a one-bucket
    * spill find the nearest grid value on each side — per treated the
    * candidate set is exactly {prev, next}, no window, no pair table.
    */
  def psmAtt(
      labeled: DataFrame, idCol: String, textCol: String,
      treatCol: String, outcomeCol: String, iters: Int = 8,
      caliperMicro: Long = 50000L,
      clipLoMicro: Long = 10000L, clipHiMicro: Long = 990000L): DataFrame = {
    require(caliperMicro >= 1L && clipLoMicro >= 1L &&
      clipHiMicro <= 999999L && clipLoMicro < clipHiMicro)
    // r15: outcome carried through the featurization projection — no
    // doc_id join-back (exact by construction, one exchange fewer)
    val feat = Extensions.materialized(
      Extensions26.hashedFeaturesCarry(labeled, idCol, textCol, treatCol,
        Seq(col(outcomeCol).cast("long").as("yo"))))
    val w = Extensions26.trainLogreg(feat, iters = iters)
    val e = least(greatest(
      round(lit(1e6) / (lit(1.0) + exp(-marginMicro(w, col("x")) / lit(1e6))), 0)
        .cast("long"), lit(clipLoMicro)), lit(clipHiMicro))
    val scored = Extensions.materialized(
      feat.select(col("doc_id"), col("y").as("t"), col("yo"), e.as("e"))
        .withColumn("b", expr(s"e DIV $caliperMicro")))
    val treats = scored.filter(col("t") === 1L)
      .select(col("doc_id").as("t_id"), col("yo").as("ty"),
        col("e").as("te"))
    val ctrls = scored.filter(col("t") === 0L)
      .select(col("doc_id").as("c_id"), col("yo").as("cy"),
        col("e").as("ce"))
    // corpus-invariant control grid: one representative per distinct
    // clipped propensity (min id; min_by carries its outcome)
    val grid = Extensions.materialized(
      ctrls.groupBy(col("ce"))
        .agg(min(col("c_id")).as("c_id"),
          min_by(col("cy"), col("c_id")).as("cy")))
    val gBelow = grid
      .withColumn("b", explode(array(
        expr(s"ce DIV $caliperMicro"), expr(s"ce DIV $caliperMicro + 1"))))
    val below = graft.plans.AsOfJoinOp(
      treats.withColumn("b", expr(s"te DIV $caliperMicro")),
      gBelow, Seq("b"), "te", "ce", tolerance = Some(caliperMicro))
    val gAbove = grid
      .select((lit(1000000L) - col("ce")).as("ce2"),
        col("c_id").as("cn_id"), col("cy").as("cn_cy"))
      .withColumn("b2", explode(array(
        expr(s"ce2 DIV $caliperMicro"), expr(s"ce2 DIV $caliperMicro + 1"))))
    val both = graft.plans.AsOfJoinOp(
      below.withColumn("te2", lit(1000000L) - col("te"))
        .withColumn("b2", expr(s"te2 DIV $caliperMicro")),
      gAbove, Seq("b2"), "te2", "ce2", tolerance = Some(caliperMicro))
    // nearest of {prev, next}; an exact-distance tie goes to the
    // smaller representative id — the original (|Δe|, c_id) rule
    val dp = col("te") - col("ce")
    val dn = col("te2") - col("ce2") // = next_ce − te; both distances ≥ 0
    val matched = Extensions.materialized(
      both.filter(col("ce").isNotNull || col("ce2").isNotNull)
        .select(col("t_id"), col("ty"),
          when(col("ce2").isNull, col("cy"))
            .when(col("ce").isNull, col("cn_cy"))
            .when(dp < dn, col("cy"))
            .when(dn < dp, col("cn_cy"))
            .when(col("c_id") <= col("cn_id"), col("cy"))
            .otherwise(col("cn_cy")).as("cy")))
    val nT = treats.agg(count(lit(1)).as("n_treated"))
    // width (r13 table): Σy·2e6 wraps a long past Σy ~ 4.6e12 — cents
    // outcomes cross that at ~5e7 matched rows, so the sums and the
    // mean numerators ride DECIMAL; the means themselves fit BIGINT
    // (outcome scale × 1e6)
    matched.agg(
        count(lit(1)).as("n_matched"),
        sum(col("ty").cast("decimal(38,0)")).as("sty"),
        sum(col("cy").cast("decimal(38,0)")).as("scy"))
      .crossJoin(broadcast(nT))
      .select(col("n_treated"), col("n_matched"),
        (col("n_treated") - col("n_matched")).as("n_unmatched"),
        expr("CAST((sty * 1000000 * 2 + n_matched) DIV (2 * n_matched)" +
          " AS BIGINT)").as("mean_t_micro"),
        expr("CAST((scy * 1000000 * 2 + n_matched) DIV (2 * n_matched)" +
          " AS BIGINT)").as("mean_mc_micro"))
      .withColumn("att_micro", col("mean_t_micro") - col("mean_mc_micro"))
  }

  /** x296: the x274 question answered by MATCHING instead of weighting —
    * same treatment (lang = en), same outcome (Gopher keep), same
    * propensity chain, so the two cards isolate the estimator choice.
    */
  def x296PsmAtt(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        carryCols = Seq("text", "lang"))
      .select(col("doc_id"), col("text"),
        (col("lang") === "en").cast("long").as("treat"),
        col("keep").cast("long").as("outcome"))
    psmAtt(labeled, "doc_id", "text", "treat", "outcome")
  }

  /** The oracle reuses x274's head (same features/labels) and GD chain,
    * then matches with a correlated nearest-control lookup — identical
    * (|Δe|, c_id) ties, caliper 50000 micro.
    */
  private val x296OracleSql: String = {
    val F = NumBuckets
    val head = s"""WITH d AS (
      SELECT doc_id, lang, text, string_split(lower(text), ' ') AS tk
      FROM documents),
    f0 AS (SELECT doc_id, lang, tk,
              CAST(len(tk) AS BIGINT) AS n_words,
              list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS sum_len,
              len(list_filter(tk, t -> t IN ('the', 'a'))) AS n_stop,
              CASE WHEN len(tk) >= 2
                   THEN list_transform(generate_series(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1])
                   ELSE [] END AS g2
       FROM d),
    lab AS (SELECT doc_id, lang, tk,
        CASE WHEN n_words BETWEEN 50 AND 100000
              AND round(sum_len * 10000.0 / n_words, 0) / 10000.0 BETWEEN 3.0 AND 10.0
              AND round(n_stop * 10000.0 / n_words, 0) / 10000.0 <= 0.25
              AND (CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END) <= 0.2
             THEN 1 ELSE 0 END AS yo
        FROM f0),
    feat AS MATERIALIZED (
      SELECT doc_id, CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
             CAST(yo AS BIGINT) AS yo,
             list_append(list_transform(generate_series(0, ${F - 1}),
               j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)), CAST(1 AS BIGINT)) AS x
      FROM (SELECT doc_id, lang, yo,
                   list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $F) AS bks
            FROM lab))"""
    val chain = Extensions117.chainG("p_", 8, "TRUE")
    s"""$head,$chain,
    sc AS MATERIALIZED (
      SELECT f.doc_id, f.y AS t, f.yo,
             least(greatest(CAST(round(1e6 / (1.0 + exp(
               -CAST(list_sum(list_transform(generate_series(1, ${F + 1}),
                 j -> w.w[j] * f.x[j])) AS BIGINT) / 1e6)), 0) AS BIGINT),
               10000), 990000) AS e
      FROM feat f, p_w8 w),
    m AS (SELECT tr.doc_id AS t_id, tr.yo AS ty,
            (SELECT c.yo FROM sc c
             WHERE c.t = 0 AND abs(c.e - tr.e) <= 50000
             ORDER BY abs(c.e - tr.e), c.doc_id LIMIT 1) AS cy
          FROM sc tr WHERE tr.t = 1),
    mm AS (SELECT ty, cy FROM m WHERE cy IS NOT NULL),
    agg AS (SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM sc WHERE t = 1) AS n_treated,
        CAST(count(*) AS BIGINT) AS n_matched,
        CAST(sum(ty) AS BIGINT) AS sty, CAST(sum(cy) AS BIGINT) AS scy
      FROM mm)
    SELECT n_treated, n_matched,
           n_treated - n_matched AS n_unmatched,
           (sty * 1000000 * 2 + n_matched) // (2 * n_matched) AS mean_t_micro,
           (scy * 1000000 * 2 + n_matched) // (2 * n_matched) AS mean_mc_micro,
           (sty * 1000000 * 2 + n_matched) // (2 * n_matched)
             - (scy * 1000000 * 2 + n_matched) // (2 * n_matched) AS att_micro
    FROM agg"""
  }

  // ---- x297: Monge–Elkan similarity join ----------------------------------------

  /** Same-block pairs with symmetrized Monge–Elkan(JW) ≥ threshold:
    * me(A→B) = halfup(Σ_i round(1e6·max_j jw(a_i, b_j)), |A|) micro,
    * sym = max(me(A→B), me(B→A)). Output: (id_a, id_b, me_ab_micro,
    * me_ba_micro, me_micro), id_a < id_b.
    *
    * The per-token best is a max of doubles (order-free) rounded to
    * micro BEFORE the per-pair sum, so the mean is exact integer
    * arithmetic. Blocking is the caller's key, like x257; the JW inner
    * loop is the native codegen comparator.
    */
  def mongeElkanPairs(
      rel: DataFrame, idCol: String, strCol: String, blockCol: String,
      thresholdMicro: Long = 850000L): DataFrame = {
    import graft.functions.JaroWinkler.jaroWinkler
    val d = rel.select(col(idCol).as("id"),
      filter(split(lower(col(strCol)), " "), t => length(t) > 0).as("tk"),
      col(blockCol).as("blk"))
    def meSum(ta: Column, tb: Column): Column =
      aggregate(transform(ta, a =>
        round(lit(1e6) * aggregate(tb, lit(0.0d),
          (mx, b) => greatest(mx, jaroWinkler(a, b))), 0).cast("long")),
        lit(0L), _ + _)
    d.as("a").join(d.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        meSum(col("a.tk"), col("b.tk")).as("sab"),
        meSum(col("b.tk"), col("a.tk")).as("sba"),
        size(col("a.tk")).cast("long").as("na"),
        size(col("b.tk")).cast("long").as("nb"))
      .withColumn("me_ab_micro", expr("(sab * 2 + na) DIV (2 * na)"))
      .withColumn("me_ba_micro", expr("(sba * 2 + nb) DIV (2 * nb)"))
      .withColumn("me_micro", greatest(col("me_ab_micro"), col("me_ba_micro")))
      .filter(col("me_micro") >= thresholdMicro)
      .select(col("id_a"), col("id_b"), col("me_ab_micro"),
        col("me_ba_micro"), col("me_micro"))
  }

  /** x297: fuzzy part-name pairs within the x257 (brand, type) block at
    * symmetric ME ≥ 0.85 — same candidates as x257, so the whole-string
    * JW and the token-wise ME rankings diff directly.
    */
  def x297MongeElkan(s: SparkSession, dir: String): DataFrame =
    mongeElkanPairs(Tables.load(s, dir, "part")
        // bounded calibration slice (the x286/x290 discipline): the
        // (brand, type) blocks have FIXED cardinality, so block sizes —
        // and the pair volume — grow quadratically with the catalog;
        // the card prices the comparator on a corpus-invariant slice,
        // and corpus-scale candidates come from x248/x253 blocking
        .filter(col("p_partkey") < 2500)
        .withColumn("blk", concat_ws("|", col("p_brand"), col("p_type"))),
      "p_partkey", "p_name", "blk")

  private val x297OracleSql: String = """
      WITH p AS (SELECT p_partkey AS id,
                        list_filter(string_split(lower(p_name), ' '),
                          t -> length(t) > 0) AS tk,
                        p_brand || '|' || p_type AS blk
                 FROM part WHERE p_partkey < 2500),
      prs AS (SELECT a.id AS id_a, b.id AS id_b, a.tk AS ta, b.tk AS tb
              FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id),
      ab AS (SELECT id_a, id_b,
               CAST(sum(tm) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
             FROM (SELECT t.id_a, t.id_b, t.i,
                     CAST(round(1e6 * max(
                       jaro_winkler_similarity(t.ai, v.b)), 0) AS BIGINT) AS tm
                   FROM (SELECT id_a, id_b, tb, u.i AS i, ta[u.i] AS ai
                         FROM prs,
                              UNNEST(generate_series(1, len(ta))) AS u(i)) t,
                        UNNEST(t.tb) AS v(b)
                   GROUP BY t.id_a, t.id_b, t.i, t.ai)
             GROUP BY 1, 2),
      ba AS (SELECT id_a, id_b,
               CAST(sum(tm) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
             FROM (SELECT t.id_a, t.id_b, t.i,
                     CAST(round(1e6 * max(
                       jaro_winkler_similarity(t.bi, u.a)), 0) AS BIGINT) AS tm
                   FROM (SELECT id_a, id_b, ta, v.i AS i, tb[v.i] AS bi
                         FROM prs,
                              UNNEST(generate_series(1, len(tb))) AS v(i)) t,
                        UNNEST(t.ta) AS u(a)
                   GROUP BY t.id_a, t.id_b, t.i, t.bi)
             GROUP BY 1, 2),
      me AS (SELECT ab.id_a, ab.id_b,
                    (ab.s * 2 + ab.n) // (2 * ab.n) AS me_ab_micro,
                    (ba.s * 2 + ba.n) // (2 * ba.n) AS me_ba_micro
             FROM ab JOIN ba ON ba.id_a = ab.id_a AND ba.id_b = ab.id_b)
      SELECT id_a, id_b, me_ab_micro, me_ba_micro,
             greatest(me_ab_micro, me_ba_micro) AS me_micro
      FROM me
      WHERE greatest(me_ab_micro, me_ba_micro) >= 850000
      ORDER BY id_a, id_b"""

  val entries: Seq[Entry] = Seq(
    Entry("x296_psm_att", x296PsmAtt _, x296OracleSql),
    Entry("x297_monge_elkan", x297MongeElkan _, x297OracleSql))
}
