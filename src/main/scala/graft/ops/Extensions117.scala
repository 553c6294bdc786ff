package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables

/** One-hundred-seventeenth extension batch — data valuation:
  *
  * Leave-one-group-out valuation (x265): the curation question the
  * mixture tooling (x71 DSIR importance weights, x218 rebalance plans)
  * cannot answer — "what does source/language X actually CONTRIBUTE to
  * the model?" — answered the direct way (Ghorbani & Zou's data-Shapley
  * reduced to its first-order leave-one-out form): retrain the x94
  * quality classifier with group X's training rows removed, score the
  * SAME held-out validation fold, report the accuracy delta. A group
  * whose removal IMPROVES validation accuracy is a candidate for
  * down-weighting in the next mixture; one whose removal hurts is
  * load-bearing.
  *
  * Everything reuses the x94 training discipline (integer-micro batch
  * GD, fixed 8 iterations, exact long gradients, driver holds O(F)
  * state), so the whole card — G+1 trainings — replays in SQL as G+1
  * unrolled gradient-descent chains over one shared feature table.
  * Validation is the fixed doc_id % 5 = 0 fold; training rows are the
  * complement, minus the valued group.
  */
object Extensions117 {

  import Extensions26.NumBuckets

  /** Leave-one-group-out valuation card over a labeled corpus: one row
    * per `groupCol` value — training size without the group, full-model
    * and without-group validation BRIER score (micro; the proper
    * scoring rule, continuous where accuracy step-functions — a weak
    * early-training model still produces nonzero group deltas), and
    * value_micro = brier_excl − brier_full (positive = removing the
    * group HURT calibration = the group is load-bearing). The Brier
    * probabilities are the training loop's own rounded sigmoids, so the
    * metric is exact integers with no new float surface. Validation =
    * `idCol % valMod == 0`, fixed across all trainings so deltas are
    * comparable.
    *
    * Scale shape: the corpus is featurized ONCE (one scan, materialized
    * n_docs × (F+1) longs); each of the G+1 trainings is 8 map+agg
    * passes over the feature table (never the corpus) with an O(F)
    * driver update; scoring is one map over the validation slice. The
    * driver loop is over G distinct groups — bounded, the x69 loop
    * discipline.
    */
  def dataValuation(
      labeled: DataFrame, idCol: String, textCol: String, labelCol: String,
      groupCol: String, valMod: Long = 5L, iters: Int = 8): DataFrame = {
    val spark = labeled.sparkSession
    // r15: group column carried through the featurization projection —
    // no doc_id join-back (exact by construction, one exchange fewer)
    val feat = Extensions.materialized(
      Extensions26.hashedFeaturesCarry(labeled, idCol, textCol, labelCol,
        Seq(col(groupCol).as("grp"))))
    val isVal = pmod(col("doc_id"), lit(valMod)) === 0L
    val isTrain = pmod(col("doc_id"), lit(valMod)) =!= 0L
    val nVal = feat.filter(isVal).count()
    require(nVal > 0, "empty validation fold")
    // Bounded collect (r13 sweep): the loop below retrains one GD chain
    // PER GROUP, so a near-unique group column is a cost explosion before
    // it is a driver-memory one — loud-refuse past the cap in one pass,
    // BEFORE paying for the full-model training.
    val groupCap = 1000
    val groups = labeled.select(col(groupCol).cast("string"))
      .distinct().limit(groupCap + 1)
      .collect().map(_.getString(0)).sorted
    require(groups.length <= groupCap,
      s"dataValuation: more than $groupCap distinct groups — each " +
        "group costs a full retraining; coarsen the group column first")
    // r14 (guide §2.4): the G+1 GD chains and the G+1 validation
    // collects fuse through the multi-model kernel — iters+2 passes
    // over the feature table instead of (G+1)·(iters+3). Gradients and
    // Σd² are the same exact-integer term multisets per model, so every
    // weight vector and Brier is bit-identical to the loop it replaces.
    val trained = Extensions26.trainLogregMultiTrace(feat,
      Extensions26.LogregSpec(Some(isTrain), col("y")) +:
        groups.toSeq.map(g => Extensions26.LogregSpec(
          Some(isTrain && col("grp") =!= g), col("y"))),
      iters = iters)
    // width audit (r12): d² ≤ 1e12 per row, so Σd² wraps a long past
    // ~9e6 validation rows — the sums run in DECIMAL(38,0) and the
    // one-row half-up composition in BigInt (the x132 discipline);
    // the returned micro Brier is ≤ 1e6 and fits a long by definition
    val sums = Extensions26.brierSumsMulti(feat,
      trained.traces.map(t => (Some(isVal), t.last)))
    def brierOf(i: Int): Long = {
      val (n, s2) = sums(i)
      ((s2 * 2 + BigInt(n) * 1000000L) / (BigInt(n) * 2000000L)).toLong
    }
    val brierFull = brierOf(0)
    val rows = groups.zipWithIndex.map { case (g, gi) =>
      Row(g, trained.ns(gi + 1), brierFull, brierOf(gi + 1),
        brierOf(gi + 1) - brierFull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("grp", StringType, nullable = false),
        StructField("n_train_excl", LongType, nullable = false),
        StructField("brier_full_micro", LongType, nullable = false),
        StructField("brier_excl_micro", LongType, nullable = false),
        StructField("value_micro", LongType, nullable = false))))
  }

  /** x265: what is each LANGUAGE worth to the quality classifier? The
    * gopher rule card labels the corpus (the x94 setup), languages are
    * the valued groups, the validation fold is doc_id % 5 = 0.
    */
  def x265DataValuation(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        carryCols = Seq("text", "lang"))
      .select(col("doc_id"), col("text"), col("lang"), col("keep"))
    dataValuation(labeled, "doc_id", "text", "keep", "lang")
  }

  /** One unrolled training chain over the shared feature table, CTE
    * names prefixed, training rows filtered by `trainWhere` — the x94
    * generated-SQL discipline, parametrized for G+1 replays.
    */
  private[ops] def chainG(p: String, iters: Int, trainWhere: String): String =
    chainG(p, iters, trainWhere, "feat")

  /** [[chainG]] with the training source spelled out — `fromSql` must
    * expose (y, x) plus whatever `trainWhere` filters on; the x299 AIPW
    * outcome chains pass a feat projection that relabels y := outcome.
    */
  private[ops] def chainG(
      p: String, iters: Int, trainWhere: String, fromSql: String): String = {
    val F = NumBuckets
    val base = s"""
    ${p}tf AS MATERIALIZED (SELECT y, x FROM $fromSql WHERE $trainWhere),
    ${p}nn AS (SELECT count(*) AS n FROM ${p}tf),
    ${p}w0 AS (SELECT list_transform(generate_series(1, ${F + 1}),
                 j -> CAST(0 AS BIGINT)) AS w)"""
    val rounds = (1 to iters).map { i =>
      s"""
    ${p}m$i AS (SELECT f.y, f.x,
         CAST(list_sum(list_transform(generate_series(1, ${F + 1}),
           j -> w.w[j] * f.x[j])) AS BIGINT) AS m
         FROM ${p}tf f, ${p}w${i - 1} w),
    ${p}r$i AS (SELECT y, x,
         CAST(round(1e6 / (1.0 + exp(-m / 1e6)), 0) AS BIGINT) - y * 1000000 AS r
         FROM ${p}m$i),
    ${p}g$i AS MATERIALIZED (SELECT list(gj ORDER BY j) AS g FROM (
        SELECT u.j AS j, CAST(sum(r.r * r.x[u.j]) AS BIGINT) AS gj
        FROM ${p}r$i r, LATERAL unnest(generate_series(1, ${F + 1})) AS u(j)
        GROUP BY u.j)),
    ${p}w$i AS MATERIALIZED (SELECT list_transform(generate_series(1, ${F + 1}),
        j -> w.w[j] - CAST(sign(g.g[j]) AS BIGINT)
               * ((abs(g.g[j]) * 2 + 20 * nn.n) // (2 * 20 * nn.n))) AS w
        FROM ${p}w${i - 1} w, ${p}g$i g, ${p}nn nn)"""
    }
    base + rounds.mkString(",", ",", "")
  }

  /** Validation Brier score of a trained chain, in micro. */
  private def accSql(p: String, iters: Int): String = {
    val F = NumBuckets
    s"""(SELECT (2 * sum(d * d) + count(*) * 1000000)
          // (2 * count(*) * 1000000) FROM (
        SELECT CAST(round(1e6 / (1.0 + exp(
            -CAST(list_sum(list_transform(generate_series(1, ${F + 1}),
              j -> w.w[j] * v.x[j])) AS BIGINT) / 1e6)), 0) AS BIGINT)
          - v.y * 1000000 AS d
        FROM vl v, ${p}w$iters w))"""
  }

  private val x265Groups = Seq("de", "en", "es", "fr", "zh")

  /** The shared oracle head: documents → gopher-quality label y →
    * hashed feature lists — the SQL twin of gopherRuleCard +
    * hashedFeatures, reused by every GD-chain oracle (x265 here, x324
    * conformal). Ends at the `feat` CTE; append fold CTEs after it.
    */
  private[ops] val featHeadSql: String = {
    val F = NumBuckets
    s"""WITH d AS (
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
             THEN 1 ELSE 0 END AS y
        FROM f0),
    feat AS MATERIALIZED (
      SELECT doc_id, lang, CAST(y AS BIGINT) AS y,
             list_append(list_transform(generate_series(0, ${F - 1}),
               j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)), CAST(1 AS BIGINT)) AS x
      FROM (SELECT doc_id, lang, y,
                   list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $F) AS bks
            FROM lab))"""
  }

  private val x265OracleSql: String = {
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
             THEN 1 ELSE 0 END AS y
        FROM f0),
    feat AS MATERIALIZED (
      SELECT doc_id, lang, CAST(y AS BIGINT) AS y,
             list_append(list_transform(generate_series(0, ${F - 1}),
               j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)), CAST(1 AS BIGINT)) AS x
      FROM (SELECT doc_id, lang, y,
                   list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $F) AS bks
            FROM lab)),
    vl AS MATERIALIZED (SELECT y, x FROM feat WHERE doc_id % 5 = 0)"""
    val full = chainG("a_", 8, "doc_id % 5 <> 0")
    val excl = x265Groups.map(g =>
      chainG(s"x${g}_", 8, s"doc_id % 5 <> 0 AND lang <> '$g'"))
    val rows = x265Groups.map { g =>
      s"""SELECT '$g' AS grp,
          (SELECT CAST(count(*) AS BIGINT) FROM feat
           WHERE doc_id % 5 <> 0 AND lang <> '$g') AS n_train_excl,
          CAST(${accSql("a_", 8)} AS BIGINT) AS brier_full_micro,
          CAST(${accSql(s"x${g}_", 8)} AS BIGINT) AS brier_excl_micro,
          CAST(${accSql(s"x${g}_", 8)} AS BIGINT)
            - CAST(${accSql("a_", 8)} AS BIGINT) AS value_micro"""
    }
    (head +: full +: excl).mkString(",") +
      rows.mkString("\n      ", "\n      UNION ALL\n      ", "\n      ORDER BY grp")
  }

  val entries: Seq[Entry] = Seq(
    Entry("x265_data_valuation", x265DataValuation _, x265OracleSql))
}
