package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables

/** One-hundred-twenty-fifth extension batch — k-fold cross-validation
  * (x276): the eval tier had a FIXED held-out fold everywhere (x105's
  * calibration split, x265's doc_id%5 validation) but never the
  * rotated-folds estimate that turns one noisy holdout number into a
  * mean ± spread over K disjoint validations — the difference between
  * "the model scored 0.18" and "the model scores 0.18 ± 0.02
  * regardless of which fifth you hide".
  *
  * Folds are hash-stable (`id % k` — the x60/x265 growth-stable split
  * discipline), so the card replays exactly: K unrolled x94 GD chains
  * in the oracle, one per training complement. Per-fold Brier is the
  * x265 metric (the training loop's own rounded sigmoids — exact
  * integers, no new float surface); the summary is the exact half-up
  * mean and the exact max−min range.
  *
  * Scale: ONE featurization scan; each fold's training is 8 map+agg
  * passes over the feature table with O(F) driver state — K·iters
  * bounded passes, corpus-size-independent per pass.
  */
object Extensions125 {

  import Extensions26.NumBuckets

  /** Per-fold CV card: (fold, n_train, n_val, brier_micro) plus the
    * exact summary repeated per row (mean_brier_micro, range_micro).
    */
  def kFoldCv(
      labeled: DataFrame, idCol: String, textCol: String, labelCol: String,
      k: Int = 5, iters: Int = 8): DataFrame = {
    require(k >= 2)
    val spark = labeled.sparkSession
    val feat = Extensions.materialized(
      Extensions26.hashedFeatures(labeled, idCol, textCol, labelCol))
    // r14 (guide §2.4): the K fold chains and the K validation collects
    // fused through the multi-model kernel — `iters`+2 passes over the
    // feature table instead of K·(iters+3); per-fold gradients/Σd² are
    // the same integer term multisets, so weights and Briers are
    // bit-identical (MultiTrainSpec).
    val foldOf = pmod(col("doc_id"), lit(k.toLong))
    val trained = Extensions26.trainLogregMultiTrace(feat,
      (0 until k).map(f =>
        Extensions26.LogregSpec(Some(foldOf =!= f.toLong), col("y"))),
      iters = iters)
    val briers = Extensions26.brierSumsMulti(feat,
      (0 until k).map(f => (Some(foldOf === f.toLong), trained.traces(f).last)))
    val folds = (0 until k).map { f =>
      val (nVal, s2) = briers(f)
      require(nVal > 0, s"kFoldCv: fold $f is empty")
      // width audit (r12): Σd² in DECIMAL(38,0), the one-row half-up
      // composition in BigInt (d² ≤ 1e12 per row wraps a long past
      // ~9e6 fold rows); the micro Brier itself is ≤ 1e6
      val brier = ((s2 * 2 + BigInt(nVal) * 1000000L) /
        (BigInt(nVal) * 2000000L)).toLong
      (f.toLong, trained.ns(f), nVal, brier)
    }
    val mean = (2L * folds.map(_._4).sum + k) / (2L * k)
    val range = folds.map(_._4).max - folds.map(_._4).min
    val rows = folds.map { case (f, nt, nv, b) =>
      Row(f, nt, nv, b, mean, range)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("fold", LongType, nullable = false),
        StructField("n_train", LongType, nullable = false),
        StructField("n_val", LongType, nullable = false),
        StructField("brier_micro", LongType, nullable = false),
        StructField("mean_brier_micro", LongType, nullable = false),
        StructField("range_micro", LongType, nullable = false))))
  }

  /** x276: 5-fold CV of the x94 quality classifier on the Gopher
    * labels — the rotated version of x265's fixed fold.
    */
  def x276KFoldCv(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        carryCols = Seq("text"))
      .select(col("doc_id"), col("text"), col("keep"))
    kFoldCv(labeled, "doc_id", "text", "keep")
  }

  private val x276OracleSql: String = {
    val F = NumBuckets
    val k = 5
    val head = s"""WITH d AS (
      SELECT doc_id, text, string_split(lower(text), ' ') AS tk FROM documents),
    f0 AS (SELECT doc_id, tk,
              CAST(len(tk) AS BIGINT) AS n_words,
              list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS sum_len,
              len(list_filter(tk, t -> t IN ('the', 'a'))) AS n_stop,
              CASE WHEN len(tk) >= 2
                   THEN list_transform(generate_series(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1])
                   ELSE [] END AS g2
       FROM d),
    lab AS (SELECT doc_id, tk,
        CASE WHEN n_words BETWEEN 50 AND 100000
              AND round(sum_len * 10000.0 / n_words, 0) / 10000.0 BETWEEN 3.0 AND 10.0
              AND round(n_stop * 10000.0 / n_words, 0) / 10000.0 <= 0.25
              AND (CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END) <= 0.2
             THEN 1 ELSE 0 END AS y
        FROM f0),
    feat AS MATERIALIZED (
      SELECT doc_id, CAST(y AS BIGINT) AS y,
             list_append(list_transform(generate_series(0, ${F - 1}),
               j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)), CAST(1 AS BIGINT)) AS x
      FROM (SELECT doc_id, y,
                   list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $F) AS bks
            FROM lab))"""
    val chains = (0 until k).map(f =>
      Extensions117.chainG(s"f${f}_", 8, s"doc_id % $k <> $f"))
    def brier(f: Int): String = s"""(
      SELECT (2 * sum(d * d) + count(*) * 1000000)
        // (2 * count(*) * 1000000) FROM (
      SELECT CAST(round(1e6 / (1.0 + exp(
          -CAST(list_sum(list_transform(generate_series(1, ${F + 1}),
            j -> w.w[j] * v.x[j])) AS BIGINT) / 1e6)), 0) AS BIGINT)
        - v.y * 1000000 AS d
      FROM feat v, f${f}_w8 w WHERE v.doc_id % $k = $f))"""
    val foldRows = (0 until k).map { f =>
      s"""SELECT CAST($f AS BIGINT) AS fold,
          (SELECT CAST(count(*) AS BIGINT) FROM feat WHERE doc_id % $k <> $f) AS n_train,
          (SELECT CAST(count(*) AS BIGINT) FROM feat WHERE doc_id % $k = $f) AS n_val,
          CAST(${brier(f)} AS BIGINT) AS brier_micro"""
    }
    val perFold = foldRows.mkString("\n      UNION ALL\n      ")
    s"""${(head +: chains).mkString(",")},
    folds AS ($perFold),
    summ AS (SELECT (2 * sum(brier_micro) + $k) // (2 * $k) AS mean_brier_micro,
                    max(brier_micro) - min(brier_micro) AS range_micro
             FROM folds)
    SELECT f.fold, f.n_train, f.n_val, f.brier_micro,
           CAST(s.mean_brier_micro AS BIGINT) AS mean_brier_micro,
           CAST(s.range_micro AS BIGINT) AS range_micro
    FROM folds f, summ s
    ORDER BY f.fold"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x276_kfold_cv", x276KFoldCv _, x276OracleSql))
}
