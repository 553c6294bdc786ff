package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-thirty-fourth extension batch — the sampled-eval tier
  * completed (vote and reward forms beside x298's pass form) and the
  * training-dynamics card:
  *
  *  - maj@k (x301): self-consistency voting accuracy (Wang et al.
  *    2023) — the exact hypergeometric tail P(majority of k drawn
  *    samples pass) per task, averaged. pass@k prices "any sample
  *    solves it"; maj@k prices what a voting harness actually ships.
  *  - best-of-k expected reward (x302): E[max reward of k draws]
  *    via order statistics — the i-th ranked sample is the max of k
  *    with probability C(i−1,k−1)/C(n,k) (the BoN estimator used for
  *    reward-model selection evals). Exact: integer reward micro ×
  *    integer binomial weights.
  *  - training-dynamics cartography (x303): Swayamdipta et al. 2020's
  *    dataset map over the x94 GD trace — per document the mean and
  *    variance of the true-label confidence ACROSS training
  *    checkpoints, bucketed into easy-to-learn / hard-to-learn /
  *    ambiguous regions. The data-quality triage a training pipeline
  *    runs between labeling and mixing.
  *
  * Determinism: all three are integer-exact — binomials are falling
  * factorials over exact integer divisions (divisible by construction),
  * confidences are the chain's own rounded sigmoids, and every mean is
  * one half-up division of a DECIMAL(38,0) sum. The binomial arms are
  * GENERATED from the same `ks` in Spark and in the oracle SQL, so the
  * two engines run textually identical arithmetic.
  */
object Extensions134 {

  import Extensions26.NumBuckets

  private val Fact = Array(1L, 1L, 2L, 6L, 24L, 120L, 720L, 5040L, 40320L)

  /** C(m, r) as SQL over an integer expression `m` ≥ 0: falling
    * factorial over r! — exact (binomials are integers; a too-small m
    * zeroes the product before any negative factor matters).
    */
  private def binomSql(m: String, r: Int, divTok: String): String =
    if (r == 0) "1"
    else s"((${(0 until r).map(i => s"(($m) - $i)").mkString(" * ")}) $divTok ${Fact(r)})"

  private def marginMicro(weights: Array[Long], x: Column): Column =
    graft.functions.VectorFunctions.long_dot(
      array(weights.map(lit(_)): _*), x)

  /** Per-task (n, c) with the loud sample cap — shared by the three
    * sampled-eval estimators (x298 owns the same discipline).
    */
  private def perTaskCounts(
      samples: DataFrame, taskCol: String, passCol: String,
      maxSamplesPerTask: Long, caller: String): DataFrame = {
    // width (r13 table): past n = 40 the long-exact binomial numerators
    // (and best-of-k's r·C(n-1,k-1) sums) cross 2^63 — refuse loudly
    // instead of wrapping when a caller raises the cap
    require(maxSamplesPerTask <= 40L,
      s"$caller: maxSamplesPerTask above 40 overflows the long-exact " +
        "combinatorics — widen to DECIMAL before raising the cap")
    val byTask = Extensions.materialized(
      samples.groupBy(col(taskCol).as("task"))
        .agg(count(lit(1)).as("n"), sum(col(passCol).cast("long")).as("c")))
    val nMax = byTask.agg(max(col("n"))).collect()(0).getLong(0)
    require(nMax <= maxSamplesPerTask,
      s"$caller: a task has $nMax samples > cap $maxSamplesPerTask — the " +
        "long-exact binomials need n bounded; subsample attempts or raise " +
        "maxSamplesPerTask knowingly")
    byTask
  }

  // ---- x301: maj@k self-consistency accuracy ---------------------------------------

  /** Mean exact maj@k over tasks, one row per odd k: (k, n_tasks,
    * mean_maj_at_k_micro). Per task: P(majority of k drawn without
    * replacement pass) = Σ_{j>k/2} C(c,j)·C(n−c,k−j)/C(n,k), half-up
    * micro; tasks with n<k excluded per k.
    *
    * Scale: identical to x298 — one corpus hash-agg, then O(tasks·|ks|).
    */
  def majAtK(
      samples: DataFrame, taskCol: String, passCol: String,
      ks: Seq[Int] = Seq(1, 3, 5),
      maxSamplesPerTask: Long = 30L): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k % 2 == 1 && k <= 7),
      "majAtK: ks must be odd and <= 7")
    val spark = samples.sparkSession
    import spark.implicits._
    val byTask = perTaskCounts(samples, taskCol, passCol,
      maxSamplesPerTask, "majAtK")
    def numArm(k: Int, divTok: String): String =
      ((k + 1) / 2 to k).map(j =>
        s"(${binomSql("c", j, divTok)} * ${binomSql("n - c", k - j, divTok)})")
        .mkString(" + ")
    def cases(f: (Int, String) => String, divTok: String): String =
      ks.init.map(k => s"WHEN $k THEN (${f(k, divTok)})")
        .mkString("CASE k ", " ", s" ELSE (${f(ks.last, divTok)}) END")
    val kSpine = broadcast(ks.map(_.toLong).toDF("k"))
    byTask.join(kSpine, col("n") >= col("k"))
      .withColumn("num", expr(cases(numArm, "DIV")))
      .withColumn("den", expr(cases((k, d) => binomSql("n", k, d), "DIV")))
      .withColumn("mk_micro", expr("(num * 1000000 * 2 + den) DIV (2 * den)"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_tasks"),
        sum(col("mk_micro").cast("decimal(38,0)")).as("s"))
      .select(col("k"), col("n_tasks"),
        expr("CAST((s * 2 + n_tasks) DIV (2 * n_tasks) AS BIGINT)")
          .as("mean_maj_at_k_micro"))
  }

  /** x301: maj@k ∈ {1,3,5} on the x298 attempt fixture — the pass@k
    * and vote@k curves diff directly on the same (n, c) table.
    */
  def x301MajAtK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.md5_bucket60
    val samples = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        (pmod(md5_bucket60(concat(lit("d:"), col("doc_id").cast("string"))),
          lit(600L)) + lit(200L)).as("diff"))
      .withColumn("i", explode(sequence(lit(0), lit(7))))
      .select(col("doc_id"),
        (pmod(md5_bucket60(concat(col("doc_id").cast("string"), lit(":"),
          col("i").cast("string"))), lit(1000L)) < col("diff"))
          .cast("long").as("passed"))
    majAtK(samples, "doc_id", "passed")
  }

  private val x301Ks = Seq(1, 3, 5)

  private val x301OracleSql: String = {
    def numArm(k: Int): String =
      ((k + 1) / 2 to k).map(j =>
        s"(${binomSql("c", j, "//")} * ${binomSql("n - c", k - j, "//")})")
        .mkString(" + ")
    def cases(f: Int => String): String =
      x301Ks.init.map(k => s"WHEN $k THEN (${f(k)})")
        .mkString("CASE k ", " ", s" ELSE (${f(x301Ks.last)}) END")
    s"""WITH t AS (SELECT doc_id,
             200 + ('0x' || substr(md5('d:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 600 AS diff
           FROM documents),
    s AS (SELECT doc_id,
            CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(u.i AS VARCHAR)), 1, 15))::BIGINT % 1000 < diff
                 THEN 1 ELSE 0 END AS p
          FROM t, UNNEST(generate_series(0, 7)) AS u(i)),
    bt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(p) AS BIGINT) AS c
           FROM s GROUP BY 1),
    kk AS (SELECT CAST(unnest([${x301Ks.mkString(", ")}]) AS BIGINT) AS k),
    mk AS (SELECT k, doc_id,
             ${cases(numArm)} AS num,
             ${cases(k => binomSql("n", k, "//"))} AS den
           FROM bt, kk WHERE n >= k),
    mm AS (SELECT k, doc_id,
             (num * 1000000 * 2 + den) // (2 * den) AS mk_micro
           FROM mk)
    SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
           CAST((sum(mk_micro) * 2 + count(*)) // (2 * count(*)) AS BIGINT)
             AS mean_maj_at_k_micro
    FROM mm GROUP BY k ORDER BY k"""
  }

  // ---- x302: best-of-k expected max reward -----------------------------------------

  /** Mean E[max reward of k draws without replacement] over tasks, one
    * row per k: (k, n_tasks, mean_best_of_k_micro). Per task the n
    * sampled rewards are ranked ascending; rank i is the max of a
    * k-subset with probability C(i−1,k−1)/C(n,k), so
    * E[max] = Σ_i r_(i)·C(i−1,k−1)/C(n,k) — rendered half-up micro.
    * Ties are value-safe: equal rewards swap only equal contributions.
    *
    * Scale: one task-key window (the rank), one hash-agg to per-task
    * weighted sums, then O(tasks·|ks|).
    */
  def bestOfKReward(
      samples: DataFrame, taskCol: String, rewardCol: String,
      ks: Seq[Int] = Seq(1, 2, 4, 8),
      maxSamplesPerTask: Long = 30L): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 8),
      "bestOfKReward: ks must be in [1, 8]")
    require(maxSamplesPerTask <= 40L,
      "bestOfKReward: maxSamplesPerTask above 40 overflows the long-exact " +
        "combinatorics - widen to DECIMAL before raising the cap")
    val spark = samples.sparkSession
    import spark.implicits._
    val ranked = samples.select(col(taskCol).as("task"),
        col(rewardCol).cast("long").as("r"))
      .withColumn("i", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("task")).orderBy(col("r"))))
    val aggs = count(lit(1)).as("n") +:
      ks.map(k => expr(s"sum(r * ${binomSql("i - 1", k - 1, "DIV")})").as(s"s$k"))
    val perTask = Extensions.materialized(
      ranked.groupBy(col("task")).agg(aggs.head, aggs.tail: _*))
    val nMax = perTask.agg(max(col("n"))).collect()(0).getLong(0)
    require(nMax <= maxSamplesPerTask,
      s"bestOfKReward: a task has $nMax samples > cap $maxSamplesPerTask — " +
        "subsample attempts or raise maxSamplesPerTask knowingly")
    val kSpine = broadcast(ks.map(_.toLong).toDF("k"))
    def sCase: String =
      ks.init.map(k => s"WHEN $k THEN s$k")
        .mkString("CASE k ", " ", s" ELSE s${ks.last} END")
    def dCase(divTok: String): String =
      ks.init.map(k => s"WHEN $k THEN ${binomSql("n", k, divTok)}")
        .mkString("CASE k ", " ",
          s" ELSE ${binomSql("n", ks.last, divTok)} END")
    perTask.join(kSpine, col("n") >= col("k"))
      .withColumn("num", expr(sCase))
      .withColumn("den", expr(dCase("DIV")))
      .withColumn("bo_micro", expr("(num * 2 + den) DIV (2 * den)"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_tasks"),
        sum(col("bo_micro").cast("decimal(38,0)")).as("s"))
      .select(col("k"), col("n_tasks"),
        expr("CAST((s * 2 + n_tasks) DIV (2 * n_tasks) AS BIGINT)")
          .as("mean_best_of_k_micro"))
  }

  /** x302: best-of-k ∈ {1,2,4,8} over md5 micro-rewards on the x298
    * attempt grid — the reward-selection curve beside the solve-rate
    * curves.
    */
  def x302BestOfK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.md5_bucket60
    val samples = Tables.load(s, dir, "documents")
      .select(col("doc_id"))
      .withColumn("i", explode(sequence(lit(0), lit(7))))
      .select(col("doc_id"),
        pmod(md5_bucket60(concat(lit("r:"), col("doc_id").cast("string"),
          lit(":"), col("i").cast("string"))), lit(1000001L)).as("reward"))
    bestOfKReward(samples, "doc_id", "reward")
  }

  private val x302Ks = Seq(1, 2, 4, 8)

  private val x302OracleSql: String = {
    val wCols = x302Ks.map(k =>
      s"CAST(sum(r * ${binomSql("i - 1", k - 1, "//")}) AS BIGINT) AS s$k")
      .mkString(", ")
    def sCase: String =
      x302Ks.init.map(k => s"WHEN $k THEN s$k")
        .mkString("CASE k ", " ", s" ELSE s${x302Ks.last} END")
    def dCase: String =
      x302Ks.init.map(k => s"WHEN $k THEN ${binomSql("n", k, "//")}")
        .mkString("CASE k ", " ", s" ELSE ${binomSql("n", x302Ks.last, "//")} END")
    s"""WITH s AS (SELECT doc_id,
            ('0x' || substr(md5('r:' || CAST(doc_id AS VARCHAR) || ':' ||
               CAST(u.i AS VARCHAR)), 1, 15))::BIGINT % 1000001 AS r
          FROM documents, UNNEST(generate_series(0, 7)) AS u(i)),
    rk AS (SELECT doc_id, r,
             row_number() OVER (PARTITION BY doc_id ORDER BY r) AS i
           FROM s),
    pt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n, $wCols
           FROM rk GROUP BY 1),
    kk AS (SELECT CAST(unnest([${x302Ks.mkString(", ")}]) AS BIGINT) AS k),
    bo AS (SELECT k, doc_id,
             ((($sCase) * 2 + ($dCase)) // (2 * ($dCase))) AS bo_micro
           FROM pt, kk WHERE n >= k)
    SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
           CAST((sum(bo_micro) * 2 + count(*)) // (2 * count(*)) AS BIGINT)
             AS mean_best_of_k_micro
    FROM bo GROUP BY k ORDER BY k"""
  }

  // ---- x303: training-dynamics cartography -----------------------------------------

  /** Dataset-map card over the x94 GD trace: per document the mean and
    * population variance of the TRUE-label confidence across the
    * `iters` checkpoints, bucketed into regions:
    *   easy_to_learn  conf ≥ 650000 and var ≤ stdThreshMicro²
    *   hard_to_learn  conf ≤ 350000 and var ≤ stdThreshMicro²
    *   ambiguous      var > stdThreshMicro²
    *   middling       the rest
    * Output: (region, n_docs, mean_conf_micro, mean_var_micro2).
    *
    * Scale: `iters` map+agg training passes (the chain itself), then
    * ONE corpus scan scoring all checkpoints per row (the weight
    * vectors ride as literals — no join), one region hash-agg. The
    * variance numerator T·Σp²−(Σp)² stays a long per ROW (T ≤ 16,
    * p ≤ 1e6 → ≤ 1.6e13); the region sums ride in DECIMAL(38,0).
    */
  def trainingDynamicsCard(
      labeled: DataFrame, idCol: String, textCol: String, labelCol: String,
      iters: Int = 8, stdThreshMicro: Long = 150000L): DataFrame = {
    require(iters >= 2 && iters <= 16, "trainingDynamicsCard: iters in [2,16]")
    val feat = Extensions.materialized(
      Extensions26.hashedFeatures(labeled, idCol, textCol, labelCol))
    val trace = Extensions26.trainLogregTrace(feat, iters = iters)
    def sig(w: Array[Long]): Column =
      round(lit(1e6) / (lit(1.0) + exp(-marginMicro(w, col("x")) / lit(1e6))), 0)
        .cast("long")
    val confs = trace.map(w =>
      when(col("y") === 1L, sig(w)).otherwise(lit(1000000L) - sig(w)))
    val t = iters.toLong
    val varThresh = stdThreshMicro * stdThreshMicro
    val scored = feat.select(col("doc_id"),
        confs.reduce(_ + _).as("sc"),
        confs.map(c => c * c).reduce(_ + _).as("s2"))
      .withColumn("conf", expr(s"(sc * 2 + $t) DIV (2 * $t)"))
      .withColumn("vnum", lit(t) * col("s2") - col("sc") * col("sc"))
      .withColumn("v", expr(s"(vnum * 2 + $t * $t) DIV (2 * $t * $t)"))
      .withColumn("region",
        when(col("v") > varThresh, lit("ambiguous"))
          .when(col("conf") >= 650000L, lit("easy_to_learn"))
          .when(col("conf") <= 350000L, lit("hard_to_learn"))
          .otherwise(lit("middling")))
    scored.groupBy(col("region"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("conf").cast("decimal(38,0)")).as("scf"),
        sum(col("v").cast("decimal(38,0)")).as("sv"))
      .select(col("region"), col("n_docs"),
        expr("CAST((scf * 2 + n_docs) DIV (2 * n_docs) AS BIGINT)")
          .as("mean_conf_micro"),
        expr("CAST((sv * 2 + n_docs) DIV (2 * n_docs) AS BIGINT)")
          .as("mean_var_micro2"))
  }

  /** x303: the dataset map of the x94 world — Gopher keep as the label,
    * hashed text features, 8 checkpoints.
    */
  def x303TrainingDynamics(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        carryCols = Seq("text"))
      .select(col("doc_id"), col("text"), col("keep").cast("long").as("label"))
    trainingDynamicsCard(labeled, "doc_id", "text", "label")
  }

  private val x303OracleSql: String = {
    val F = NumBuckets
    val head = s"""WITH d AS (
      SELECT doc_id, text, string_split(lower(text), ' ') AS tk
      FROM documents),
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
    val chain = Extensions117.chainG("c_", 8, "TRUE")
    def sigOf(alias: String): String =
      s"""CAST(round(1e6 / (1.0 + exp(
          -CAST(list_sum(list_transform(generate_series(1, ${F + 1}),
            j -> $alias.w[j] * f.x[j])) AS BIGINT) / 1e6)), 0) AS BIGINT)"""
    val confTerms = (1 to 8).map(i =>
      s"(CASE f.y WHEN 1 THEN ${sigOf(s"cw$i")} ELSE 1000000 - ${sigOf(s"cw$i")} END) AS cf$i")
      .mkString(",\n             ")
    val fromW = (1 to 8).map(i => s"c_w$i cw$i").mkString(", ")
    val scSum = (1 to 8).map(i => s"cf$i").mkString(" + ")
    val s2Sum = (1 to 8).map(i => s"cf$i * cf$i").mkString(" + ")
    s"""$head,$chain,
    cf AS (SELECT f.doc_id, f.y,
             $confTerms
           FROM feat f, $fromW),
    pv AS (SELECT doc_id,
             (($scSum) * 2 + 8) // (2 * 8) AS conf,
             ((8 * ($s2Sum) - ($scSum) * ($scSum)) * 2 + 64) // (2 * 64) AS v
           FROM cf),
    rg AS (SELECT CASE WHEN v > ${150000L * 150000L} THEN 'ambiguous'
                       WHEN conf >= 650000 THEN 'easy_to_learn'
                       WHEN conf <= 350000 THEN 'hard_to_learn'
                       ELSE 'middling' END AS region,
                  conf, v
           FROM pv)
    SELECT region, CAST(count(*) AS BIGINT) AS n_docs,
           CAST((sum(conf) * 2 + count(*)) // (2 * count(*)) AS BIGINT)
             AS mean_conf_micro,
           CAST((sum(v) * 2 + count(*)) // (2 * count(*)) AS BIGINT)
             AS mean_var_micro2
    FROM rg GROUP BY region ORDER BY region"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x301_maj_at_k", x301MajAtK _, x301OracleSql),
    Entry("x302_best_of_k", x302BestOfK _, x302OracleSql),
    Entry("x303_training_dynamics", x303TrainingDynamics _, x303OracleSql))
}
