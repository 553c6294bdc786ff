package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables

/** One-hundred-forty-third extension batch — distribution-free model
  * guarantees, submodular data selection, and a local quality detector:
  *
  *  - SPLIT-CONFORMAL COVERAGE CARD (x324): the distribution-free
  *    calibration wrapper (Vovk et al. 2005; Angelopoulos & Bates
  *    2023) over the house GD classifier — the calibration fold's
  *    ⌈(n+1)(1−α)⌉-th smallest nonconformity score becomes the
  *    threshold q; the card reports q and the held-out coverage it
  *    actually delivers. The guarantee every downstream consumer of
  *    the x94 quality scores should demand before trusting them.
  *  - GREEDY COVERAGE SELECTION (x326): submodular facility-location-
  *    style data selection (Nemhauser et al. 1978's (1−1/e) greedy) —
  *    k rounds, each picking the document with the most NOT-YET-COVERED
  *    shingles. The diversity-maximizing selection a fine-tuning-data
  *    curator runs where MMR (x29) selects by embedding geometry.
  *  - SURPRISAL BURST CARD (x327): per document, the maximum
  *    `window`-token sliding sum of unigram surprisal — localized
  *    high-entropy bursts (pasted base64, hex dumps, shuffled tables)
  *    that a document-MEAN perplexity score (x74) averages away.
  *
  * Determinism: conformal's q is an exact order statistic through the
  * distributed global rank (never a one-task sort); greedy ties break
  * (gain desc, doc_id asc); surprisal terms are micro-quantized per
  * TYPE before any sum (the x316 convention). Scale: conformal is one
  * GD chain + two score scans; greedy is k bounded rounds of
  * anti-join + hash-agg with an O(1)-row collect per round (the x29
  * loop discipline); burst is per-doc windows — no cross-doc state.
  */
object Extensions143 {

  import Extensions26.NumBuckets

  private def marginMicro(weights: Array[Long], x: org.apache.spark.sql.Column) =
    graft.functions.VectorFunctions.long_dot(
      array(weights.map(lit(_)): _*), x)

  // ---- x324: split-conformal coverage card ---------------------------------------------

  /** One-row conformal card: (n_calib, n_test, q_micro,
    * coverage_micro). Folds by doc id: train = id%10 ≥ 2, calib =
    * id%10 = 0, test = id%10 = 1. Nonconformity = |σ_micro − 10⁶·y|
    * (the chain's own rounded sigmoid); q = the k-th smallest calib
    * score with k = ⌈(n_calib+1)·(1−α)⌉; coverage = share of test
    * scores ≤ q, half-up micro. α is permille.
    */
  def conformalCard(
      labeled: DataFrame, idCol: String, textCol: String, labelCol: String,
      alphaPermille: Int = 100, iters: Int = 8): DataFrame = {
    require(alphaPermille >= 1 && alphaPermille <= 999)
    val spark = labeled.sparkSession
    val feat = Extensions.materialized(
      Extensions26.hashedFeatures(labeled, idCol, textCol, labelCol))
    val train = feat.filter(pmod(col("doc_id"), lit(10L)) >= 2L)
    val w = Extensions26.trainLogreg(train, iters = iters)
    val s = abs(
      round(lit(1e6) / (lit(1.0) + exp(-marginMicro(w, col("x")) / lit(1e6))), 0)
        .cast("long") - col("y") * 1000000L)
    val calib = Extensions.materialized(
      feat.filter(pmod(col("doc_id"), lit(10L)) === 0L)
        .select(col("doc_id"), s.as("s")))
    val test = feat.filter(pmod(col("doc_id"), lit(10L)) === 1L)
      .select(col("doc_id"), s.as("s"))
    val nc = calib.count()
    require(nc >= 1L, "conformalCard: empty calibration fold")
    val k = ((nc + 1L) * (1000L - alphaPermille) + 999L) / 1000L
    // an over-small calibration fold cannot realize the level: q is +inf
    // and the card would read coverage 1 vacuously — refuse instead
    require(k <= nc, s"conformalCard: calibration fold too small for " +
      s"alpha = $alphaPermille permille (k = $k > n_calib = $nc)")
    // round-14: the order statistic reads off GridStats.conformalQhat
    // (shared kernel with x145 Extensions56.conformalGate — the delta is
    // the degrade policy: loud-refuse above vs full sets there)
    val q = GridStats.conformalQhat(
        calib.groupBy(col("s")).agg(count(lit(1)).as("cnt")),
        "s", "cnt", Seq(1000 - alphaPermille))
      .select(col("qhat")).collect()(0).getLong(0)
    test.agg(count(lit(1)).as("n_test"),
        sum(when(col("s") <= q, 1L).otherwise(0L)).as("cov"))
      .select(lit(nc).as("n_calib"), col("n_test"),
        lit(q).as("q_micro"),
        expr("CAST((1000000 * CAST(cov AS DECIMAL(38,0)) * 2 + n_test)" +
          " DIV (2 * n_test) AS BIGINT)").as("coverage_micro"))
  }

  /** x324: conformal coverage of the Gopher-quality classifier at
    * α = 10% — the x94/x265 fixture with the distribution-free wrap.
    */
  def x324ConformalCard(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        carryCols = Seq("text"))
      .select(col("doc_id"), col("text"), col("keep"))
    conformalCard(labeled, "doc_id", "text", "keep")
  }

  private val x324OracleSql: String = {
    val head = Extensions117.featHeadSql
    val chain = Extensions117.chainG("c_", 8, "doc_id % 10 >= 2",
      "(SELECT doc_id, y, x FROM feat) ftr")
    s"""$head,$chain,
    sc AS (SELECT f.doc_id, f.y,
             abs(CAST(round(1e6 / (1.0 + exp(
               -CAST(list_sum(list_transform(generate_series(1, ${NumBuckets + 1}),
                 j -> w.w[j] * f.x[j])) AS BIGINT) / 1e6)), 0) AS BIGINT)
               - f.y * 1000000) AS s
           FROM feat f, c_w8 w),
    cal AS (SELECT s, row_number() OVER (ORDER BY s, doc_id) AS rn
            FROM sc WHERE doc_id % 10 = 0),
    ncal AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM cal),
    qq AS (SELECT cal.s AS q FROM cal, ncal
           WHERE cal.rn = ((ncal.nc + 1) * 900 + 999) // 1000),
    tst AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
              CAST(sum(CASE WHEN sc.s <= qq.q THEN 1 ELSE 0 END) AS BIGINT) AS cov,
              max(qq.q) AS q
            FROM sc, qq WHERE doc_id % 10 = 1)
    SELECT ncal.nc AS n_calib, tst.n_test, CAST(tst.q AS BIGINT) AS q_micro,
           CAST((1000000 * cov * 2 + n_test) // (2 * n_test) AS BIGINT)
             AS coverage_micro
    FROM tst, ncal"""
  }

  // ---- x326: greedy coverage selection ---------------------------------------------------

  /** k-round greedy max-coverage over `shingleN`-word shingles: each
    * round picks the document with the most shingles no earlier pick
    * covers (ties: larger gain first, then smaller doc_id). Output one
    * row per round: (pick_rank, doc_id, gain, covered_cum). Rounds stop
    * early when every shingle is covered.
    */
  def greedyCoverageSelect(
      corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 5, shingleN: Int = 3): DataFrame = {
    require(k >= 1 && k <= 64, "greedyCoverageSelect: k in [1,64]")
    require(shingleN >= 1)
    val spark = corpus.sparkSession
    val toks = filter(split(lower(col(textCol)), " "), t => length(t) > 0)
    val sets = Extensions.materialized(
      corpus.select(col(idCol).cast("long").as("doc_id"), toks.as("tk"))
        .filter(size(col("tk")) >= shingleN)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("tk")) - (shingleN - 1)),
            i => concat_ws(" ",
              (0 until shingleN).map(o => element_at(col("tk"), i + o)): _*)))
          .as("g"))
        .distinct())
    var covered = Extensions.materialized(sets.select(col("g")).limit(0))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      val pick = sets.join(covered, Seq("g"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id"))
        .limit(1).collect()
      if (pick.isEmpty) done = true
      else {
        val id = pick(0).getLong(0)
        val gain = pick(0).getLong(1)
        covered = Extensions.materialized(
          covered.unionAll(sets.filter(col("doc_id") === id).select(col("g")))
            .distinct())
        out += ((r.toLong, id, gain, covered.count()))
        r += 1
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq.map(Row.fromTuple), 1),
      StructType(Seq(
        StructField("pick_rank", LongType, nullable = false),
        StructField("doc_id", LongType, nullable = false),
        StructField("gain", LongType, nullable = false),
        StructField("covered_cum", LongType, nullable = false))))
  }

  /** x326: five greedy picks over 3-word shingles of the documents
    * table — the diversity selection beside x29's MMR.
    */
  def x326GreedyCoverage(s: SparkSession, dir: String): DataFrame =
    greedyCoverageSelect(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x326OracleSql: String = {
    val rounds = (1 to 5).map { r =>
      val notIn =
        if (r == 1) ""
        else s" WHERE g NOT IN (SELECT g FROM cov${r - 1})"
      val cumCov =
        if (r == 1) s"(SELECT DISTINCT g FROM kd WHERE doc_id = (SELECT doc_id FROM p$r))"
        else s"(SELECT g FROM cov${r - 1} UNION SELECT g FROM kd WHERE doc_id = (SELECT doc_id FROM p$r))"
      s"""
      p$r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
              FROM kd$notIn
              GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
      cov$r AS MATERIALIZED ($cumCov)"""
    }.mkString(",")
    val sel = (1 to 5).map { r =>
      s"""SELECT $r AS pick_rank, doc_id, gain,
             (SELECT CAST(count(*) AS BIGINT) FROM cov$r) AS covered_cum
         FROM p$r"""
    }.mkString(" UNION ALL ")
    s"""
      WITH d AS (SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
           FROM documents),
      kd AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
        FROM d, LATERAL unnest(generate_series(1, len(tk) - 2)) AS u(i)
        WHERE len(tk) >= 3),
      $rounds
      SELECT CAST(pick_rank AS BIGINT) AS pick_rank, doc_id, gain, covered_cum
      FROM ($sel) ORDER BY pick_rank"""
  }

  // ---- x327: surprisal burst card --------------------------------------------------------

  /** Per-document maximum `window`-token sliding surprisal sum:
    * (doc_id, n_tok, burst_micro). Token surprisal is the corpus
    * unigram s(t) = round(10⁶·ln(N/n_t)) (the x316 lane); the burst is
    * the max over every ≤`window`-token trailing frame.
    */
  def surprisalBurst(
      corpus: DataFrame, idCol: String, textCol: String,
      window: Int = 20): DataFrame = {
    require(window >= 1)
    val toks = corpus.select(col(idCol).cast("long").as("doc_id"),
        posexplode(filter(split(lower(col(textCol)), " "),
          t => length(t) > 0)).as(Seq("pos", "tok")))
    val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = tf.agg(sum(col("cnt")).as("tt"))
    val surp = tf.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(lit(1e6) * log(col("tt") / col("cnt")), 0).cast("long").as("s"))
    val wBurst = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(window - 1), Window.currentRow)
    toks.join(surp, Seq("tok"))
      .withColumn("ws", sum(col("s")).over(wBurst))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), max(col("ws")).as("burst_micro"))
  }

  /** x327: 20-token bursts over the documents table. */
  def x327SurprisalBurst(s: SparkSession, dir: String): DataFrame =
    surprisalBurst(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x327OracleSql: String = """
      WITH d AS (SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
           FROM documents),
      tks AS (SELECT doc_id, u.i AS pos, tk[i] AS tok
              FROM d, LATERAL unnest(generate_series(1, len(tk))) AS u(i)),
      tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tks GROUP BY tok),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tt FROM tf),
      surp AS (SELECT tok,
                 CAST(round(1e6 * ln(tt * 1.0 / cnt), 0) AS BIGINT) AS s
               FROM tf, tot),
      ws AS (SELECT t.doc_id, t.pos,
               sum(sp.s) OVER (PARTITION BY t.doc_id ORDER BY t.pos
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS w
             FROM tks t JOIN surp sp ON sp.tok = t.tok)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
             CAST(max(w) AS BIGINT) AS burst_micro
      FROM ws GROUP BY doc_id ORDER BY doc_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x324_conformal_card", x324ConformalCard _, x324OracleSql),
    Entry("x326_greedy_coverage", x326GreedyCoverage _, x326OracleSql),
    Entry("x327_surprisal_burst", x327SurprisalBurst _, x327OracleSql))
}
