package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Seventieth extension batch — does the recommender recommend, how
  * many users exist:
  *
  *  - recommender holdout eval (x172): train the x146 item-item recs
  *    on pre-split baskets, then measure hit-rate on post-split
  *    baskets — of the ordered item pairs actually co-purchased later,
  *    how many did the top-k list predict? The x166 pattern (model →
  *    temporal eval) applied to the recommender.
  *  - capture–recapture estimate (x173): the Chapman estimator of the
  *    true population from two observation windows — N̂ =
  *    (n1+1)(n2+1)/(m+1) − 1 — with the fixture's ACTUAL total
  *    alongside, so the estimator's bias is visible. The stream-
  *    dedup-planning cousin of x12's approx-distinct: two cheap
  *    window counts bound a population you never fully observe.
  *
  * Determinism discipline: x172 is exact counts + one 4dp division
  * (the rec lists themselves are the x146 deterministic top-k); x173
  * is one exact rational rendered by a half-away division.
  */
object Extensions70 {

  // ---- x172: recommender holdout eval ------------------------------------------

  /** Temporal holdout for pair recommenders: recs train on baskets
    * with `tsCol` < `splitTs` (the x146 top-`topK` per item); the test
    * set is every ordered item pair (a, b) co-occurring in a
    * post-split basket where item a EXISTS in training (a rec list for
    * it exists). Output one row: (n_train_baskets, n_test_baskets,
    * n_test_pairs, n_hits, hit_rate).
    *
    * Scale: train = the x146 pair machinery on the pre-split slice;
    * test pairs = the same basket-keyed self-join on the post-split
    * slice; the hit check is one left-semi join of test pairs against
    * the ≤ items·topK rec list.
    */
  def recsHoldoutEval(
      baskets: DataFrame, basketCol: String, itemCol: String, tsCol: String,
      splitTs: String, topK: Int = 3): DataFrame = {
    val split = to_timestamp(lit(splitTs))
    // r15: the (b, i, split-side) projection is consumed three times
    // (train recs, train-basket count, test pairs) — materialize ONCE so
    // the upstream basket source (x172: the orders⋈lineitem join) is
    // scanned once, not three times (guide §2.4).
    val base = Extensions.materialized(baskets
      .select(col(basketCol).as("b"), col(itemCol).as("i"),
        (col(tsCol) < split).as("is_train")))
    val train = base.filter(col("is_train")).select(col("b"), col("i"))
    val test = base.filter(!col("is_train")).select(col("b"), col("i"))
    val recs = Extensions.materialized(
      Extensions57.itemItemRecs(train, "b", "i", topK)
        .select(col("item"), col("rec")))
    val trainItems = recs.select(col("item")).distinct()
    val tb = Extensions.materialized(test.distinct())
    val testPairs = Extensions.materialized(
      tb.join(tb.select(col("b"), col("i").as("j")), Seq("b"))
        .filter(col("i") =!= col("j"))
        .select(col("i"), col("j")).distinct()
        .join(trainItems.withColumnRenamed("item", "i"), Seq("i"), "left_semi"))
    // r15: nPairs + nHits fused into ONE agg — recs' (item, rec) pairs
    // are unique (top-K per item), so a left join flags each distinct
    // test pair at most once and sum(flag) ≡ the old left_semi count.
    val prRow = testPairs.join(
        recs.select(col("item").as("i"), col("rec").as("j"))
          .withColumn("__hit", lit(1L)),
        Seq("i", "j"), "left_outer")
      .agg(count(lit(1)).as("np"), sum(coalesce(col("__hit"), lit(0L))).as("nh"))
      .collect()(0)
    val nTrainB = train.select(col("b")).distinct().count()
    val nTestB = tb.select(col("b")).distinct().count()
    val nPairs = prRow.getLong(0)
    val nHits = prRow.getLong(1)
    val s = baskets.sparkSession
    import s.implicits._
    Seq((nTrainB, nTestB, nPairs, nHits)).toDF(
      "n_train_baskets", "n_test_baskets", "n_test_pairs", "n_hits")
      .withColumn("hit_rate", when(col("n_test_pairs") > 0L, expr(
        "((n_hits * 10000 * 2 + n_test_pairs) DIV (2 * n_test_pairs)) / 10000.0D")))
  }

  /** x172: train recs on the first ~75%% of order time, test on the
    * rest.
    */
  def x172RecsEval(s: SparkSession, dir: String): DataFrame =
    recsHoldoutEval(
      Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey").as("b"), col("l_partkey").as("i"),
          col("o_orderdate").as("ts")),
      "b", "i", "ts", "2000-01-01 00:00:00")

  private val x172OracleSql: String = """
      WITH bl AS (SELECT o_orderkey AS b, l_partkey AS i, o_orderdate AS ts
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      tr AS (SELECT DISTINCT b, i FROM bl WHERE ts < TIMESTAMP '2000-01-01 00:00:00'),
      te AS (SELECT DISTINCT b, i FROM bl WHERE ts >= TIMESTAMP '2000-01-01 00:00:00'),
      sz AS (SELECT i, count(*) AS n FROM tr GROUP BY i),
      pr AS (SELECT a.i, b.i AS j, count(*) AS c
             FROM tr a JOIN tr b ON a.b = b.b AND a.i <> b.i
             GROUP BY 1, 2),
      cs AS (SELECT pr.i, pr.j, pr.c,
               round(pr.c / sqrt(CAST(si.n * sj.n AS DOUBLE)), 4) AS cosine
             FROM pr JOIN sz si ON si.i = pr.i JOIN sz sj ON sj.i = pr.j),
      recs AS (SELECT i AS item, j AS rec FROM (
                 SELECT *, row_number() OVER (PARTITION BY i
                   ORDER BY cosine DESC, j) AS rk FROM cs)
               WHERE rk <= 3),
      ti AS (SELECT DISTINCT item FROM recs),
      tp AS (SELECT DISTINCT a.i, b.i AS j
             FROM te a JOIN te b ON a.b = b.b AND a.i <> b.i),
      tpf AS (SELECT tp.* FROM tp JOIN ti ON ti.item = tp.i),
      hits AS (SELECT tpf.* FROM tpf
               JOIN recs ON recs.item = tpf.i AND recs.rec = tpf.j),
      agg AS (SELECT
          (SELECT count(DISTINCT b) FROM bl WHERE ts < TIMESTAMP '2000-01-01 00:00:00') AS n_train_baskets,
          (SELECT count(DISTINCT b) FROM te) AS n_test_baskets,
          (SELECT count(*) FROM tpf) AS n_test_pairs,
          (SELECT count(*) FROM hits) AS n_hits)
      SELECT n_train_baskets, n_test_baskets, n_test_pairs, n_hits,
             CASE WHEN n_test_pairs > 0 THEN
               ((n_hits * 10000 * 2 + n_test_pairs) // (2 * n_test_pairs)) / 10000.0
             END AS hit_rate
      FROM agg"""

  // ---- x173: capture-recapture population estimate -----------------------------

  /** Chapman's capture–recapture estimate from two observation
    * windows: n1 = subjects seen in [w1Start, w1End), n2 = seen in
    * [w2Start, w2End), m = seen in both;
    * N̂ = (n1+1)(n2+1)/(m+1) − 1. Output one row: (n_first, n_second,
    * n_both, est_total, actual_total) — actual from the full log, so
    * the estimator's error is visible in the artifact.
    *
    * Scale: one corpus pass with two window flags, one distinct-user
    * aggregation — the estimate of an unbounded stream's population
    * from two cheap slices.
    */
  def captureRecapture(
      events: DataFrame, userCol: String, tsCol: String,
      w1Start: String, w1End: String, w2Start: String,
      w2End: String): DataFrame = {
    def in(lo: String, hi: String) =
      col("ts") >= to_timestamp(lit(lo)) && col("ts") < to_timestamp(lit(hi))
    val per = events
      .select(col(userCol).as("u"), col(tsCol).as("ts"))
      .groupBy(col("u"))
      .agg(max(when(in(w1Start, w1End), 1L).otherwise(0L)).as("in1"),
        max(when(in(w2Start, w2End), 1L).otherwise(0L)).as("in2"))
    per.agg(
      sum(col("in1")).as("n_first"),
      sum(col("in2")).as("n_second"),
      sum(col("in1") * col("in2")).as("n_both"),
      count(lit(1)).as("actual_total"))
      .select(col("n_first"), col("n_second"), col("n_both"),
        // (n1+1)(n2+1) is a product of two corpus-scale counts — 3e9
        // users a window wraps a long before the ×2e4 render even
        // starts. 128-bit (DECIMAL(38,0) / HUGEINT): same values
        expr("""(((CAST(n_first + 1 AS DECIMAL(38,0)) * (n_second + 1) - (n_both + 1)) * 10000 * 2
              + (n_both + 1)) DIV (2 * CAST(n_both + 1 AS DECIMAL(38,0)))) / 10000.0D""")
          .as("est_total"),
        col("actual_total"))
  }

  /** x173: estimate the fixture's user population from week 1 and
    * week 3 observation slices.
    */
  def x173Capture(s: SparkSession, dir: String): DataFrame =
    captureRecapture(Tables.load(s, dir, "events"), "user_id", "ts",
      "2024-01-01 00:00:00", "2024-01-08 00:00:00",
      "2024-01-15 00:00:00", "2024-01-22 00:00:00")

  private val x173OracleSql: String = """
      WITH per AS (
        SELECT user_id AS u,
               max(CASE WHEN ts >= TIMESTAMP '2024-01-01 00:00:00'
                         AND ts < TIMESTAMP '2024-01-08 00:00:00'
                        THEN 1 ELSE 0 END) AS in1,
               max(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                         AND ts < TIMESTAMP '2024-01-22 00:00:00'
                        THEN 1 ELSE 0 END) AS in2
        FROM events GROUP BY user_id),
      agg AS (SELECT CAST(sum(in1) AS BIGINT) AS n_first,
                     CAST(sum(in2) AS BIGINT) AS n_second,
                     CAST(sum(in1 * in2) AS BIGINT) AS n_both,
                     count(*) AS actual_total
              FROM per)
      SELECT n_first, n_second, n_both,
             (((CAST(n_first + 1 AS HUGEINT) * (n_second + 1) - (n_both + 1)) * 10000 * 2
               + (n_both + 1)) // (2 * CAST(n_both + 1 AS HUGEINT))) / 10000.0 AS est_total,
             actual_total
      FROM agg"""

  val entries: Seq[Entry] = Seq(
    Entry("x172_recs_eval", x172RecsEval _, x172OracleSql),
    Entry("x173_capture_recapture", x173Capture _, x173OracleSql))
}
