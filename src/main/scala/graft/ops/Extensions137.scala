package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-thirty-seventh extension batch — three families the
  * inventory had not touched: adaptive policies, crowd label models,
  * and placement:
  *
  *  - BATCHED UCB1 REPLAY (x310): Auer et al. 2002's UCB1 driven over
  *    the day-batched event log — each day the policy pulls one arm
  *    (event type) and observes that day's empirical reward; the card
  *    reports the pull sequence and cumulative regret against the
  *    best fixed arm in hindsight. The offline-replay evaluator an
  *    adaptive data-selection policy needs before it ships.
  *  - DAWID–SKENE LABEL MODEL (x311): the 1979 EM estimator of
  *    per-rater sensitivity/specificity from REDUNDANT noisy labels,
  *    no ground truth — the crowd-labeling upgrade over x115's
  *    two-rater kappa. Two fixed EM rounds; every posterior product
  *    is a stepwise halfup micro fold (J terms, fixed order), so the
  *    whole model is integer-exact and replays unrolled.
  *  - CONSISTENT-HASH REBALANCE CARD (x312): md5 ring with virtual
  *    nodes vs naive mod-N sharding — the fraction of keys that MOVE
  *    when a shard is added (Karger et al. 1997: ~1/(N+1) vs
  *    ~N/(N+1)). The placement argument for every store in this repo,
  *    measured instead of asserted.
  *
  * Determinism: UCB state is a driver fold over the bounded
  * (days × arms) table (the x284 bounded-series discipline) with the
  * exploration bonus micro-quantized per decision; DS confidences are
  * micro at every step; the ring is pure md5 arithmetic. Scale: x310
  * aggregates the corpus to days×arms in ONE pass; x311 is
  * 2·rounds map+agg passes; x312 is a broadcast of N·V ring rows
  * against a map-side argmin — never a shuffle of the key table.
  */
object Extensions137 {

  private def halfup(num: Long, den: Long): Long = (num * 2 + den) / (2 * den)

  // ---- x310: batched UCB1 replay -----------------------------------------------------

  /** Day-batched UCB1 over (day, arm, reward_micro): the first A days
    * initialize each arm in arm order; afterwards the policy pulls
    * argmax_a halfup(ssum_a, n_a) + round(10^6·√(2·ln t / n_a)), ties
    * to the smaller arm index. Output per day: (t, arm, reward_micro,
    * cum_reward_micro, cum_regret_micro) — regret vs the best fixed
    * arm in hindsight.
    *
    * The input is aggregated to one row per (day, arm) INSIDE this
    * function (sum of rewards — identity when the caller already
    * pre-batched, as x310 does), so the driver collect pulls at most
    * days·arms rows regardless of raw input size and duplicate keys
    * compose additively instead of last-winning silently.
    */
  def ucb1Replay(
      rewards: DataFrame, dayCol: String, armCol: String,
      rewardCol: String): DataFrame = {
    val spark = rewards.sparkSession
    import spark.implicits._
    val batched = rewards.select(col(dayCol).as("d"),
        col(armCol).cast("string").as("a"),
        col(rewardCol).cast("long").as("r"))
      .groupBy(col("d"), col("a")).agg(sum(col("r")).as("r"))
    // Cap BEFORE any collect: one cheap agg bounds every driver pull below.
    val card = batched.agg(countDistinct(col("d")).as("nd"),
        countDistinct(col("a")).as("na")).collect()(0)
    val (nd, na) = (card.getLong(0), card.getLong(1))
    require(na > 0 && nd >= na, "ucb1Replay: need at least one day per arm")
    require(nd * na <= 100000L,
      s"ucb1Replay: days*arms = ${nd * na} exceeds the bounded-series cap (100000)")
    val arms = batched.select(col("a"))
      .distinct().orderBy(col("a")).collect().map(_.getString(0)).toSeq
    val days = batched.select(col("d")).distinct()
      .orderBy(col("d")).collect().map(_.get(0)).toSeq
    val rw = batched
      .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    val a = arms.size
    val n = Array.fill(a)(0L)
    val s = Array.fill(a)(0L)
    val totals = Array.tabulate(a)(j =>
      days.map(d => rw.getOrElse((d, arms(j)), 0L)).sum)
    val best = totals.zipWithIndex.maxBy { case (t, j) => (t, -j) }._2
    var cumR = 0L
    var cumReg = 0L
    val out = days.zipWithIndex.map { case (d, i) =>
      val t = i + 1
      val chosen =
        if (t <= a) t - 1
        else (0 until a).maxBy { j =>
          val mean = halfup(s(j), n(j))
          val bonus = BigDecimal(
            1e6 * math.sqrt(2.0 * math.log(t.toDouble) / n(j).toDouble))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          (mean + bonus, -j)
        }
      val r = rw.getOrElse((d, arms(chosen)), 0L)
      n(chosen) += 1; s(chosen) += r
      cumR += r
      cumReg += rw.getOrElse((d, arms(best)), 0L) - r
      (t.toLong, arms(chosen), r, cumR, cumReg)
    }
    out.toDF("t", "arm", "reward_micro", "cum_reward_micro",
      "cum_regret_micro")
  }

  /** x310: arms = event types, day t's reward for an arm = that day's
    * share of the arm's events with value ≥ 50, halfup micro (absent
    * arm-days read 0 — the pull is still spent).
    */
  def x310Ucb1(s: SparkSession, dir: String): DataFrame = {
    val rw = Tables.load(s, dir, "events")
      .select(to_date(col("ts")).as("d"), col("event_type").as("a"),
        (col("value") >= 50.0d).cast("long").as("hit"))
      .groupBy(col("d"), col("a"))
      .agg(expr("(1000000 * sum(hit) * 2 + count(*)) DIV (2 * count(*))")
        .as("r"))
    ucb1Replay(rw, "d", "a", "r")
  }

  /** The oracle replays the fold as a recursive CTE over BIGINT list
    * state (pull counts, reward sums) — the x127 list-state pattern;
    * list_position(u, list max) reproduces the smaller-index tie.
    */
  private val x310OracleSql: String = """
      WITH RECURSIVE rw0 AS (
        SELECT CAST(ts AS DATE) AS d, event_type AS a,
               (1000000 * sum(CASE WHEN value >= 50 THEN 1 ELSE 0 END) * 2
                + count(*)) // (2 * count(*)) AS r
        FROM events GROUP BY 1, 2),
      arms AS (SELECT a, row_number() OVER (ORDER BY a) AS j
               FROM (SELECT DISTINCT a FROM rw0)),
      na AS (SELECT CAST(count(*) AS BIGINT) AS a FROM arms),
      dd AS (SELECT d, row_number() OVER (ORDER BY d) AS t
             FROM (SELECT DISTINCT d FROM rw0)),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dd),
      rwf AS (SELECT dd.t, arms.j, COALESCE(rw0.r, 0) AS r
              FROM dd CROSS JOIN arms
              LEFT JOIN rw0 ON rw0.d = dd.d AND rw0.a = arms.a),
      tot AS (SELECT j, CAST(sum(r) AS BIGINT) AS tr FROM rwf GROUP BY j),
      bst AS (SELECT j AS bj FROM tot ORDER BY tr DESC, j LIMIT 1),
      b0 AS (SELECT r AS r11 FROM rwf WHERE t = 1 AND j = 1),
      bb AS (SELECT r AS rb1 FROM rwf
             WHERE rwf.t = 1 AND rwf.j = (SELECT bj FROM bst)),
      ucb(t, ns, ss, chosen, reward, cumr, cumreg) AS (
        SELECT CAST(1 AS BIGINT),
               list_transform(generate_series(1, na.a),
                 x -> CASE WHEN x = 1 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
               list_transform(generate_series(1, na.a),
                 x -> CASE WHEN x = 1 THEN b0.r11 ELSE CAST(0 AS BIGINT) END),
               CAST(1 AS BIGINT), b0.r11, b0.r11, bb.rb1 - b0.r11
        FROM na, b0, bb
        UNION ALL
        SELECT u.t + 1, nns, nss, ch, rr,
               u.cumr + rr,
               u.cumreg
                 + (SELECT r FROM rwf WHERE rwf.t = u.t + 1
                    AND rwf.j = (SELECT bj FROM bst)) - rr
        FROM (
          SELECT u.*,
            CASE WHEN u.t + 1 <= u.na_a THEN u.t + 1
                 ELSE CAST(list_position(ub, list_aggregate(ub, 'max')) AS BIGINT)
            END AS ch
          FROM (
            SELECT u.*, na.a AS na_a,
              list_transform(generate_series(1, na.a),
                x -> CASE WHEN u.ns[x] = 0 THEN CAST(0 AS BIGINT)
                     ELSE (u.ss[x] * 2 + u.ns[x]) // (2 * u.ns[x])
                          + CAST(round(1e6 * sqrt(2.0 * ln(CAST(u.t + 1 AS DOUBLE))
                                       / CAST(u.ns[x] AS DOUBLE)), 0) AS BIGINT)
                     END) AS ub
            FROM ucb u, na) u) u,
        LATERAL (SELECT r AS rr FROM rwf
                 WHERE rwf.t = u.t + 1 AND rwf.j = u.ch) lr,
        LATERAL (SELECT
            list_transform(generate_series(1, u.na_a),
              x -> u.ns[x] + CASE WHEN x = u.ch THEN 1 ELSE 0 END) AS nns,
            list_transform(generate_series(1, u.na_a),
              x -> u.ss[x] + CASE WHEN x = u.ch THEN rr ELSE CAST(0 AS BIGINT) END) AS nss) st
        WHERE u.t + 1 <= (SELECT n FROM nd))
      SELECT CAST(u.t AS BIGINT) AS t, arms.a AS arm,
             CAST(u.reward AS BIGINT) AS reward_micro,
             CAST(u.cumr AS BIGINT) AS cum_reward_micro,
             CAST(u.cumreg AS BIGINT) AS cum_regret_micro
      FROM ucb u JOIN arms ON arms.j = u.chosen
      ORDER BY u.t"""

  // ---- x311: Dawid–Skene label model --------------------------------------------------

  /** Two-round binary Dawid–Skene over J boolean rater columns: EM on
    * per-item posteriors μ (micro), per-rater sensitivity α and
    * specificity β, class prior π. Posterior products fold stepwise —
    * p ← halfup(p·term, 10^6) in fixed rater order — so each value
    * stays micro-scaled and integer-exact. Output one row per rater:
    * (rater, alpha_micro, beta_micro) plus ('_prior', π, 10^6−π).
    */
  def dawidSkene(
      items: DataFrame, raterCols: Seq[String], rounds: Int = 2): DataFrame = {
    require(raterCols.size >= 2 && rounds >= 1 && rounds <= 4)
    val j = raterCols.size
    val base = Extensions.materialized(
      items.select(raterCols.map(c => col(c).cast("long").as(c)): _*)
        .withColumn("vv",
          raterCols.map(c => col(c).cast("long")).reduce(_ + _)))
    // μ is carried as a generated SQL string (the driver-values-as-
    // literals form the oracle's unrolled rounds mirror exactly)
    def foldP(start: String, terms: Seq[String]): String =
      terms.foldLeft(start) { (acc, t) =>
        s"((($acc) * ($t) * 2 + 1000000) DIV (2 * 1000000))"
      }
    var muSql = s"(1000000 * vv * 2 + $j) DIV (2 * $j)"
    var alphas: Seq[Long] = null
    var betas: Seq[Long] = null
    var prior: Long = 0L
    for (_ <- 1 to rounds) {
      val scored = base.withColumn("mu", expr(muSql))
      val aggs = raterCols.flatMap { c =>
        Seq(sum((col("mu") * col(c)).cast("decimal(38,0)")).as(s"am_$c"),
          sum(((lit(1000000L) - col("mu")) * (lit(1L) - col(c)))
            .cast("decimal(38,0)")).as(s"bm_$c"))
      } ++ Seq(
        sum(col("mu").cast("decimal(38,0)")).as("sm"),
        count(lit(1)).as("n"))
      val row = scored.agg(aggs.head, aggs.tail: _*).collect()(0)
      def dec(name: String): BigInt =
        BigInt(row.getDecimal(row.fieldIndex(name)).toBigInteger)
      val sm = dec("sm")
      val n = row.getLong(row.fieldIndex("n"))
      val smc = BigInt(n) * 1000000 - sm
      def hb(num: BigInt, den: BigInt): Long =
        if (den == 0) 500000L else ((num * 2 + den) / (den * 2)).toLong
      alphas = raterCols.map(c => hb(dec(s"am_$c") * 1000000, sm))
      betas = raterCols.map(c => hb(dec(s"bm_$c") * 1000000, smc))
      prior = hb(sm, BigInt(n))
      // literals carry the L suffix: Spark parses bare 6-digit literals
      // as 32-bit ints, and the micro products overflow INT under ANSI
      val aTerms = raterCols.zip(alphas).map { case (c, al) =>
        s"(CASE WHEN $c = 1 THEN ${al}L ELSE ${1000000L - al}L END)"
      }
      val bTerms = raterCols.zip(betas).map { case (c, be) =>
        s"(CASE WHEN $c = 1 THEN ${1000000L - be}L ELSE ${be}L END)"
      }
      val af = foldP(s"${prior}L", aTerms)
      val bf = foldP(s"${1000000L - prior}L", bTerms)
      muSql = s"""CASE WHEN ($af) + ($bf) = 0 THEN 500000
        ELSE (1000000 * ($af) * 2 + ($af) + ($bf)) DIV (2 * (($af) + ($bf)))
        END"""
    }
    val spark = items.sparkSession
    import spark.implicits._
    (raterCols.zip(alphas.zip(betas)).map { case (c, (al, be)) => (c, al, be) }
      :+ (("_prior", prior, 1000000L - prior)))
      .toDF("rater", "alpha_micro", "beta_micro")
  }

  /** x311: three deterministic heuristic raters of document quality
    * (length gate, stopword gate, mean-word-length gate) — DS recovers
    * who is strict and who is noisy without any gold labels.
    */
  def x311DawidSkene(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), t => length(t) > 0).as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("nw"),
        aggregate(transform(col("tk"), t => length(t).cast("long")),
          lit(0L), _ + _).as("sl"),
        size(filter(col("tk"), t => t === "the" || t === "a")).cast("long")
          .as("st"))
      .select(col("doc_id"),
        (col("nw") >= 50L).cast("long").as("r_len"),
        (col("st") * 4L <= col("nw")).cast("long").as("r_stop"),
        (col("sl") * 10L >= col("nw") * 30L &&
          col("sl") * 10L <= col("nw") * 100L).cast("long").as("r_wlen"))
    dawidSkene(d, Seq("r_len", "r_stop", "r_wlen"))
  }

  private val x311OracleSql: String = {
    val raters = Seq("r_len", "r_stop", "r_wlen")
    val j = raters.size
    def foldP(start: String, terms: Seq[String]): String =
      terms.foldLeft(start) { (acc, t) =>
        s"((($acc) * ($t) * 2 + 1000000) // (2 * 1000000))"
      }
    // two unrolled EM rounds over the shared rater table
    def round(i: Int, muExpr: String): (String, String) = {
      val aggs = raters.zipWithIndex.map { case (c, k) =>
        s"""CAST(sum(mu * $c) AS HUGEINT) AS am_$k,
            CAST(sum((1000000 - mu) * (1 - $c)) AS HUGEINT) AS bm_$k"""
      }.mkString(",\n          ")
      val w = s"""w$i AS (
        SELECT $aggs,
               CAST(sum(mu) AS HUGEINT) AS sm,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT rt.*, $muExpr AS mu FROM rt${if (i > 1) s", p${i - 1} p" else ""}))"""
      val al = raters.indices.map(k =>
        s"CASE WHEN sm = 0 THEN 500000 ELSE CAST((am_$k * 1000000 * 2 + sm) // (2 * sm) AS BIGINT) END")
      val be = raters.indices.map(k =>
        s"CASE WHEN n * 1000000 - sm = 0 THEN 500000 ELSE CAST((bm_$k * 1000000 * 2 + (n * 1000000 - sm)) // (2 * (n * 1000000 - sm)) AS BIGINT) END")
      val pi = s"CAST((sm * 2 + n) // (2 * n) AS BIGINT)"
      val params = s"""p$i AS (
        SELECT ${al.zipWithIndex.map { case (e, k) => s"$e AS al_$k" }.mkString(", ")},
               ${be.zipWithIndex.map { case (e, k) => s"$e AS be_$k" }.mkString(", ")},
               $pi AS pi
        FROM w$i)"""
      (w, params)
    }
    def muFrom(i: Int): String = {
      val aTerms = raters.zipWithIndex.map { case (c, k) =>
        s"(CASE WHEN $c = 1 THEN p.al_$k ELSE 1000000 - p.al_$k END)"
      }
      val bTerms = raters.zipWithIndex.map { case (c, k) =>
        s"(CASE WHEN $c = 1 THEN 1000000 - p.be_$k ELSE p.be_$k END)"
      }
      val af = foldP("p.pi", aTerms)
      val bf = foldP("(1000000 - p.pi)", bTerms)
      s"""(CASE WHEN ($af) + ($bf) = 0 THEN 500000
           ELSE (1000000 * ($af) * 2 + ($af) + ($bf)) // (2 * (($af) + ($bf)))
           END)"""
    }
    val (w1, p1) = round(1, s"(1000000 * (r_len + r_stop + r_wlen) * 2 + $j) // (2 * $j)")
    val (w2, p2) = round(2, muFrom(1))
    val outRows = raters.zipWithIndex.map { case (c, k) =>
      s"SELECT '$c' AS rater, al_$k AS alpha_micro, be_$k AS beta_micro FROM p2"
    }.mkString("\n        UNION ALL ")
    s"""WITH d AS (SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
           FROM documents),
    ft AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS nw,
             CAST(list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS BIGINT) AS sl,
             CAST(len(list_filter(tk, t -> t IN ('the', 'a'))) AS BIGINT) AS st
           FROM d),
    rt AS MATERIALIZED (SELECT doc_id,
             CASE WHEN nw >= 50 THEN 1 ELSE 0 END AS r_len,
             CASE WHEN st * 4 <= nw THEN 1 ELSE 0 END AS r_stop,
             CASE WHEN sl * 10 >= nw * 30 AND sl * 10 <= nw * 100 THEN 1 ELSE 0 END AS r_wlen
           FROM ft),
    $w1, $p1, $w2, $p2
    SELECT * FROM (
        $outRows
        UNION ALL SELECT '_prior', pi, 1000000 - pi FROM p2)
    ORDER BY rater"""
  }

  // ---- x312: consistent-hash rebalance card --------------------------------------------

  /** Keys → shards under (a) an md5 ring with `vnodes` virtual nodes
    * per shard and (b) naive mod-N; the card reports how many keys
    * move when shard N is added. Output 2 rows:
    * (scheme, n_keys, moved, moved_share_micro).
    */
  def rebalanceCard(
      keys: DataFrame, keyCol: String, nShards: Int = 4,
      vnodes: Int = 32): DataFrame = {
    require(nShards >= 1 && vnodes >= 1 && nShards * vnodes <= 4096)
    import graft.functions.HashFunctions.md5_bucket60
    val spark = keys.sparkSession
    import spark.implicits._
    val ringRows = for (s <- 0 to nShards; v <- 0 until vnodes) yield (s, v)
    val ring = broadcast(ringRows.toDF("shard", "v")
      .select(col("shard").cast("long").as("shard"),
        md5_bucket60(concat(lit("ring:"), col("shard").cast("string"),
          lit(":"), col("v").cast("string"))).as("vh")))
    val k = keys.select(col(keyCol).cast("string").as("k"))
      .withColumn("kh", md5_bucket60(concat(lit("key:"), col("k"))))
    def assign(maxShard: Long): DataFrame =
      k.join(ring.filter(col("shard") < maxShard))
        .withColumn("dist",
          pmod(col("vh") - col("kh"), lit(1152921504606846976L)))
        .groupBy(col("k"), col("kh"))
        .agg(min_by(col("shard"), struct(col("dist"), col("vh"))).as("sh"))
    val before = assign(nShards.toLong)
      .select(col("k"), col("kh"), col("sh").as("s0"))
    val after = assign(nShards.toLong + 1)
      .select(col("k"), col("sh").as("s1"))
    val ringCard = before.join(after, Seq("k"))
      .agg(count(lit(1)).as("n_keys"),
        sum((col("s0") =!= col("s1")).cast("long")).as("moved"))
      .select(lit("ring").as("scheme"), col("n_keys"), col("moved"))
    val modCard = k
      .agg(count(lit(1)).as("n_keys"),
        sum((pmod(col("kh"), lit(nShards.toLong)) =!=
          pmod(col("kh"), lit(nShards.toLong + 1))).cast("long")).as("moved"))
      .select(lit("mod").as("scheme"), col("n_keys"), col("moved"))
    ringCard.unionAll(modCard)
      .withColumn("moved_share_micro",
        expr("(1000000 * moved * 2 + n_keys) DIV (2 * n_keys)"))
  }

  /** x312: document ids through a 4→5 shard resize, 32 vnodes. */
  def x312Rebalance(s: SparkSession, dir: String): DataFrame =
    rebalanceCard(Tables.load(s, dir, "documents"), "doc_id")

  private val x312OracleSql: String = """
      WITH ks AS (SELECT CAST(doc_id AS VARCHAR) AS k,
                    ('0x' || substr(md5('key:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS kh
                  FROM documents),
      ring AS (SELECT s.s AS shard, v.v AS v,
                 ('0x' || substr(md5('ring:' || CAST(s.s AS VARCHAR) || ':' ||
                    CAST(v.v AS VARCHAR)), 1, 15))::BIGINT AS vh
               FROM UNNEST(generate_series(0, 4)) AS s(s),
                    UNNEST(generate_series(0, 31)) AS v(v)),
      a0 AS (SELECT k, kh, shard AS s0 FROM (
               SELECT ks.k, ks.kh, r.shard,
                      row_number() OVER (PARTITION BY ks.k
                        ORDER BY (r.vh - ks.kh) % 1152921504606846976
                                 + CASE WHEN (r.vh - ks.kh) % 1152921504606846976 < 0
                                        THEN 1152921504606846976 ELSE 0 END,
                                 r.vh) AS rk
               FROM ks CROSS JOIN ring r WHERE r.shard < 4)
             WHERE rk = 1),
      a1 AS (SELECT k, shard AS s1 FROM (
               SELECT ks.k, r.shard,
                      row_number() OVER (PARTITION BY ks.k
                        ORDER BY (r.vh - ks.kh) % 1152921504606846976
                                 + CASE WHEN (r.vh - ks.kh) % 1152921504606846976 < 0
                                        THEN 1152921504606846976 ELSE 0 END,
                                 r.vh) AS rk
               FROM ks CROSS JOIN ring r WHERE r.shard < 5)
             WHERE rk = 1),
      rc AS (SELECT 'ring' AS scheme, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(CASE WHEN s0 <> s1 THEN 1 ELSE 0 END) AS BIGINT) AS moved
             FROM a0 JOIN a1 USING (k)),
      mc AS (SELECT 'mod' AS scheme, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(CASE WHEN kh % 4 <> kh % 5 THEN 1 ELSE 0 END) AS BIGINT) AS moved
             FROM ks)
      SELECT scheme, n_keys, moved,
             (1000000 * moved * 2 + n_keys) // (2 * n_keys) AS moved_share_micro
      FROM (SELECT * FROM rc UNION ALL SELECT * FROM mc)
      ORDER BY scheme"""

  val entries: Seq[Entry] = Seq(
    Entry("x310_ucb1_replay", x310Ucb1 _, x310OracleSql),
    Entry("x311_dawid_skene", x311DawidSkene _, x311OracleSql),
    Entry("x312_rebalance_card", x312Rebalance _, x312OracleSql))
}
