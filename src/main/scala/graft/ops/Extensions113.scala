package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** One-hundred-thirteenth extension batch — two published estimators:
  *
  *  - Sequential-pattern support mining (x258): GSP/PrefixSpan-family
  *    (Agrawal & Srikant 1996, Pei et al. 2001) DISCOVERY, where x85
  *    evaluates one GIVEN funnel. Counts, for every event-type
  *    subsequence up to length 3 (gaps allowed, types may repeat), the
  *    users whose timeline contains it, via the earliest-completion
  *    decomposition: `u ⊨ (A,B)` iff first(A) < last(B);
  *    `u ⊨ (A,B,C)` iff e2(A,B) < last(C) where e2 is the earliest B
  *    strictly after first(A). Everything is min/max/one-join algebra —
  *    no per-user sequence scan, no UDF. The Apriori prune is real:
  *    only L1-frequent types enter the pair/triple stages (support is
  *    monotone, so the final answer is unchanged while the candidate
  *    alphabet shrinks to the frequent one — the standard GSP lever at
  *    scale).
  *  - Wasserstein-1 distance matrix (x259): exact 1-D optimal transport
  *    between per-group value histograms, W1 = Σ_bins |F_A − F_B| · Δ.
  *    The metric-aware complement to the KL drift card (x214: bin-wise
  *    mass ratios, blind to WHERE the mass moved) and the KS test
  *    (x182: sup-norm of the CDF gap; W1 is its L1 integral — a
  *    two-bin-shift and a ten-bin-shift of the same mass are equal to
  *    KL, ordered by W1). Exact in integers: per-bin
  *    |cumA·nB − cumB·nA| (DECIMAL(38,0) / HUGEINT — the x215 overflow
  *    discipline), one half-up division per pair at the end.
  *
  * Both fixtures replay in full: support counting is pure integer; W1
  * renders micro via the `(2·num + den) DIV (2·den)` house form.
  */
object Extensions113 {

  // ---- x258: sequential-pattern support mining --------------------------------------

  /** Frequent event-type subsequences (lengths 1–3, gaps allowed, types
    * may repeat) with user support ≥ ceil(minSupNum/minSupDen · users).
    * Output: (pattern "A>B>C", len, support), support-desc then pattern.
    *
    * Scale shape: one (user, type) min/max aggregation; L2 is a per-user
    * self-join of that O(users·T) table on the L1-FREQUENT alphabet
    * (Apriori prune — the alphabet the pair stage sees is the frequent
    * one, not the raw one); e2 joins raw occurrences to per-user firsts
    * (O(events·T_freq) with map-side pruning); no driver-side loops, no
    * per-user sequence UDF. Strictness is on the microsecond: equal-ts
    * occurrences are concurrent, not ordered (documented tie rule).
    */
  def seqPatternSupport(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      minSupNum: Long, minSupDen: Long): DataFrame = {
    require(minSupNum >= 1 && minSupDen >= minSupNum,
      "support threshold must be a fraction in (0, 1]")
    val occ = log.select(col(userCol).as("u"), col(typeCol).as("t"),
      unix_micros(col(tsCol)).as("us"))
    val ft = Extensions.materialized(
      occ.groupBy(col("u"), col("t"))
        .agg(min(col("us")).as("fus"), max(col("us")).as("lus")))
    val users = ft.select(col("u")).distinct().count()
    val minSup = (minSupNum * users + minSupDen - 1) / minSupDen
    val l1 = Extensions.materialized(
      ft.groupBy(col("t")).agg(count(lit(1)).as("support"))
        .filter(col("support") >= minSup))
    // Apriori prune: only frequent types feed the longer stages
    val fft = ft.join(broadcast(l1.select(col("t"))), Seq("t"))
    val l2 = Extensions.materialized(fft.select(col("u"), col("t").as("ta"), col("fus"))
      .join(fft.select(col("u"), col("t").as("tb"), col("lus")), Seq("u"))
      .filter(col("fus") < col("lus"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSup))
    // earliest completion of (A,B): first B strictly after first(A)
    val e2 = occ.join(broadcast(l1.select(col("t"))), Seq("t"))
      .select(col("u"), col("t").as("tb"), col("us"))
      .join(fft.select(col("u"), col("t").as("ta"), col("fus")), Seq("u"))
      .filter(col("us") > col("fus"))
      .groupBy(col("u"), col("ta"), col("tb")).agg(min(col("us")).as("eus"))
      // prune to L2-frequent prefixes (answer unchanged: monotone support)
      .join(broadcast(l2.select(col("ta"), col("tb"))), Seq("ta", "tb"))
    val l3 = e2
      .join(fft.select(col("u"), col("t").as("tc"), col("lus")), Seq("u"))
      .filter(col("eus") < col("lus"))
      .groupBy(col("ta"), col("tb"), col("tc")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSup)
    l1.select(col("t").as("pattern"), lit(1L).as("len"), col("support"))
      .unionAll(l2.select(concat_ws(">", col("ta"), col("tb")).as("pattern"),
        lit(2L).as("len"), col("support")))
      .unionAll(l3.select(
        concat_ws(">", col("ta"), col("tb"), col("tc")).as("pattern"),
        lit(3L).as("len"), col("support")))
  }

  /** x258: patterns supported by ≥ 60% of users on the events fixture. */
  def x258SeqPatterns(s: SparkSession, dir: String): DataFrame =
    seqPatternSupport(Tables.load(s, dir, "events"),
        "user_id", "event_type", "ts", 3L, 5L)

  private val x258OracleSql: String = """
      WITH occ AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us
                   FROM events),
      ft AS (SELECT u, t, min(us) AS fus, max(us) AS lus FROM occ GROUP BY 1, 2),
      nu AS (SELECT count(DISTINCT u) AS users FROM ft),
      ms AS (SELECT (3 * users + 4) // 5 AS minsup FROM nu),
      l1 AS (SELECT t, count(*) AS support FROM ft GROUP BY t
             HAVING count(*) >= (SELECT minsup FROM ms)),
      fft AS (SELECT ft.* FROM ft JOIN l1 ON l1.t = ft.t),
      l2 AS (SELECT a.t AS ta, b.t AS tb, count(*) AS support
             FROM fft a JOIN fft b ON a.u = b.u AND a.fus < b.lus
             GROUP BY 1, 2 HAVING count(*) >= (SELECT minsup FROM ms)),
      e2 AS (SELECT o.u, f.t AS ta, o.t AS tb, min(o.us) AS eus
             FROM occ o
             JOIN l1 lo ON lo.t = o.t
             JOIN fft f ON f.u = o.u AND o.us > f.fus
             GROUP BY 1, 2, 3),
      e2f AS (SELECT e2.* FROM e2 JOIN l2 ON l2.ta = e2.ta AND l2.tb = e2.tb),
      l3 AS (SELECT e.ta, e.tb, c.t AS tc, count(*) AS support
             FROM e2f e JOIN fft c ON c.u = e.u AND e.eus < c.lus
             GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT minsup FROM ms))
      SELECT pattern, len, support FROM (
        SELECT t AS pattern, CAST(1 AS BIGINT) AS len, support FROM l1
        UNION ALL
        SELECT ta || '>' || tb, 2, support FROM l2
        UNION ALL
        SELECT ta || '>' || tb || '>' || tc, 3, support FROM l3)
      ORDER BY len, support DESC, pattern"""

  // ---- x259: exact 1-D Wasserstein-1 distance matrix --------------------------------

  /** Pairwise exact W1 (earth-mover) distances between per-group value
    * distributions, binned at `binWidth`: W1 = Σ_b |F_A(b) − F_B(b)|·Δ,
    * computed as the exact integer Σ|cumA·nB − cumB·nA| (DECIMAL(38,0))
    * with ONE half-up micro division per pair. Output:
    * (g_a, g_b, w1 4dp), g_a < g_b.
    *
    * Scale shape: one groupBy(g, bin) histogram pass over the corpus;
    * the dense (group × bin) grid, CDFs, and the pair join are all
    * aggregate-sized (G·B rows, G²·B pair rows) — the corpus is read
    * once, pairs never touch rows. The G² pair stage is the output
    * itself (a distance matrix is quadratic in groups by definition).
    */
  def wasserstein1Matrix(
      rel: DataFrame, groupCol: String, valueCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth >= 1)
    val h = Extensions.materialized(
      rel.select(col(groupCol).as("g"),
          floor(col(valueCol) / binWidth).cast("long").as("b"))
        .groupBy(col("g"), col("b")).agg(count(lit(1)).as("c")))
    // observed bins only, each weighted by the gap to the NEXT observed
    // bin (sparse grids must not compress distance); the last bin's gap
    // is irrelevant — both CDFs are 1 there, the term is 0. The
    // unpartitioned window rides the aggregated bin list, never rows.
    val bins = h.select(col("b")).distinct()
      .withColumn("gap", coalesce(
        lead(col("b"), 1).over(Window.orderBy(col("b"))) - col("b"), lit(0L)))
    val grid = h.select(col("g")).distinct().crossJoin(bins)
    val w = Window.partitionBy(col("g")).orderBy(col("b"))
    val cdf = grid.join(h, Seq("g", "b"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
    val a = cdf.select(col("g").as("g_a"), col("b"), col("gap"),
      col("cum").as("ca"), col("n").as("na"))
    val b = cdf.select(col("g").as("g_b"), col("b"),
      col("cum").as("cb"), col("n").as("nb"))
    a.join(b, Seq("b"))
      .filter(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b"), col("na"), col("nb"))
      .agg(sum(expr(
        "abs(CAST(ca AS DECIMAL(38,0)) * nb - CAST(cb AS DECIMAL(38,0)) * na) * gap"))
        .as("s"))
      .select(col("g_a"), col("g_b"),
        (expr(s"""CAST((2 * 1000000 * $binWidth * CAST(s AS DECIMAL(38,0))
                + CAST(na AS DECIMAL(38,0)) * nb)
             DIV (2 * CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)""") / 1000000.0)
          .as("w1"))
  }

  /** x259: W1 matrix over per-source document-length distributions
    * (32-char bins) — the transport complement to x214's KL drift.
    */
  def x259WassersteinMatrix(s: SparkSession, dir: String): DataFrame =
    wasserstein1Matrix(Tables.load(s, dir, "documents"),
        "source", "n_chars", binWidth = 32L)

  private val x259OracleSql: String = """
      WITH h AS (SELECT source AS g, n_chars // 32 AS b, count(*) AS c
                 FROM documents GROUP BY 1, 2),
      bins AS (SELECT b, COALESCE(lead(b) OVER (ORDER BY b) - b, 0) AS gap
               FROM (SELECT DISTINCT b FROM h)),
      grid AS (SELECT g, b, gap FROM (SELECT DISTINCT g FROM h), bins),
      cdf AS (SELECT grid.g, grid.b, grid.gap,
                sum(COALESCE(h.c, 0)) OVER (PARTITION BY grid.g ORDER BY grid.b) AS cum,
                sum(COALESCE(h.c, 0)) OVER (PARTITION BY grid.g) AS n
              FROM grid LEFT JOIN h ON h.g = grid.g AND h.b = grid.b),
      pairs AS (SELECT a.g AS g_a, b.g AS g_b, a.n AS na, b.n AS nb,
                  sum(abs(CAST(a.cum AS HUGEINT) * b.n - CAST(b.cum AS HUGEINT) * a.n) * a.gap) AS s
                FROM cdf a JOIN cdf b ON a.b = b.b AND a.g < b.g
                GROUP BY 1, 2, 3, 4)
      SELECT g_a, g_b,
             CAST((2 * 1000000 * 32 * CAST(s AS HUGEINT) + CAST(na AS HUGEINT) * nb)
               // (2 * CAST(na AS HUGEINT) * nb) AS BIGINT) / 1000000.0 AS w1
      FROM pairs
      ORDER BY g_a, g_b"""

  val entries: Seq[Entry] = Seq(
    Entry("x258_seq_patterns", x258SeqPatterns _, x258OracleSql),
    Entry("x259_wasserstein", x259WassersteinMatrix _, x259OracleSql))
}
