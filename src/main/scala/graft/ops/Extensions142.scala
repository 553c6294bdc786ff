package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-forty-second extension batch — the training-batch layout
  * card and two analytics classics the inventory had not touched:
  *
  *  - SEQUENCE-PACKING CARD (x322): GPT-style concat-and-chunk packing
  *    (documents concatenated in a deterministic md5 order, cut every
  *    `ctxTokens` tokens — the standard pretraining batch layout). The
  *    card prices the layout: chunk count, the share of documents a
  *    context boundary cuts through, and the final chunk's fill. Built
  *    on [[Rank.globalPrefixSum]] — the distributed exact prefix sum;
  *    a single-partition window over the corpus is exactly the plan
  *    this op must never have.
  *  - MANN–WHITNEY U (x323): the nonparametric two-sample location
  *    test (Mann & Whitney 1947) beside the experimentation tier's
  *    parametric cards (x314 MDE, x315 SRM) — rank-sum over the VALUE
  *    GRID (midranks from cumulative counts, never a row-level rank),
  *    tie-corrected normal approximation. 2·U is an exact integer
  *    (midrank doubles clear the half), so the statistic is integer-
  *    exact and only the final z takes a square root.
  *  - WINDOWED ATTRIBUTION CARD (x325): the time-bounded sibling of
  *    x113's conversion-scoped multi-touch attribution — credit only
  *    the trailing `windowDays` of touches (x113 scopes by previous
  *    conversion, unbounded in time), and conserve EXACTLY 10⁶ micro
  *    per conversion (integer floor split, remainder to the last
  *    touch — x113's halfAway shares can drift a few micro per
  *    conversion; an attribution ledger that must reconcile cannot).
  *
  * Determinism: the packing order is an md5 lane; attribution
  * tie-breaks on (ts desc, event_id desc); the U statistic is exact
  * integers with one documented √ at the very end (the x314 mirror
  * discipline). Scale: packing is two range-partitioned passes +
  * O(parts) driver rows; the U grid is one hash-agg to the value
  * domain; attribution joins conversions to a user-keyed, time-bounded
  * slice — never event×event.
  */
object Extensions142 {

  // ---- x322: sequence-packing card ----------------------------------------------------

  /** One-row concat-and-chunk layout card: (n_docs, total_tokens,
    * n_chunks, crossing_docs, crossing_share_micro, last_fill_micro).
    * Documents are laid out in md5(doc-id) order and cut every
    * `ctxTokens` whitespace tokens; a doc "crosses" when its token span
    * straddles a cut. Empty-token docs are excluded (they occupy no
    * span).
    */
  def packingCard(
      corpus: DataFrame, idCol: String, textCol: String,
      ctxTokens: Long = 512L): DataFrame = {
    require(ctxTokens >= 1L)
    import graft.functions.HashFunctions.md5_bucket60
    val base = corpus
      .select(col(idCol).cast("long").as("doc_id"),
        size(filter(split(lower(col(textCol)), " "),
          t => length(t) > 0)).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0L)
      .withColumn("ord", md5_bucket60(
        concat(lit("pk:"), col("doc_id").cast("string"))))
    val spanned = Rank.globalPrefixSum(
        base, Seq("ord", "doc_id"), Seq(false, false), "n_tok")
      .withColumn("st", (col("ps") - col("n_tok")).cast("decimal(38,0)"))
      .withColumn("crosses",
        (expr(s"st DIV $ctxTokens") =!= expr(s"(ps - 1) DIV $ctxTokens"))
          .cast("long"))
    spanned.agg(
        count(lit(1)).as("n_docs"),
        max(col("ps")).as("tt"),
        sum(col("crosses")).as("crossing_docs"))
      .select(col("n_docs"),
        col("tt").cast("long").as("total_tokens"),
        expr(s"CAST((tt + $ctxTokens - 1) DIV $ctxTokens AS BIGINT)")
          .as("n_chunks"),
        col("crossing_docs"),
        expr("CAST((1000000 * CAST(crossing_docs AS DECIMAL(38,0)) * 2 + n_docs)" +
          " DIV (2 * n_docs) AS BIGINT)").as("crossing_share_micro"),
        expr(s"CAST((1000000 * (tt - ((tt + $ctxTokens - 1) DIV $ctxTokens - 1)" +
          s" * $ctxTokens) * 2 + $ctxTokens) DIV (2 * $ctxTokens) AS BIGINT)")
          .as("last_fill_micro"))
  }

  /** x322: the documents table packed at a 512-token context. */
  def x322PackingCard(s: SparkSession, dir: String): DataFrame =
    packingCard(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x322OracleSql: String = """
      WITH d AS (SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '),
               t -> length(t) > 0)) AS BIGINT) AS n_tok,
             ('0x' || substr(md5('pk:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS ord
           FROM documents),
      nz AS (SELECT * FROM d WHERE n_tok > 0),
      sp AS (SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY ord, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps
             FROM nz),
      fl AS (SELECT doc_id, n_tok, ps, ps - n_tok AS st,
               CASE WHEN (ps - n_tok) // 512 <> (ps - 1) // 512
                    THEN 1 ELSE 0 END AS crosses
             FROM sp),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(max(ps) AS BIGINT) AS tt,
                CAST(sum(crosses) AS BIGINT) AS crossing_docs
              FROM fl)
      SELECT n_docs, tt AS total_tokens,
             CAST((tt + 511) // 512 AS BIGINT) AS n_chunks,
             crossing_docs,
             CAST((1000000 * crossing_docs * 2 + n_docs)
               // (2 * n_docs) AS BIGINT) AS crossing_share_micro,
             CAST((1000000 * (tt - ((tt + 511) // 512 - 1) * 512) * 2 + 512)
               // (2 * 512) AS BIGINT) AS last_fill_micro
      FROM agg"""

  // ---- x323: Mann–Whitney U ------------------------------------------------------------

  /** One-row rank-sum card between two groups of `valueCol` (cents):
    * (n_a, n_b, u2_a, z_micro) where u2_a = 2·U_A exactly (midrank
    * doubles are integers even under ties) and z is the tie-corrected
    * normal approximation, micro-rounded — the one √ in the chain,
    * mirrored textually in the oracle (the x314 discipline).
    *
    * Scale: one hash-agg to the value grid, cumulative counts via
    * [[GridStats.rankSumReduce]]'s distributed prefix sum (round-14:
    * the cents grid is corpus-derived — 10⁷–10⁹ distinct values at
    * 100 TB — so the cumulation must never be a one-task
    * `Window.orderBy`), one 1-row agg.
    *
    * Kernel sibling: x157 [[Extensions62.mannWhitney]] — the SAME
    * tie-corrected rank-sum test over [[GridStats.rankSumReduce]];
    * delta is only the input contract (explicit two groups here vs md5
    * A/B arms over per-user sums there) and the z rendering (micro here,
    * 4dp there).
    *
    * Degenerate input loud-refuses (either group empty, or every value
    * tied → the variance is 0 and z is undefined) instead of emitting an
    * Infinity/NULL that the two engines could disagree on.
    */
  def mannWhitneyU(
      samples: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val sel = samples
      .filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("g"), cents.as("v"))
    val grid = sel.groupBy(col("v"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("g") === groupA, 1L).otherwise(0L)).as("ca"))
    val red = Extensions.materialized(
      GridStats.rankSumReduce(grid, "v", "ca", "c"))
    val chk = red.select(col("na"), col("nb"), col("n_grid")).collect()(0)
    require(chk.getLong(0) > 0L && chk.getLong(1) > 0L,
      s"mannWhitneyU: both groups must be non-empty " +
        s"(n_a = ${chk.getLong(0)}, n_b = ${chk.getLong(1)})")
    require(chk.getLong(2) >= 2L,
      "mannWhitneyU: all selected values are tied — the variance is 0 " +
        "and z is undefined")
    red
      .select(col("na"), col("nb"),
        // width: na·(na+1) and na·nb wrap a long past ~3e9 samples per
        // side — the compositions ride DECIMAL (u2_a itself is bounded
        // by 2·na·nb and is the documented output width)
        expr("CAST(r2a - na * (CAST(na AS DECIMAL(38,0)) + 1) AS BIGINT)")
          .as("u2_a"),
        expr("CAST(round(1e6 * (CAST(r2a - na * (CAST(na AS DECIMAL(38,0)) + 1)" +
          " - na * CAST(nb AS DECIMAL(38,0)) AS DOUBLE))" +
          " / (2.0 * sqrt(CAST(CAST(na AS DECIMAL(38,0)) * nb AS DOUBLE)" +
          " * ((CAST(na + nb AS DOUBLE) + 1.0)" +
          " - CAST(ties AS DOUBLE) / (CAST(na + nb AS DOUBLE)" +
          " * (CAST(na + nb AS DOUBLE) - 1.0))) / 12.0)), 0) AS BIGINT)")
          .as("z_micro"))
  }

  /** x323: purchase vs click event values — does purchasing shift the
    * value distribution, without assuming normality.
    */
  def x323MannWhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitneyU(Tables.load(s, dir, "events"), "event_type", "value",
      "purchase", "click")

  private val x323OracleSql: String = """
      WITH sel AS (SELECT event_type AS g,
             CAST(round(value * 100.0, 0) AS BIGINT) AS v
           FROM events WHERE event_type IN ('purchase', 'click')),
      grid AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
                 CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca
               FROM sel GROUP BY v),
      mr AS (SELECT v, c, ca,
               COALESCE(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
             FROM grid),
      agg AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                CAST(sum(c - ca) AS BIGINT) AS nb,
                sum((2 * cb + c + 1) * ca) AS r2a,
                sum(c * c * c - c) AS ties
              FROM mr)
      SELECT na, nb,
             CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
             CAST(round(1e6 * (CAST(r2a - na * (na + 1) - na * nb AS DOUBLE))
               / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
               * ((CAST(na + nb AS DOUBLE) + 1.0)
               - CAST(ties AS DOUBLE) / (CAST(na + nb AS DOUBLE)
               * (CAST(na + nb AS DOUBLE) - 1.0))) / 12.0)), 0) AS BIGINT)
               AS z_micro
      FROM agg"""

  // ---- x325: attribution card ----------------------------------------------------------

  /** Time-windowed per-touch-type conversion credit: (event_type, n_touches,
    * linear_micro, last_micro). Each conversion (an event of
    * `convType`) credits the user's non-conversion events in the
    * trailing `windowDays`: linear = 10⁶ DIV k to every touch with the
    * remainder to the LAST touch (total exactly 10⁶ per attributed
    * conversion); last-touch = all 10⁶ to the last. Conversions with
    * zero in-window touches contribute nothing (they have no channel
    * to credit).
    *
    * Scale: the conversion→touch join is user-keyed with a bounded
    * time predicate — candidates are a user's own recent events, never
    * event×event; ranks are per-conversion windows. The per-user
    * fan-out is still conversions×touches BEFORE the time filter, so a
    * bot/hub user (10⁵ events in a window → ~10¹⁰ candidate rows in ONE
    * key) is measured FIRST (one hash-agg + an O(1) TakeOrdered) and
    * loud-refused over `maxUserCandidates` — the collect-cap
    * discipline: refuse visibly, never silently stall a stage on one
    * skewed key (round-14, verdict task 3).
    *
    * `eventIdCol` names the stable per-event id used for conversion and
    * touch identity (round-14: was hardcoded `event_id`).
    */
  def attributionCard(
      events: DataFrame, userCol: String, tsCol: String, typeCol: String,
      convType: String, windowDays: Int = 7,
      eventIdCol: String = "event_id",
      maxUserCandidates: Long = 10000000L): DataFrame = {
    require(windowDays >= 1)
    require(maxUserCandidates >= 1L)
    val hub = events
      .groupBy(col(userCol).as("u"))
      .agg(sum(when(col(typeCol) === convType, 1L).otherwise(0L)).as("nc"),
        sum(when(col(typeCol) =!= convType, 1L).otherwise(0L)).as("nt"))
      .withColumn("cand", col("nc").cast("decimal(38,0)") * col("nt"))
      .orderBy(col("cand").desc).limit(1).collect()
    if (hub.nonEmpty) {
      val h = hub(0)
      val cand = BigInt(h.getDecimal(3).toBigInteger)
      require(cand <= BigInt(maxUserCandidates),
        s"attributionCard: user '${h.get(0)}' fans out to $cand " +
          s"conversion×touch candidates (> $maxUserCandidates). A hub/bot " +
          "key this hot serializes the per-user join — filter it, shard " +
          "it upstream, or raise maxUserCandidates deliberately.")
    }
    val conv = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("u"), col(tsCol).as("cts"),
        col(eventIdCol).as("conv_id"))
    val touch = events.filter(col(typeCol) =!= convType)
      .select(col(userCol).as("u"), col(tsCol).as("tts"),
        col(typeCol).as("ttype"), col(eventIdCol).as("touch_id"))
    val joined = conv.join(touch, Seq("u"))
      .filter(col("tts") < col("cts") &&
        col("tts") >= col("cts") - expr(s"INTERVAL $windowDays DAYS"))
    val wConv = Window.partitionBy(col("conv_id"))
      .orderBy(col("tts").desc, col("touch_id").desc)
    val credited = joined
      .withColumn("rk", row_number().over(wConv).cast("long"))
      .withColumn("k", count(lit(1)).over(Window.partitionBy(col("conv_id"))))
      .withColumn("linear",
        expr("1000000 DIV k") +
          when(col("rk") === 1L, expr("1000000 % k")).otherwise(lit(0L)))
      .withColumn("last", when(col("rk") === 1L, lit(1000000L)).otherwise(lit(0L)))
    credited.groupBy(col("ttype").as("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("linear").cast("decimal(38,0)")).cast("long").as("linear_micro"),
        sum(col("last").cast("decimal(38,0)")).cast("long").as("last_micro"))
  }

  /** x325: purchases attributed over the other event types, 7-day
    * lookback.
    */
  def x325Attribution(s: SparkSession, dir: String): DataFrame =
    attributionCard(Tables.load(s, dir, "events"), "user_id", "ts",
      "event_type", "purchase")

  private val x325OracleSql: String = """
      WITH conv AS (SELECT user_id AS u, ts AS cts, event_id AS conv_id
                    FROM events WHERE event_type = 'purchase'),
      touch AS (SELECT user_id AS u, ts AS tts, event_type AS ttype,
                  event_id AS touch_id
                FROM events WHERE event_type <> 'purchase'),
      j AS (SELECT conv_id, ttype, tts, touch_id
            FROM conv JOIN touch USING (u)
            WHERE tts < cts AND tts >= cts - INTERVAL 7 DAY),
      cr AS (SELECT conv_id, ttype,
               CAST(row_number() OVER (PARTITION BY conv_id
                 ORDER BY tts DESC, touch_id DESC) AS BIGINT) AS rk,
               CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS k
             FROM j)
      SELECT ttype AS event_type, CAST(count(*) AS BIGINT) AS n_touches,
             CAST(sum(1000000 // k
               + CASE WHEN rk = 1 THEN 1000000 % k ELSE 0 END) AS BIGINT)
               AS linear_micro,
             CAST(sum(CASE WHEN rk = 1 THEN 1000000 ELSE 0 END) AS BIGINT)
               AS last_micro
      FROM cr GROUP BY ttype ORDER BY ttype"""

  val entries: Seq[Entry] = Seq(
    Entry("x322_packing_card", x322PackingCard _, x322OracleSql),
    Entry("x323_mann_whitney", x323MannWhitney _, x323OracleSql),
    Entry("x325_attribution", x325Attribution _, x325OracleSql))
}
