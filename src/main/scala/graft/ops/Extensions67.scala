package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Sixty-seventh extension batch — does the model predict, does the
  * dedup bite:
  *
  *  - Markov next-event eval (x166): train the x87 transition model on
  *    pre-split transitions, score next-event-type accuracy on
  *    post-split ones — the temporal-holdout eval that turns the
  *    transition matrix from a description into a PREDICTOR with a
  *    measured hit rate.
  *  - dedup funnel card (x167): docs/tokens surviving each dedup stage
  *    (raw → exact-hash → near-dup) with fractions of raw — the one
  *    table that says what the dedup pipeline actually costs and
  *    saves, built from the SAME exact-hash and x02 pair machinery
  *    the dedup operators use.
  *
  * Determinism discipline: x166's argmax is min(struct(-count, type))
  * — the x100 rule — and accuracy is exact counts with one 4dp
  * division; x167 is exact counts end to end (near-dup drops use the
  * 4dp-rounded x02 jaccard, so stage membership cannot straddle the
  * threshold differently across engines).
  */
object Extensions67 {

  // ---- x166: Markov next-event eval --------------------------------------------

  /** Temporal-holdout eval of the first-order transition model: a
    * transition (cur@t1 → next@t2) trains when t2 < `splitTs`, tests
    * when t2 ≥ splitTs. The model predicts argmax next type per cur
    * (count desc, type asc). Output per cur type:
    * (cur_type, predicted, n_train, n_test, n_correct, accuracy) —
    * cur types never seen in training predict NULL and score 0.
    *
    * Scale: ONE user-key exchange (the lead window); both the model
    * (≤types² rows) and the eval are hash-aggs over the transition
    * table; the model broadcasts back.
    */
  def markovNextEventEval(
      events: DataFrame, userCol: String, tsCol: String, typeCol: String,
      splitTs: String): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("ts"))
    val trans = events
      .select(col(userCol).as("u"), col(tsCol).as("ts"),
        col(typeCol).as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .withColumn("nxt_ts", lead(col("ts"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("is_test", col("nxt_ts") >= to_timestamp(lit(splitTs)))
    val model = trans.filter(!col("is_test"))
      .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("c"))
      .groupBy(col("cur")).agg(
        sum(col("c")).as("n_train"),
        min(struct((-col("c")).as("negc"), col("nxt").as("t"))).as("best"))
      .select(col("cur"), col("n_train"), col("best.t").as("predicted"))
    val eval = trans.filter(col("is_test"))
      .groupBy(col("cur")).agg(count(lit(1)).as("n_test_all"))
    val correct = trans.filter(col("is_test"))
      .join(broadcast(model), Seq("cur"), "left_outer")
      .groupBy(col("cur")).agg(
        sum(when(col("nxt") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
    eval.join(correct, Seq("cur"))
      .join(broadcast(model), Seq("cur"), "left_outer")
      .select(col("cur").as("cur_type"), col("predicted"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        col("n_test_all").as("n_test"), col("n_correct"),
        Extensions.round4o(col("n_correct") / col("n_test_all"))
          .as("accuracy"))
  }

  /** x166: predict the next event type after the mid-month split. */
  def x166MarkovEval(s: SparkSession, dir: String): DataFrame =
    markovNextEventEval(Tables.load(s, dir, "events"), "user_id", "ts",
      "event_type", "2024-01-16 00:00:00")

  private val x166OracleSql: String = """
      WITH tr AS (
        SELECT user_id AS u, ts, event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS nxt_ts
        FROM events),
      t2 AS (SELECT *, nxt_ts >= TIMESTAMP '2024-01-16 00:00:00' AS is_test
             FROM tr WHERE nxt IS NOT NULL),
      cnt AS (SELECT cur, nxt, count(*) AS c FROM t2 WHERE NOT is_test
              GROUP BY cur, nxt),
      model AS (SELECT cur, CAST(sum(c) AS BIGINT) AS n_train,
                  min(struct_pack(negc := -c, t := nxt)).t AS predicted
                FROM cnt GROUP BY cur),
      ev AS (SELECT cur, count(*) AS n_test_all FROM t2 WHERE is_test GROUP BY cur),
      cor AS (SELECT t2.cur,
                CAST(sum(CASE WHEN t2.nxt = m.predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
              FROM t2 LEFT JOIN model m ON m.cur = t2.cur
              WHERE t2.is_test GROUP BY t2.cur)
      SELECT ev.cur AS cur_type, m.predicted,
             coalesce(m.n_train, 0) AS n_train,
             ev.n_test_all AS n_test, cor.n_correct,
             round(cor.n_correct * 1.0 / ev.n_test_all * 10000.0, 0) / 10000.0 AS accuracy
      FROM ev
      JOIN cor ON cor.cur = ev.cur
      LEFT JOIN model m ON m.cur = ev.cur
      ORDER BY cur_type"""

  // ---- x167: dedup funnel card -------------------------------------------------

  /** Docs and tokens surviving each dedup stage, with fractions of
    * raw: raw → exact (keep the min id per text digest) → near (drop
    * every doc_b of an x02 Jaccard pair ≥ `nearThreshold` among exact
    * survivors — the deterministic keep-smallest-id rule; a chain
    * A<B<C drops both B and C, the conservative answer). Output 3 rows:
    * (stage, stage_name, n_docs, n_tokens, doc_frac,
    * token_frac).
    *
    * Scale: exact stage is one digest hash-agg; the near stage runs
    * the x02 inverted-index pair join on the ALREADY exact-deduped
    * corpus (pairs shrink before the expensive step); the card itself
    * is three 1-row aggregates unioned.
    */
  def dedupFunnelCard(
      corpus: DataFrame, idCol: String, textCol: String,
      nearThreshold: Double = 0.8): DataFrame = {
    val base = Extensions.materialized(corpus.select(
      col(idCol).as("doc_id"), col(textCol).as("text"),
      size(filter(split(lower(col(textCol)), " "), t => length(t) > 0))
        .cast("long").as("n_tok"),
      md5(col(textCol)).as("digest")))
    // r15: keep-min-per-digest as a narrow agg + semi-join (the x216
    // shape) instead of a window — the window shuffled the full TEXT
    // column through its exchange; the agg moves (digest, doc_id) only
    // and the semi-join probes the checkpointed base (guide §2.3).
    // Same rows: doc_ids are unique, so min-per-digest ≡ the window's
    // doc_id === keep_id filter.
    val keepExact = base.groupBy(col("digest"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val exact = Extensions.materialized(
      base.join(keepExact, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), col("n_tok")))
    // Near-stage re-plan (sf1 scaling audit: exponent 1.28 before): the
    // x02 full-index pair join self-joins every shingle bucket, and ONE
    // corpus-wide boilerplate shingle — exactly what dedup exists to
    // fight — makes that bucket quadratic in the corpus. Route through
    // the provably-lossless x253 prefix filter: each doc's prefix keeps
    // only its RAREST shingles, so the hot term never seeds candidates,
    // and verify is per-candidate set intersection. Threshold
    // equivalence is exact, not approximate: round4(j) >= T  <=>
    // j >= T - 0.00005  <=>  the integer filter at (T·100000 − 5)/100000
    // — same pairs, bit-identical card (the x167 oracle still replays
    // the full-index join and must hash-match).
    val tNum = math.round(nearThreshold * 100000.0) - 5L
    val nearPairs = Extensions111.prefixFilterJaccardPairs(
      exact, "doc_id", "text", tNum, 100000L, shingleSize = 5)
    val near = exact.join(
      nearPairs.select(col("doc_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    def cardRow(df: DataFrame, stage: Int, name: String) =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .select(lit(stage).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("n_tokens"))
    val raw = cardRow(base, 0, "raw")
    val rows = raw.unionAll(cardRow(exact, 1, "exact_dedup"))
      .unionAll(cardRow(near, 2, "near_dedup"))
    val tot = raw.select(col("n_docs").as("td"), col("n_tokens").as("tt"))
    rows.crossJoin(broadcast(tot))
      .select(col("stage"), col("stage_name"), col("n_docs"), col("n_tokens"),
        Extensions.round4o(col("n_docs") / col("td")).as("doc_frac"),
        Extensions.round4o(col("n_tokens") / col("tt")).as("token_frac"))
  }

  /** x167: the funnel over base docs + planted exact copies (id%7==0 →
    * +2000000, same text) + planted near copies (id%5==0 → +1000000,
    * five appended tokens — jaccard ≈ 0.9).
    */
  def x167DedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val exactCopies = base.filter(pmod(col("doc_id"), lit(7L)) === 0L)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val nearCopies = base.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zz1 zz2 zz3 zz4 zz5")).as("text"))
    dedupFunnelCard(base.unionAll(exactCopies).unionAll(nearCopies),
      "doc_id", "text")
  }

  private val x167OracleSql: String = """
      WITH base0 AS (SELECT doc_id, text FROM documents),
      corpus AS (SELECT doc_id, text FROM base0
                 UNION ALL SELECT doc_id + 2000000, text FROM base0 WHERE doc_id % 7 = 0
                 UNION ALL SELECT doc_id + 1000000, text || ' zz1 zz2 zz3 zz4 zz5'
                 FROM base0 WHERE doc_id % 5 = 0),
      base AS (SELECT doc_id, text,
                 CAST(len(list_filter(string_split(lower(text), ' '),
                   t -> length(t) > 0)) AS BIGINT) AS n_tok,
                 md5(text) AS digest
               FROM corpus),
      exact AS (SELECT doc_id, text, n_tok FROM (
                  SELECT *, min(doc_id) OVER (PARTITION BY digest) AS keep_id
                  FROM base)
                WHERE doc_id = keep_id),
      d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM exact),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      drops AS (SELECT DISTINCT doc_b AS doc_id
                FROM pairs
                JOIN cnt ca ON ca.doc_id = doc_a
                JOIN cnt cb ON cb.doc_id = doc_b
                WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.8),
      nearr AS (SELECT e.doc_id, e.n_tok FROM exact e
                WHERE NOT EXISTS (SELECT 1 FROM drops dr WHERE dr.doc_id = e.doc_id)),
      rows_ AS (
        SELECT 0 AS stage, 'raw' AS stage_name, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM base
        UNION ALL SELECT 1, 'exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM exact
        UNION ALL SELECT 2, 'near_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM nearr),
      tot AS (SELECT n_docs AS td, n_tokens AS tt FROM rows_ WHERE stage = 0)
      SELECT stage, stage_name, n_docs, n_tokens,
             round(n_docs * 1.0 / td * 10000.0, 0) / 10000.0 AS doc_frac,
             round(n_tokens * 1.0 / tt * 10000.0, 0) / 10000.0 AS token_frac
      FROM rows_, tot
      ORDER BY stage"""

  val entries: Seq[Entry] = Seq(
    Entry("x166_markov_eval", x166MarkovEval _, x166OracleSql),
    Entry("x167_dedup_funnel", x167DedupFunnel _, x167OracleSql))
}
