package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-sixteenth extension batch — the OTHER tokenizer family:
  *
  * Unigram-LM tokenizer training (x263): the SentencePiece estimator
  * (Kudo 2018) next to the BPE loop (x69). BPE GROWS a vocabulary by
  * greedy pair merging; unigram-LM SHRINKS one: seed with every
  * frequent substring, then alternate (a) Viterbi-segmenting the word
  * table under the current piece costs and (b) re-estimating piece
  * probabilities from the segmentation counts — hard-EM, the
  * deterministic variant. Pieces that no segmentation uses drop out;
  * single characters are pinned (floor count 1) so every word stays
  * segmentable.
  *
  * Semantics chosen to be exactly replayable:
  *  - cost(piece) = round(1e6 · ln(T / cnt)) — integer micro-nats, the
  *    only float op is the ln both engines compute on the same integers;
  *  - Viterbi tie rule: minimal cost, then the LARGEST piece at each
  *    position (evaluated right-to-left in the backtrack). That
  *    per-position rule equals the GLOBAL rule "among min-cost
  *    segmentations, maximize the reversed piece-length sequence
  *    lexicographically" (induction on the suffix: the last piece of
  *    the DP choice is the largest k with best(L−k) + c = best(L), and
  *    the rest is the DP choice for L−k) — which is what the oracle's
  *    exhaustive path enumeration sorts by. The DP is the 100 TB shape
  *    (O(len·maxK) per DISTINCT word, inside one codegen'd HOF); the
  *    enumeration is oracle-only (2^(len−1) paths caps at fixture word
  *    lengths).
  */
object Extensions116 {

  private val Big = 1L << 60

  /** (piece, cnt, cost_micro) after `iters` hard-EM rounds, top `topN`
    * by (final count desc, piece asc).
    *
    * Scale shape: ONE corpus scan builds the distinct-word table;
    * everything after runs on (distinct words × substring grid) —
    * candidate counts by hash-agg, the Viterbi DP as a per-word
    * `aggregate` HOF over a collected (pos, len, cost) step list (the
    * piece table broadcast-joins onto the grid), the E-step one explode
    * + hash-agg. Per-iteration cost is O(words · len · maxK),
    * corpus-size-independent — the x69 loop discipline.
    */
  def unigramPieces(
      corpus: DataFrame, textCol: String, maxK: Int = 6, minCount: Long = 4,
      iters: Int = 2, topN: Int = 40, keepPermille: Int = 1000): DataFrame =
    unigramVocab(corpus, textCol, maxK, minCount, iters, keepPermille)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(topN)
      .select(col("piece"), col("cnt"), col("cost"))

  /** The FULL trained vocabulary (piece, cnt, cost) after `iters`
    * hard-EM rounds — [[unigramPieces]] is its top slice; the encode
    * path (x264) segments under all of it.
    *
    * `keepPermille < 1000` adds the SentencePiece prune schedule
    * (round-9 item 8): after each round's recount, multi-char pieces
    * rank by LOSS CONTRIBUTION — cnt · cost, the total micro-nats the
    * piece pays into the corpus segmentation under this round's model,
    * an exact integer both engines compute identically — and only the
    * top ⌈keepPermille/1000⌉ share survives into the next round
    * (single chars are pinned: every word must stay segmentable). The
    * kept count is integer arithmetic ((n·permille + 999) DIV 1000),
    * never a float boundary. The rank window is a single partition BY
    * DESIGN: it ranks the O(vocab) model table (thousands of rows),
    * not data — the same driver-adjacent scale as the EM loop itself.
    */
  def unigramVocab(
      corpus: DataFrame, textCol: String, maxK: Int = 6, minCount: Long = 4,
      iters: Int = 2, keepPermille: Int = 1000): DataFrame = {
    require(iters >= 1 && keepPermille >= 1 && keepPermille <= 1000)
    val words = Extensions.materialized(
      corpus.select(explode(split(lower(col(textCol)), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("wn")))
    // substring instance grid: (piece, wn) per occurrence
    val grid = words.select(col("wn"), explode(flatten(transform(
      sequence(lit(1), length(col("w"))),
      i => transform(
        sequence(lit(1), least(lit(maxK), length(col("w")) - i + 1)),
        k => col("w").substr(i, k))))).as("piece"))
    var pieces = Extensions.materialized(
      grid.groupBy(col("piece")).agg(sum(col("wn")).as("cnt"))
        .filter(col("cnt") >= minCount || length(col("piece")) === 1))
    val chars = Extensions.materialized(
      pieces.filter(length(col("piece")) === 1).select(col("piece")))
    for (_ <- 1 to iters) {
      val segmented = viterbiSegment(words, withCost(pieces), maxK)
      val counts = segmented
        .select(col("wn"), explode(col("pieces")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wn")).as("cnt"))
      val merged = counts.join(chars, Seq("piece"), "full")
        .select(col("piece"), greatest(coalesce(col("cnt"), lit(0L)),
          when(length(col("piece")) === 1, 1L).otherwise(0L)).as("cnt"))
        .filter(col("cnt") >= 1)
      pieces = Extensions.materialized(
        if (keepPermille >= 1000) merged
        else {
          val costed = Extensions.materialized(withCost(merged))
          val nMulti = costed.filter(length(col("piece")) > 1).count()
          val keepN = (nMulti * keepPermille + 999L) / 1000L
          val w = org.apache.spark.sql.expressions.Window
            .orderBy((col("cnt") * col("cost")).desc, col("piece"))
          costed.filter(length(col("piece")) > 1)
            .withColumn("rk", row_number().over(w))
            .filter(col("rk") <= keepN)
            .select(col("piece"), col("cnt"))
            .unionByName(costed.filter(length(col("piece")) === 1)
              .select(col("piece"), col("cnt")))
        })
    }
    withCost(pieces)
  }

  /** cost = round(1e6 · ln(T / cnt)) — T is one broadcast scalar. */
  private def withCost(pieces: DataFrame): DataFrame =
    pieces.crossJoin(broadcast(pieces.agg(sum(col("cnt")).as("t"))))
      .withColumn("cost",
        round(lit(1e6) * log(col("t").cast("double") / col("cnt")), 0)
          .cast("long"))
      .select(col("piece"), col("cnt"), col("cost"))

  /** Viterbi segmentation of every distinct word under the given piece
    * costs: (w, wn, pieces array). DP and backtrack run inside two
    * `aggregate` HOFs per word; the candidate steps arrive as one
    * broadcast-joined, collected (pos, len, cost) list.
    */
  private[graft] def viterbiSegment(
      words: DataFrame, pieceCosts: DataFrame, maxK: Int): DataFrame = {
    val steps = words
      .select(col("w"), col("wn"), explode(flatten(transform(
        sequence(lit(1), length(col("w"))),
        p => transform(
          sequence(lit(1), least(lit(maxK), p)),
          k => struct(p.as("p"), k.as("k"),
            col("w").substr(p - k + 1, k).as("piece")))))).as("s"))
      .join(broadcast(pieceCosts), col("s.piece") === pieceCosts("piece"))
      .groupBy(col("w"), col("wn"))
      .agg(collect_list(struct(col("s.p").as("p"), col("s.k").as("k"),
        col("cost").as("c"))).as("steps"))
    // dp: array over positions 0..L of struct(c, k); acc(p+1) = position p
    val dp = aggregate(
      sequence(lit(1), length(col("w"))),
      array(struct(lit(0L).as("c"), lit(0).as("k"))),
      (acc, p) => {
        val opts = filter(
          transform(
            filter(col("steps"), s => s.getField("p") === p),
            s => struct(
              (element_at(acc, p - s.getField("k") + 1).getField("c")
                + s.getField("c")).as("c"),
              (-s.getField("k")).as("nk"),
              s.getField("k").as("k"))),
          o => o.getField("c") < Big)
        concat(acc, array(
          when(size(opts) > 0,
            struct(array_min(opts).getField("c").as("c"),
              array_min(opts).getField("k").as("k")))
          .otherwise(struct(lit(Big).as("c"), lit(0).as("k")))))
      })
    // backtrack from L using the chosen k at each reached position
    val walked = aggregate(
      sequence(lit(1), length(col("w"))),
      struct(length(col("w")).as("pos"),
        array().cast("array<string>").as("ps")),
      (a, _) => when(a.getField("pos") > 0,
        struct(
          (a.getField("pos")
            - element_at(col("dp"), a.getField("pos") + 1).getField("k")).as("pos"),
          concat(a.getField("ps"), array(col("w").substr(
            a.getField("pos")
              - element_at(col("dp"), a.getField("pos") + 1).getField("k") + 1,
            element_at(col("dp"), a.getField("pos") + 1).getField("k"))))
            .as("ps")))
        .otherwise(a))
    steps
      .withColumn("dp", dp)
      .withColumn("pieces", reverse(walked.getField("ps")))
      .select(col("w"), col("wn"), col("pieces"))
  }

  /** x263: 40-piece unigram-LM vocabulary over the documents fixture
    * (two hard-EM rounds); the oracle replays both rounds by exhaustive
    * segmentation-path enumeration under the global tie rule.
    */
  def x263UnigramPieces(s: SparkSession, dir: String): DataFrame =
    unigramPieces(Tables.load(s, dir, "documents"), "text")

  // ---- x264: encode under the trained vocabulary --------------------------------

  /** Per-document tokenization card under the TRAINED unigram vocab:
    * (doc_id, n_words, n_pieces, fertility_micro) — fertility = pieces
    * per word, the number a tokenizer ships on its datasheet (x104's
    * BPE fit report is the sibling). One segmentation of the DISTINCT
    * word table (the trained artifact applied once), broadcast back
    * onto the per-doc word stream; fertility renders half-up micro.
    */
  def unigramFertility(
      corpus: DataFrame, idCol: String, textCol: String, maxK: Int = 6,
      minCount: Long = 4, iters: Int = 2, keepPermille: Int = 1000): DataFrame = {
    val vocab = unigramVocab(corpus, textCol, maxK, minCount, iters, keepPermille)
    val words = corpus.select(explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
    val perWord = viterbiSegment(words, vocab, maxK)
      .select(col("w"), size(col("pieces")).cast("long").as("np"))
    corpus.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(perWord), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        expr("CAST((n_pieces * 2000000 + n_words) DIV (n_words * 2) AS BIGINT)")
          .as("fertility_micro"))
  }

  /** x264: the trained-vocab fertility card over the fixture docs. */
  def x264UnigramFertility(s: SparkSession, dir: String): DataFrame =
    unigramFertility(Tables.load(s, dir, "documents"), "doc_id", "text")

  private[ops] def pathRound(i: Int, pieceTable: String): String = s"""
    seg$i AS (
      SELECT w, wn, 0 AS pos, CAST([] AS VARCHAR[]) AS pcs,
             CAST([] AS BIGINT[]) AS lens, CAST(0 AS BIGINT) AS cost
      FROM words
      UNION ALL
      SELECT s.w, s.wn, s.pos + length(c.piece),
             list_append(s.pcs, c.piece),
             list_append(s.lens, CAST(length(c.piece) AS BIGINT)),
             s.cost + c.cost
      FROM seg$i s JOIN $pieceTable c
        ON c.piece = substr(s.w, s.pos + 1, length(c.piece))),
    best$i AS (
      SELECT w, wn, pcs FROM (
        SELECT *, row_number() OVER (PARTITION BY w
                    ORDER BY cost, list_reverse(lens) DESC) AS rk
        FROM seg$i WHERE pos = length(w)) WHERE rk = 1),
    cnt$i AS (SELECT u.piece, CAST(sum(b.wn) AS BIGINT) AS cnt
              FROM best$i b, UNNEST(b.pcs) AS u(piece) GROUP BY 1),
    pieces$i AS MATERIALIZED (
      SELECT piece, greatest(COALESCE(c.cnt, CAST(0 AS BIGINT)),
               CAST(CASE WHEN length(piece) = 1 THEN 1 ELSE 0 END AS BIGINT)) AS cnt
      FROM (SELECT piece FROM cnt$i UNION SELECT piece FROM chars) p
      LEFT JOIN cnt$i c USING (piece)
      WHERE COALESCE(c.cnt, 0) >= 1 OR length(piece) = 1),
    t$i AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM pieces$i),
    cost$i AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round(1e6 * ln(CAST(t.t AS DOUBLE) / cnt), 0) AS BIGINT) AS cost
      FROM pieces$i, t$i t)"""

  private[ops] val oracleHead: String = """WITH RECURSIVE tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
    words AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS wn FROM tok WHERE w <> '' GROUP BY 1),
    grid AS (
      SELECT substr(w, i, k) AS piece, wn
      FROM words,
           UNNEST(generate_series(1, length(w))) AS gi(i),
           UNNEST(generate_series(1, least(6, length(w) - i + 1))) AS gk(k)),
    cands AS MATERIALIZED (
      SELECT piece, CAST(sum(wn) AS BIGINT) AS cnt FROM grid GROUP BY 1
      HAVING sum(wn) >= 4 OR length(piece) = 1),
    chars AS MATERIALIZED (SELECT piece FROM cands WHERE length(piece) = 1),
    t0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cands),
    cost0 AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round(1e6 * ln(CAST(t.t AS DOUBLE) / cnt), 0) AS BIGINT) AS cost
      FROM cands, t0 t)"""

  private val x263OracleSql: String =
    oracleHead + "," + pathRound(1, "cost0") + "," + pathRound(2, "cost1") + """
      SELECT piece, cnt, cost FROM cost2
      ORDER BY cnt DESC, piece
      LIMIT 40"""

  /** The trained-vocab segmentation of round `i` only (no recount) —
    * x264's oracle applies cost2 once more and reads piece counts.
    */
  private[ops] def segOnly(i: Int, pieceTable: String): String = s"""
    seg$i AS (
      SELECT w, wn, 0 AS pos, CAST([] AS VARCHAR[]) AS pcs,
             CAST([] AS BIGINT[]) AS lens, CAST(0 AS BIGINT) AS cost
      FROM words
      UNION ALL
      SELECT s.w, s.wn, s.pos + length(c.piece),
             list_append(s.pcs, c.piece),
             list_append(s.lens, CAST(length(c.piece) AS BIGINT)),
             s.cost + c.cost
      FROM seg$i s JOIN $pieceTable c
        ON c.piece = substr(s.w, s.pos + 1, length(c.piece))),
    best$i AS (
      SELECT w, CAST(len(pcs) AS BIGINT) AS np FROM (
        SELECT *, row_number() OVER (PARTITION BY w
                    ORDER BY cost, list_reverse(lens) DESC) AS rk
        FROM seg$i WHERE pos = length(w)) WHERE rk = 1)"""

  private val x264OracleSql: String = {
    val head = x263OracleSql.substring(0, x263OracleSql.indexOf(
      "\n      SELECT piece, cnt, cost FROM cost2"))
    head + "," + segOnly(3, "cost2") + """,
    dw AS (SELECT doc_id, u.w
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
                 FROM documents), UNNEST(tk) AS u(w)
           WHERE u.w <> '')
      SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(b.np) AS BIGINT) AS n_pieces,
             CAST((sum(b.np) * 2000000 + count(*)) // (2 * count(*)) AS BIGINT)
               AS fertility_micro
      FROM dw JOIN best3 b ON b.w = dw.w
      GROUP BY dw.doc_id
      ORDER BY dw.doc_id"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x263_unigram_pieces", x263UnigramPieces _, x263OracleSql),
    Entry("x264_unigram_fertility", x264UnigramFertility _, x264OracleSql))
}
