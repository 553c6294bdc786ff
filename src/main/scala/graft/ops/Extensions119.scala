package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-nineteenth extension batch — the unigram-LM tokenizer's
  * PRUNE SCHEDULE (round-9 verdict item 8): x263 shipped hard-EM with a
  * fixed two-round schedule and a vocabulary that only shrinks by
  * disuse; real SentencePiece training interleaves EM with an explicit
  * prune — each round keeps only the top share of pieces by loss
  * contribution, forcing the model to re-segment under a tighter
  * vocabulary before the next estimate.
  *
  * x268 trains rounds=3 with a 50% per-round multi-char prune (single
  * chars pinned — every word stays segmentable); x269 re-runs the x264
  * fertility card on the PRUNED vocabulary, showing the datasheet
  * consequence: fewer pieces → higher fertility, priced per document.
  *
  * Determinism: loss contribution = cnt · cost is an exact integer
  * (cost is the x263 integer micro-nat), the kept count is integer
  * arithmetic ((n·permille + 999) DIV 1000), ties break on the piece
  * string — so the DuckDB oracle replays all three pruned rounds by
  * the same exhaustive path enumeration x263 uses, extended with the
  * prune CTE between rounds.
  */
object Extensions119 {

  private val Permille = 500

  /** The prune step as oracle SQL: rank cost$i's multi-char pieces by
    * integer loss contribution, keep the top permille share plus every
    * single char, recost over the kept mass — the table the NEXT round
    * segments under.
    */
  private def pruneRound(i: Int, pieceTable: String): String =
    Extensions116.pathRound(i, pieceTable) + s""",
    nm$i AS (SELECT CAST(count(*) AS BIGINT) AS nm FROM cost$i
             WHERE length(piece) > 1),
    keep$i AS MATERIALIZED (
      SELECT piece, cnt FROM (
        SELECT piece, cnt,
               row_number() OVER (ORDER BY cnt * cost DESC, piece) AS rk
        FROM cost$i WHERE length(piece) > 1), nm$i
      WHERE rk <= (nm * $Permille + 999) // 1000
      UNION ALL
      SELECT piece, cnt FROM cost$i WHERE length(piece) = 1),
    tk$i AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM keep$i),
    pcost$i AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round(1e6 * ln(CAST(t.t AS DOUBLE) / cnt), 0) AS BIGINT) AS cost
      FROM keep$i, tk$i t)"""

  /** x268: 40-piece unigram-LM vocabulary, three hard-EM rounds with a
    * 50% per-round loss-contribution prune.
    */
  def x268UnigramPruned(s: SparkSession, dir: String): DataFrame =
    Extensions116.unigramPieces(Tables.load(s, dir, "documents"), "text",
      iters = 3, keepPermille = Permille)

  /** x269: the x264 fertility card re-run on the PRUNED vocabulary. */
  def x269FertilityPruned(s: SparkSession, dir: String): DataFrame =
    Extensions116.unigramFertility(Tables.load(s, dir, "documents"),
      "doc_id", "text", iters = 3, keepPermille = Permille)

  private val x268OracleSql: String =
    Extensions116.oracleHead + "," +
      pruneRound(1, "cost0") + "," +
      pruneRound(2, "pcost1") + "," +
      pruneRound(3, "pcost2") + """
      SELECT piece, cnt, cost FROM pcost3
      ORDER BY cnt DESC, piece
      LIMIT 40"""

  private val x269OracleSql: String =
    Extensions116.oracleHead + "," +
      pruneRound(1, "cost0") + "," +
      pruneRound(2, "pcost1") + "," +
      pruneRound(3, "pcost2") + "," +
      Extensions116.segOnly(4, "pcost3") + """,
    dw AS (SELECT doc_id, u.w
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
                 FROM documents), UNNEST(tk) AS u(w)
           WHERE u.w <> '')
      SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(b.np) AS BIGINT) AS n_pieces,
             CAST((sum(b.np) * 2000000 + count(*)) // (2 * count(*)) AS BIGINT)
               AS fertility_micro
      FROM dw JOIN best4 b ON b.w = dw.w
      GROUP BY dw.doc_id
      ORDER BY dw.doc_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x268_unigram_pruned", x268UnigramPruned _, x268OracleSql),
    Entry("x269_fertility_pruned", x269FertilityPruned _, x269OracleSql))
}
