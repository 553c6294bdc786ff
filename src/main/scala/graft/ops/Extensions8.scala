package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Eighth extension batch — tokenizer and curriculum preparation: BPE
  * first-merge pair statistics (the corpus-level count table a
  * byte-pair-encoding trainer consumes each merge round), curriculum
  * difficulty-decile assignment via broadcast exact boundaries (no global
  * window — the scale-safe form of `ntile` over a corpus), and
  * split-document stitching candidates (chunked-crawl reassembly by
  * suffix↔prefix token match).
  */
object Extensions8 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- BPE pair statistics ---------------------------------------------------

  /** Adjacent character-pair counts over all token occurrences — the
    * statistic that drives a BPE tokenizer's merge selection (the
    * highest-count pair becomes the next merge rule). One merge round of
    * the Sennrich BPE procedure, distributed: re-running after applying a
    * merge (replacing the pair with a fused symbol map-side) iterates the
    * training loop; this operator is the per-round heavy lift.
    *
    * Scale: tokenize + per-token char-pair explode is map-only into a
    * pair-cardinality hash-agg (≤ |alphabet|² keys — hundreds) with
    * map-side partial aggregation, then a top-k cut
    * (TakeOrderedAndProject, never a full sort). 100 TB costs one scan;
    * the shuffle carries only (pair, partial-count) rows.
    */
  def bpePairStats(
      corpus: DataFrame, textCol: String, topK: Int): DataFrame = {
    val tk = split(lower(col(textCol)), " ")
    corpus
      .select(explode(tk).as("tok"))
      .filter(length(col("tok")) >= 2)
      // explode the pair list directly: one generate + substr per token,
      // no intermediate (tok, i) row blow-up carrying the token string
      .select(explode(transform(
        sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /** x51: top-20 adjacent character pairs over the documents fixture. */
  def x51BpePairStats(s: SparkSession, dir: String): DataFrame =
    bpePairStats(docs(s, dir), "text", topK = 20)

  // ---- curriculum decile assignment ------------------------------------------

  /** Difficulty-decile curriculum assignment WITHOUT a global window:
    * compute the exact interpolated decile boundaries of `valCol` in one
    * aggregate, broadcast the O(9) boundary row, and assign each document
    * `bucket = 1 + #(boundaries strictly below its value)` map-side. The
    * semantics of `ntile(10) OVER (ORDER BY val)` up to boundary-tie
    * placement — but the plan is a scalar agg + a map stage, where ntile
    * would funnel the entire corpus through ONE partition. Boundaries are
    * rounded to 4 decimals before comparison so the strictly-below test
    * is reproducible across engines.
    *
    * Scale: one percentile aggregate (sort-based, but distributed) + one
    * broadcast + one map pass. This is the curriculum/bucketing shape
    * that survives 100 TB; global ntile does not.
    */
  def curriculumDeciles(
      corpus: DataFrame, idCol: String, valCol: String): DataFrame = {
    val bounds = corpus.agg(
      percentile(col(valCol), array((1 to 9).map(i => lit(i / 10.0)): _*))
        .as("bs"))
      .select(transform(col("bs"), b => round(b, 4)).as("bs"))
    corpus.crossJoin(broadcast(bounds))
      .select(col(idCol), col(valCol),
        (lit(1L) + aggregate(col("bs"), lit(0L),
          (acc, b) => acc + when(col(valCol) > b, 1L).otherwise(0L)))
          .as("decile"))
  }

  /** x52: [[curriculumDeciles]] on document length (short→long
    * curriculum) over the fixture.
    */
  def x52CurriculumDeciles(s: SparkSession, dir: String): DataFrame =
    curriculumDeciles(docs(s, dir), "doc_id", "n_chars")

  // ---- split-document stitching ----------------------------------------------

  /** Split-document stitching candidates: document pairs where A's last
    * `k` tokens equal B's first `k` tokens — the signature of one source
    * document split across chunk boundaries by a crawler or a chunking
    * stage (the inverse of [[Extensions3]]'s x36 strided chunking, whose
    * window/stride overlap produces exactly this suffix↔prefix match).
    *
    * Scale: each doc contributes ONE head key and ONE tail key (the
    * k-token boundary string); candidates come from the tail→head
    * equi-join — work scales with boundary-key postings, never docs².
    * The boundary text doubles as the join key and the audit column.
    */
  def stitchCandidates(
      corpus: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val tk = split(lower(col(textCol)), " ")
    val keyed = Extensions.materialized(corpus
      .select(col(idCol).as("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("doc_id"),
        concat_ws(" ", slice(col("tk"), 1, k)).as("head"),
        concat_ws(" ", slice(col("tk"), -k, k)).as("tail")))
    keyed.as("a").join(keyed.as("b"),
        col("a.tail") === col("b.head")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.tail").as("boundary"))
  }

  /** x53: [[stitchCandidates]] over the documents fixture at k = 3. */
  def x53StitchCandidates(s: SparkSession, dir: String): DataFrame =
    stitchCandidates(docs(s, dir), "doc_id", "text")

  val entries: Seq[Entry] = Seq(
    Entry("x51_bpe_pairs", x51BpePairStats _, """
      WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      p AS (SELECT substr(tok, g.i, 2) AS pair
            FROM t, UNNEST(generate_series(1, len(tok) - 1)) AS g(i)
            WHERE len(tok) >= 2)
      SELECT pair, count(*) AS n FROM p GROUP BY 1
      ORDER BY n DESC, pair LIMIT 20"""),
    Entry("x52_curriculum_deciles", x52CurriculumDeciles _, """
      WITH b AS (SELECT list_transform(
                   quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                   x -> round(x, 4)) AS bs FROM documents)
      SELECT doc_id, n_chars,
             CAST(1 + len(list_filter(bs, x -> n_chars > x)) AS BIGINT) AS decile
      FROM documents, b ORDER BY doc_id"""),
    Entry("x53_stitch_candidates", x53StitchCandidates _, """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      hk AS (SELECT doc_id, array_to_string(tk[1:3], ' ') AS head,
                    array_to_string(tk[-3:], ' ') AS tail
             FROM d WHERE len(tk) >= 3)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail AS boundary
      FROM hk a JOIN hk b ON a.tail = b.head AND a.doc_id <> b.doc_id
      ORDER BY doc_a, doc_b"""))
}
