package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Ninety-first extension batch — curation below the document:
  *
  *  - paragraph-granular dedup (x210): the one refinement real corpus
  *    pipelines (CCNet, RefinedWeb) run that doc-level dedup misses —
  *    boilerplate paragraphs (nav text, license footers, newsletter
  *    prompts) shared across otherwise-unique pages. Split each doc on
  *    blank lines, dedup at PARAGRAPH granularity (exact first, then
  *    near-dup through the existing shingle/pair machinery), and
  *    rewrite every doc with its surviving paragraphs in order — the
  *    x68 span-removal composition pattern one level up, with the x167
  *    funnel discipline inside.
  *
  * Determinism discipline: the keeper is always the smallest
  * (doc_id, paragraph-ordinal) — packed into one long key so the pair
  * chain's `a < b` IS the keep-first rule; Jaccard rounds to 4dp
  * before thresholding (the x02 contract); the rebuild orders by the
  * ordinal, never by arrival.
  */
object Extensions91 {

  // ---- x210: paragraph-granular dedup ------------------------------------------

  /** Per document: paragraph count, paragraphs dropped as cross-corpus
    * duplicates, and the text rebuilt from the survivors
    * ("\n\n"-joined, original paragraph order). Output:
    * (doc_id, n_paras, n_dropped, clean_text) — a doc whose every
    * paragraph is boilerplate rebuilds to ''.
    *
    * Two-stage funnel (the x167 discipline — the quadratic stage's
    * input shrinks first):
    *  1. EXACT: md5-group paragraphs, keep the smallest pid per group.
    *     A footer shared by a third of the corpus collapses to ONE
    *     representative here — before anything quadratic-ish sees it.
    *  2. NEAR: the x02 shingle/pair chain over the REPRESENTATIVES
    *     only; a pair (a, b), a < b at Jaccard ≥ `threshold` drops b
    *     (pairwise keep-first — deterministic, no closure needed).
    *
    * Key packing: pid = doc_id · 100000 + ordinal — one long key so
    * the whole existing pair machinery applies unchanged. Bound:
    * ≤ 100000 paragraphs/doc and doc_id ≤ ~9.2e13 (a 100 TB corpus is
    * ~1e12 docs — 92× headroom before the pack wraps).
    *
    * Scale: one text scan to paragraphs; the exact stage is one
    * digest hash-agg (only md5s + pids shuffle); the near stage is
    * the inverted-index pair join over already-exact-deduped
    * paragraphs (never all-pairs, and the hot boilerplate key is gone
    * before the join); the rebuild is one doc-keyed hash-agg. No
    * window over the corpus, no driver state.
    */
  def dedupParagraphs(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleSize: Int = 5): DataFrame = {
    val pk = Extensions.materialized(
      corpus
        .select(col(idCol).cast("long").as("doc_id"),
          posexplode(split(col(textCol), "\n\n")).as(Seq("p0", "pt0")))
        .select(col("doc_id"), (col("p0") + 1).as("pidx"), trim(col("pt0")).as("ptext"))
        .filter(length(col("ptext")) > 0)
        .select(col("doc_id"), col("pidx"), col("ptext"),
          // bounds ENFORCED, not just documented: an out-of-range doc_id
          // or a >100000-paragraph doc would silently collide pids across
          // documents and drop the wrong paragraphs under keep-first. The
          // check lives inside the pid expression itself (not a dropped
          // assert column) so column pruning cannot elide it.
          when(col("doc_id").between(0L, 92233720368546L) &&
              col("pidx") <= lit(100000L),
            col("doc_id") * lit(100000L) + col("pidx"))
            .otherwise(raise_error(concat(
              lit("dedupParagraphs: pid pack out of range (doc_id="),
              col("doc_id"), lit(", pidx="), col("pidx"),
              lit("); need 0 <= doc_id <= 9.2e13 and <= 100000 paragraphs/doc"))))
            .as("pid"),
          md5(col("ptext")).as("h")))
    val minp = pk.groupBy(col("h")).agg(min(col("pid")).as("pid"))
    val reps = Extensions.materialized(pk.join(minp, Seq("h", "pid"), "left_semi"))
    val nearDrop = Extensions.jaccardPairs(reps, "pid", "ptext", threshold, shingleSize)
      .select(col("doc_b").as("pid")).distinct()
    val kept = reps.join(nearDrop, Seq("pid"), "left_anti")
    val tot = pk.groupBy(col("doc_id")).agg(count(lit(1)).as("n_paras"))
    val reb = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pidx"), col("ptext")))),
          s => s.getField("ptext")),
        "\n\n").as("clean_text"))
    corpus.select(col(idCol).cast("long").as("doc_id"))
      .join(tot, Seq("doc_id"), "left_outer")
      .join(reb, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        (coalesce(col("n_paras"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  private val Boiler =
    "subscribe to our newsletter for updates all rights reserved terms of service apply"

  /** x210: every third fixture doc gains the same boilerplate footer
    * paragraph; the dedup must keep exactly one copy corpus-wide (in
    * the smallest carrying doc), drop the rest, and leave the organic
    * paragraphs to the near-dup rule.
    */
  def x210ParagraphDedup(s: SparkSession, dir: String): DataFrame =
    dedupParagraphs(
      Tables.load(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 0L,
          concat(col("text"), lit("\n\n" + Boiler)))
          .otherwise(col("text")).as("text")),
      "doc_id", "text")

  private val x210OracleSql: String = s"""
      WITH base AS (SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || chr(10) || chr(10) || '$Boiler'
                    ELSE text END AS text
             FROM documents),
      d AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM base),
      p0 AS (SELECT doc_id, i AS pidx, trim(ps[i]) AS ptext
             FROM d, UNNEST(generate_series(1, len(ps))) AS t(i)),
      pk AS (SELECT doc_id, pidx, ptext,
               doc_id * 100000 + pidx AS pid, md5(ptext) AS h
             FROM p0 WHERE len(ptext) > 0),
      mn AS (SELECT h, min(pid) AS pid FROM pk GROUP BY h),
      reps AS (SELECT pk.* FROM pk JOIN mn ON pk.h = mn.h AND pk.pid = mn.pid),
      tok AS (SELECT pid, string_split(lower(ptext), ' ') AS toks FROM reps),
      sh0 AS (SELECT pid, array_to_string(toks[i:i+4], ' ') AS sh
              FROM tok, UNNEST(generate_series(1,
                CASE WHEN len(toks) >= 5 THEN len(toks) - 4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT pid, sh FROM sh0),
      cnt AS (SELECT pid, count(*) AS n_sh FROM sh GROUP BY pid),
      pairs AS (SELECT a.pid AS pa, b.pid AS pb, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.pid < b.pid
                GROUP BY 1, 2),
      nd AS (SELECT DISTINCT pb AS pid FROM pairs
             JOIN cnt ca ON ca.pid = pairs.pa
             JOIN cnt cb ON cb.pid = pairs.pb
             WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
      kept AS (SELECT reps.* FROM reps LEFT JOIN nd ON reps.pid = nd.pid
               WHERE nd.pid IS NULL),
      tot AS (SELECT doc_id, count(*) AS n_paras FROM pk GROUP BY doc_id),
      reb AS (SELECT doc_id, count(*) AS n_kept,
                array_to_string(list(ptext ORDER BY pidx), chr(10) || chr(10)) AS clean_text
              FROM kept GROUP BY doc_id)
      SELECT b.doc_id,
             CAST(coalesce(tot.n_paras, 0) AS BIGINT) AS n_paras,
             CAST(coalesce(tot.n_paras, 0) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_dropped,
             coalesce(reb.clean_text, '') AS clean_text
      FROM base b
      LEFT JOIN tot ON tot.doc_id = b.doc_id
      LEFT JOIN reb ON reb.doc_id = b.doc_id
      ORDER BY b.doc_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x210_paragraph_dedup", x210ParagraphDedup _, x210OracleSql))
}
