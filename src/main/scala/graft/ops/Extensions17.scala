package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Seventeenth extension batch — data selection and dedup resolution:
  *
  *  - DSIR-style importance weighting (x71): Xie et al. 2023 ("Data
  *    Selection for Language Models via Importance Resampling") — score
  *    every corpus document by how much its hashed-bigram distribution
  *    looks like a TARGET subset vs the corpus at large; the weights
  *    drive resampling toward the target domain without a trained
  *    classifier.
  *  - duplicate-cluster resolution (x72): near-dup detection (x02/x18)
  *    says which docs are copies; this decides WHICH COPY SURVIVES —
  *    the full-corpus keep table (arg-max quality per component,
  *    singletons keep themselves) a release pipeline actually joins on.
  *  - BPE encoding (x73): apply a trained merge list ([[Extensions16
  *    .trainBpe]]) to the corpus — per-doc subword statistics under the
  *    shipped tokenizer, closing the train→encode loop.
  */
object Extensions17 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- x71: DSIR importance weights ------------------------------------------

  /** Hashed-bigram importance weights: per document, Σ over its bigram
    * occurrences of ln(p_target(b) / p_source(b)) with add-one smoothing
    * over `buckets` hash cells. Positive = looks like the target subset;
    * negative = looks like the rest. `targetPred` marks the target rows
    * INSIDE the corpus (a predicate, not a second table, so the whole
    * operator is one corpus scan).
    *
    * Scale: the (doc, bucket) bigram index materializes once and feeds
    * all three consumers (target counts, source counts, per-doc scoring);
    * both models live in ≤ `buckets` rows, joined back broadcast; the
    * per-doc score is one partial-aggregating sum. Hash buckets are the
    * portable 60-bit md5 (DuckDB replays bit-for-bit).
    */
  def importanceWeights(
      corpus: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 4096): DataFrame = {
    // bind the token array to a column BEFORE the per-bigram lambda —
    // an inline split() inside the lambda re-tokenizes the doc once per
    // bigram (O(n²/doc); same trap as gopherRuleCard, measured there)
    val tk = col("tk")
    val idx = Extensions.materialized(
      corpus
        .select(col(idCol).as("doc_id"), targetPred.as("is_target"),
          split(lower(col(textCol)), " ").as("tk"))
        .filter(size(tk) >= 2)
        .select(col("doc_id"), col("is_target"),
          explode(transform(sequence(lit(1), size(tk) - 1), i =>
            pmod(graft.functions.HashFunctions.md5_bucket60(
              concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))),
              lit(buckets.toLong)))).as("bucket")))
    // materialized: counts feeds BOTH the ratio table and the totals row —
    // unmaterialized, the bucket agg over the (corpus-sized) index ran
    // twice (measured in the executed plan; AQE reuse didn't fire across
    // the crossJoin boundary). ≤ buckets rows, so the checkpoint is free.
    val counts = Extensions.materialized(
      idx.groupBy(col("bucket")).agg(
        count(lit(1)).as("cs"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct")))
    val totals = counts.agg(sum(col("cs")).as("ts"), sum(col("ct")).as("tt"))
    // per-bucket log-ratio with add-one smoothing, exact integer inputs:
    // lr = ln(ct+1) - ln(tt+B) - ln(cs+1) + ln(ts+B)
    val ratio = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log(col("ct") + 1L) - log(col("tt") + lit(buckets.toLong))
          - log(col("cs") + 1L) + log(col("ts") + lit(buckets.toLong))).as("lr"))
    val scored = idx.join(broadcast(ratio), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lr")).as("w"))
    corpus.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(coalesce(col("w"), lit(0.0d)), 4).as("weight"))
  }

  /** x71: [[importanceWeights]] with lang = 'en' as the target domain. */
  def x71ImportanceWeights(s: SparkSession, dir: String): DataFrame =
    importanceWeights(docs(s, dir), "doc_id", "text", col("lang") === "en")

  private val x71OracleSql: String = {
    val b = 4096
    s"""
      WITH d AS (SELECT doc_id, lang = 'en' AS is_target,
                   string_split(lower(text), ' ') AS tk
                 FROM documents),
      idx AS (SELECT doc_id, is_target,
                     ('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 15))::BIGINT % $b AS bucket
              FROM d, UNNEST(generate_series(1, len(tk) - 1)) AS t(i)
              WHERE len(tk) >= 2),
      counts AS (SELECT bucket, count(*) AS cs,
                        sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
                 FROM idx GROUP BY bucket),
      tot AS (SELECT sum(cs) AS ts, sum(ct) AS tt FROM counts),
      ratio AS (SELECT bucket,
                       ln(ct + 1) - ln(tt + $b) - ln(cs + 1) + ln(ts + $b) AS lr
                FROM counts, tot),
      scored AS (SELECT idx.doc_id, count(*) AS n_bigrams, sum(lr) AS w
                 FROM idx JOIN ratio USING (bucket)
                 GROUP BY idx.doc_id)
      SELECT d.doc_id,
             coalesce(s.n_bigrams, 0) AS n_bigrams,
             round(coalesce(s.w, 0.0), 4) AS weight
      FROM d LEFT JOIN scored s ON d.doc_id = s.doc_id
      ORDER BY d.doc_id"""
  }

  // ---- x72: duplicate-cluster resolution -------------------------------------

  /** The full-corpus keep table after near-dup clustering: every document
    * with its duplicate component (its own id when unclustered) and a
    * keep flag — true for the component's best doc by (`quality` desc,
    * id asc), false for the copies it shadows. x18 labels the clustered
    * docs; this is the decision table the release join consumes, with an
    * explicit quality policy instead of "lowest id wins".
    *
    * Scale: components come from the size-gated CC over the pair graph
    * (graph-sized, not corpus-sized); the corpus join is one equi-join on
    * doc_id; the arg-max window partitions by component — bounded by the
    * largest duplicate cluster, never a global sort.
    */
  def resolveDuplicates(
      corpus: DataFrame, idCol: String, qualityCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val comp = Extensions2.connectedComponents(pairs, aCol, bCol)
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id"))
    corpus.select(col(idCol).as("doc_id"), col(qualityCol).as("quality"))
      .join(comp, Seq("doc_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("component"), col("quality"), col("keep"))
  }

  /** x72: [[resolveDuplicates]] over the x02 Jaccard pair graph with
    * n_chars as the quality policy (longest copy survives).
    */
  def x72ResolveDuplicates(s: SparkSession, dir: String): DataFrame =
    resolveDuplicates(docs(s, dir), "doc_id", "n_chars",
        Extensions.x02JaccardPairs(s, dir).select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")

  /** DuckDB replay: the x18 recursive-CTE components + quality window. */
  private val x72OracleSql: String = """
      WITH RECURSIVE
      d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      jpairs AS (SELECT doc_a, doc_b
                 FROM pairs
                 JOIN cnt ca ON ca.doc_id = doc_a
                 JOIN cnt cb ON cb.doc_id = doc_b
                 WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM jpairs
                UNION ALL SELECT doc_b, doc_a FROM jpairs),
      reach(node, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
      cc AS (SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node),
      full_t AS (SELECT doc.doc_id, coalesce(cc.component, doc.doc_id) AS component,
                        doc.n_chars AS quality
                 FROM documents doc LEFT JOIN cc ON doc.doc_id = cc.doc_id)
      SELECT doc_id, component, quality,
             row_number() OVER (PARTITION BY component
               ORDER BY quality DESC, doc_id) = 1 AS keep
      FROM full_t
      ORDER BY doc_id"""

  // ---- x73: BPE encoding -----------------------------------------------------

  /** Apply a trained BPE merge list to the corpus: per document, the
    * whitespace word count and the subword count after every merge (in
    * rank order) has been applied — the "how many tokens does my corpus
    * cost under this tokenizer" statistic that gates context budgeting.
    *
    * Scale: merges apply to the DISTINCT-WORD table (vocabulary-sized,
    * one corpus scan to build), one map-side greedy `aggregate`-HOF
    * rewrite per merge — corpus-size-independent loop cost, same shape
    * as [[Extensions16.trainBpe]]. The per-word subword count then joins
    * back onto exploded corpus tokens (equi-join on the word) and sums
    * per document.
    */
  def applyBpe(
      corpus: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val words0 = Extensions.materialized(
      corpus.select(explode(toks).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .select(col("w"), split(col("w"), "").as("syms")))
    val encoded = merges.foldLeft(words0) { case (words, (l, r)) =>
      words.select(col("w"),
        aggregate(col("syms"), array().cast("array<string>"), (acc, s) =>
          when(try_element_at(acc, lit(-1)) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(s)))).as("syms"))
    }
    val wordCost = encoded.select(col("w"), size(col("syms")).cast("long").as("n_sub"))
    corpus.select(col(idCol).as("doc_id"), explode(toks).as("w"))
      .filter(length(col("w")) > 0)
      .join(wordCost, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
  }

  /** x73: encode the fixture under its own 12-merge BPE (train + apply —
    * the shipped-tokenizer loop end to end). The DuckDB oracle extends
    * x69's generated merge chain ([[Extensions16.bpeOracleChain]]): the
    * final rewritten word table's symbol count is len(enc) minus
    * len(enc without markers), joined back onto exploded corpus tokens.
    * Also pinned by Extensions17Spec against a reference encoder.
    */
  def x73BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val merges = Extensions16.fixtureMerges(s, dir).map(m => (m._2, m._3))
    applyBpe(d, "doc_id", "text", merges)
  }

  private val x73OracleSql: String = Extensions16.bpeOracleChain(12) + """,
    cost AS (SELECT w, len(enc) - len(replace(enc, chr(31), '')) AS n_sub FROM w12)
    SELECT doc_id, count(*) AS n_words, sum(n_sub)::BIGINT AS n_subwords
    FROM tok JOIN cost USING (w)
    GROUP BY doc_id ORDER BY doc_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x71_importance_weights", x71ImportanceWeights _, x71OracleSql),
    Entry("x72_resolve_duplicates", x72ResolveDuplicates _, x72OracleSql),
    Entry("x73_bpe_encode", x73BpeEncode _, x73OracleSql))
}
