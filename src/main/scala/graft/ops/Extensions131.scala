package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** One-hundred-thirty-first extension batch — three pipeline verbs
  * around "which copy do we keep and how do we compare quality across
  * sources":
  *
  *  - policy-driven dedup representatives (x293): near-dup clusters
  *    keep ONE member chosen by an explicit policy (source priority,
  *    then longest, then min id) — the production keep rule, where the
  *    min-id convention every CC pass uses is only a label, not a
  *    curation decision.
  *  - cross-source quantile normalization (x294): a per-source score
  *    is mapped to the global score at the same rank quantile — the
  *    empirical quantile transform that makes per-domain quality
  *    scores comparable before a global threshold is applied. The
  *    global side rides [[Rank.globalRank]]'s two-pass exact machinery
  *    (never a corpus-wide single window).
  *  - character-entropy card (x295): per-doc unigram codepoint entropy
  *    in exact integer micro-nats — the cheap screen for base64/hex
  *    blobs (high) and run-padded text (low) that token-level
  *    perplexity (x44/x258) does not see.
  *
  * Determinism: the x293 policy is a total order (rank, −len, id); the
  * x294 index mapping is the half-up integer formula on exact ranks;
  * x295 sums integer products of counts × micro-ln (never unordered
  * double addition — Σ over an unordered group of doubles is the one
  * nondeterminism a hash gate cannot forgive).
  */
object Extensions131 {

  // ---- x293: policy-driven dedup representatives -------------------------------

  /** One kept representative per near-dup cluster under an explicit
    * policy: lowest `rankCol` first (source priority), then largest
    * `sizeCol` (keep the fullest copy), then smallest id. Output one
    * row per CLUSTERED doc: (doc_id, component, rank/size columns,
    * keep) — singletons are not duplicates and are not emitted.
    *
    * Scale: pairs come from the lossless prefix filter (the x158/x167
    * routing); components are pair-graph-sized; the policy is one
    * window over cluster members (clusters, not corpus, drive the
    * partition count).
    */
  def dedupRepresentatives(
      corpus: DataFrame, idCol: String, textCol: String,
      rankCol: Column, sizeCol: Column,
      threshold: Double = 0.5, shingleSize: Int = 5): DataFrame = {
    val tNum = math.round(threshold * 100000.0) - 5L
    val pairs = Extensions111.prefixFilterJaccardPairs(
        corpus, idCol, textCol, tNum, 100000L, shingleSize)
      .select(col("doc_a"), col("doc_b"))
    val comp = Extensions2.connectedComponents(pairs, "doc_a", "doc_b")
    val members = corpus
      .select(col(idCol).as("doc_id"), rankCol.cast("long").as("src_rank"),
        sizeCol.cast("long").as("sz"))
      .join(comp, Seq("doc_id"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("src_rank"), col("sz").desc, col("doc_id"))
    members
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("component"), col("src_rank"), col("sz"),
        col("keep"))
  }

  /** x293: representatives of the fixture's 0.5-Jaccard clusters —
    * priority = the numeric source suffix (src3 beats src7), fullest
    * copy breaks ties, id last.
    */
  def x293DedupReps(s: SparkSession, dir: String): DataFrame =
    dedupRepresentatives(
      Tables.load(s, dir, "documents"), "doc_id", "text",
      substring(col("source"), 4, 10).cast("long"), col("n_chars"))

  /** The oracle replays the x02 pair chain (the prefix filter is
    * lossless, so the full bucket join yields identical pairs), the
    * recursive-CTE components, and the same policy window.
    */
  private val x293OracleSql: String = """
      WITH RECURSIVE
      d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1,
                CASE WHEN len(toks) >= 5 THEN len(toks) - 4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      jp AS (SELECT doc_a, doc_b FROM prs
             JOIN cnt ca ON ca.doc_id = doc_a
             JOIN cnt cb ON cb.doc_id = doc_b
             WHERE shared * 100000 >= 49995 * (ca.n_sh + cb.n_sh - shared)),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                UNION ALL SELECT doc_b, doc_a FROM jp),
      reach(node, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
      cc AS (SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node),
      mem AS (SELECT c.doc_id, cc.component,
                     CAST(substr(c.source, 4, 10) AS BIGINT) AS src_rank,
                     CAST(c.n_chars AS BIGINT) AS sz
              FROM documents c JOIN cc ON cc.doc_id = c.doc_id)
      SELECT doc_id, component, src_rank, sz,
             row_number() OVER (PARTITION BY component
               ORDER BY src_rank, sz DESC, doc_id) = 1 AS keep
      FROM mem
      ORDER BY doc_id"""

  // ---- x294: cross-source quantile normalization --------------------------------

  /** Empirical quantile transform: each row's `scoreCol` is replaced by
    * the GLOBAL score at the same rank quantile — per-source rank r of
    * n maps to global index 1 + halfup((r−1)·(N−1), n−1) (a single-row
    * source maps to the global median). Output: (id, group, score,
    * norm_score).
    *
    * Scale: one window per source partition (parallel across sources),
    * the global order through [[Rank.globalRank]]'s two-pass
    * range-partitioned machinery (a naive global window is a one-task
    * corpus sort), one long-keyed join from mapped index to global row.
    */
  def quantileMatch(
      rel: DataFrame, idCol: String, groupCol: String,
      scoreCol: String): DataFrame = {
    val base = rel.select(col(idCol).as("id"), col(groupCol).as("grp"),
      col(scoreCol).cast("long").as("score"))
    val g = Extensions.materialized(
      Rank.globalRank(base, Seq("score", "id"), Seq(false, false))
        .select(col("id"), col("grp"), col("score"), col("rn")))
    val nTotal = g.agg(max(col("rn")).as("n")).select(col("n"))
    val wSrc = Window.partitionBy(col("grp"))
      .orderBy(col("score"), col("id"))
    val ranked = g
      .withColumn("r", row_number().over(wSrc).cast("long"))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy(col("grp")))
        .cast("long"))
      .crossJoin(broadcast(nTotal))
      .withColumn("gidx",
        when(col("ns") > 1L,
          // width (r13 table): (r-1)·(n-1) wraps a long past ~2.1e9 rows
          // — the product rides DECIMAL; gidx <= n fits BIGINT by definition
          lit(1L) + expr("CAST((2 * CAST(r - 1 AS DECIMAL(38,0)) * (n - 1)" +
            " + (ns - 1)) DIV (2 * (ns - 1)) AS BIGINT)"))
          .otherwise(expr("(n + 1) DIV 2")))
    ranked
      .join(g.select(col("rn").as("gidx"), col("score").as("norm_score")),
        Seq("gidx"))
      .select(col("id"), col("grp"), col("score"), col("norm_score"))
  }

  /** x294: document length (n_chars) normalized across the 20 sources —
    * after the transform, every source's length distribution matches
    * the global one by construction.
    */
  def x294QuantileNorm(s: SparkSession, dir: String): DataFrame =
    quantileMatch(Tables.load(s, dir, "documents"),
      "doc_id", "source", "n_chars")
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("grp", "source")

  private val x294OracleSql: String = """
      WITH g AS (SELECT doc_id AS id, source AS grp,
                        CAST(n_chars AS BIGINT) AS score,
                        row_number() OVER (ORDER BY n_chars, doc_id) AS rn
                 FROM documents),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
      ranked AS (SELECT id, grp, score,
                        CAST(row_number() OVER (PARTITION BY grp
                          ORDER BY score, id) AS BIGINT) AS r,
                        CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS ns
                 FROM g),
      idx AS (SELECT id, grp, score,
                     CASE WHEN ns > 1
                          THEN 1 + (2 * (r - 1) * (n - 1) + (ns - 1))
                               // (2 * (ns - 1))
                          ELSE (n + 1) // 2 END AS gidx
              FROM ranked, nn)
      SELECT idx.id AS doc_id, idx.grp AS source, idx.score,
             g.score AS norm_score
      FROM idx JOIN g ON g.rn = idx.gidx
      ORDER BY doc_id"""

  // ---- x295: character-entropy card ---------------------------------------------

  /** Per-doc unigram codepoint Shannon entropy in exact integer
    * micro-nats: H_micro = halfup(Σ_c n_c · round(1e6·ln(L/n_c)), L).
    * Whitespace counts like any codepoint (a run-padded doc IS
    * low-entropy). Output: (doc_id, n_cp, entropy_micro).
    *
    * Exactness: the only float op is the per-(n_c, L) micro-ln of a
    * ratio of exact longs, rounded BEFORE the (integer) sum — never an
    * unordered sum of doubles. Scale: one explode to codepoint rows
    * (linear, the gram-index shape), one (doc, char) hash-agg, one doc
    * hash-agg.
    */
  def charEntropy(
      corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perChar = corpus
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("nc"))
    perChar
      .withColumn("l", sum(col("nc")).over(Window.partitionBy(col("doc_id"))))
      .withColumn("term", col("nc") *
        round(lit(1e6) * log(col("l").cast("double") / col("nc")), 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("l")).as("n_cp"), sum(col("term")).as("ts"))
      .select(col("doc_id"), col("n_cp"),
        expr("(ts * 2 + n_cp) DIV (2 * n_cp)").as("entropy_micro"))
  }

  def x295CharEntropy(s: SparkSession, dir: String): DataFrame =
    charEntropy(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x295OracleSql: String = """
      WITH ch AS (SELECT doc_id, u.c AS ch
                  FROM documents, UNNEST(string_split(text, '')) AS u(c)
                  WHERE length(u.c) > 0),
      pc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS nc
             FROM ch GROUP BY 1, 2),
      wl AS (SELECT doc_id, ch, nc,
                    sum(nc) OVER (PARTITION BY doc_id) AS l
             FROM pc),
      tm AS (SELECT doc_id, l,
                    nc * CAST(round(1e6 * ln(CAST(l AS DOUBLE) / nc), 0) AS BIGINT)
                      AS term
             FROM wl),
      agg AS (SELECT doc_id, CAST(max(l) AS BIGINT) AS n_cp,
                     CAST(sum(term) AS BIGINT) AS ts
              FROM tm GROUP BY doc_id)
      SELECT doc_id, n_cp, (ts * 2 + n_cp) // (2 * n_cp) AS entropy_micro
      FROM agg
      ORDER BY doc_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x293_dedup_reps", x293DedupReps _, x293OracleSql),
    Entry("x294_quantile_norm", x294QuantileNorm _, x294OracleSql),
    Entry("x295_char_entropy", x295CharEntropy _, x295OracleSql))
}
