package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-twenty-eighth extension batch — three operator families
  * the inventory lacked:
  *
  *  - GENERATION-EVAL METRICS (x280): corpus BLEU components (clipped
  *    modified n-gram precisions, log brevity penalty) and ROUGE-N
  *    recall (Papineni et al. 2002; Lin 2004) — the machine-translation
  *    metric pair every generation/distillation eval reports. Bound
  *    here as a STRIP-FIDELITY card: candidate = each document's
  *    x68-cleaned text, reference = its original, so the card measures
  *    exactly what the span-strip cost in n-gram fidelity (the x279
  *    exactness card's semantic sibling).
  *
  *  - LINK-PREDICTION SCORES (x281): the common-neighbor family over
  *    the one-mode supplier projection of the customer–supplier
  *    purchase graph — common neighbors, resource allocation (Zhou et
  *    al. 2009), Adamic–Adar (2003), preferential attachment. The
  *    graph tier had ranking/communities/cores; it lacked the "which
  *    edge forms next" scores every graph-ML baseline starts from.
  *
  *  - PHONETIC-KEY BLOCKING (x282): a Soundex-style consonant-class
  *    key (documented simplified variant: first letter + first three
  *    consonant-class digits, runs collapsed, vowels/h/w/y dropped) as
  *    a fourth blocking family for record linkage — catches the
  *    sound-alike misspellings edit-distance blocking pays quadratic
  *    candidates for.
  *
  * Determinism: every ratio renders by the half-up integer formula on
  * non-negative numerators (negatives are negated before the div —
  * Spark `div` truncates toward zero while DuckDB `//` floors, so a
  * negative numerator must never reach either); ln is the single float
  * op per value, applied to exact integer rationals and rounded to
  * micro before any further integer arithmetic; log-BLEU is emitted
  * DOUBLED (`2·logBP + ln p1 + ln p2`) so no integer halving of a
  * possibly-negative sum is ever needed.
  */
object Extensions128 {

  // ---- x280: strip-fidelity BLEU/ROUGE ---------------------------------------

  /** Per document: BLEU-2 components and ROUGE-1/2 recall of the
    * x68-cleaned text (candidate) against the original (reference).
    * Columns: (doc_id, c1, r1, m1, m2, p1_micro, p2_micro,
    * log_bp_micro, log_bleu2_x2_micro, rouge1_recall_micro,
    * rouge2_recall_micro). A fully-stripped candidate yields nulls
    * (nothing to score); docs with no bigrams yield null bigram
    * columns.
    *
    * Scale: two corpus text scans (the strip + this card's gram
    * explodes); gram matching is an equi-join on (doc_id, gram) —
    * per-doc, never cross-doc, so it partitions on doc_id and carries
    * counts, not text.
    */
  def stripFidelityCard(
      corpus: DataFrame, idCol: String, textCol: String, stripN: Int = 5): DataFrame = {
    val cleaned = Extensions16.stripDuplicateSpans(corpus, idCol, textCol, stripN)
      .select(col("doc_id"), col("clean_text"))
    val base = corpus.select(col(idCol).as("doc_id"), col(textCol).as("ref_text"))
      .join(cleaned, Seq("doc_id"))
    def toks(c: Column): Column = filter(split(c, " "), t => length(t) > 0)
    // guard short docs: sequence(1, 0) DESCENDS in Spark (step inferred
    // -1), which would fabricate null bigrams for 0/1-token candidates
    def bigrams(t: Column): Column =
      when(size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1),
          i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
        .otherwise(array().cast("array<string>"))
    val withToks = Extensions.materialized(base.select(col("doc_id"),
      toks(col("clean_text")).as("ct"), toks(col("ref_text")).as("rt")))
    def gramCounts(arr: String, n: Int, out: String): DataFrame =
      withToks.select(col("doc_id"),
          explode(if (n == 1) col(arr) else bigrams(col(arr))).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as(out))
    def clipped(n: Int): DataFrame =
      gramCounts("ct", n, "cc").join(gramCounts("rt", n, "rc"), Seq("doc_id", "g"))
        .groupBy(col("doc_id"))
        .agg(sum(least(col("cc"), col("rc"))).as(s"m$n"))
    val sizes = withToks.select(col("doc_id"),
      size(col("ct")).cast("long").as("c1"), size(col("rt")).cast("long").as("r1"),
      greatest(size(col("ct")) - 1, lit(0)).cast("long").as("c2"),
      greatest(size(col("rt")) - 1, lit(0)).cast("long").as("r2"))
    sizes
      .join(clipped(1), Seq("doc_id"), "left_outer")
      .join(clipped(2), Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("m1", "m2"))
      .selectExpr(
        "doc_id", "c1", "r1", "CAST(m1 AS LONG) AS m1", "CAST(m2 AS LONG) AS m2",
        // modified n-gram precisions, half-up micro (null when no cand grams)
        "CASE WHEN c1 > 0 THEN (m1 * 1000000 * 2 + c1) div (2 * c1) END AS p1_micro",
        "CASE WHEN c2 > 0 THEN (m2 * 1000000 * 2 + c2) div (2 * c2) END AS p2_micro",
        // log brevity penalty: min(0, 1 - r/c) — negated-positive div only
        "CASE WHEN c1 = 0 THEN NULL WHEN c1 >= r1 THEN 0L " +
          "ELSE -(((r1 - c1) * 1000000 * 2 + c1) div (2 * c1)) END AS log_bp_micro",
        // 2·logBLEU-2 in micro-nats: 2·logBP + ln p1 + ln p2, each ln
        // rounded to micro FIRST (integer composition thereafter)
        "CASE WHEN c1 > 0 AND m1 > 0 AND c2 > 0 AND m2 > 0 THEN " +
          "2 * (CASE WHEN c1 >= r1 THEN 0L " +
          "     ELSE -(((r1 - c1) * 1000000 * 2 + c1) div (2 * c1)) END) " +
          "+ CAST(round(1000000 * ln(CAST(m1 AS DOUBLE) / c1), 0) AS LONG) " +
          "+ CAST(round(1000000 * ln(CAST(m2 AS DOUBLE) / c2), 0) AS LONG) " +
          "END AS log_bleu2_x2_micro",
        "CASE WHEN r1 > 0 THEN (m1 * 1000000 * 2 + r1) div (2 * r1) END AS rouge1_recall_micro",
        "CASE WHEN r2 > 0 THEN (m2 * 1000000 * 2 + r2) div (2 * r2) END AS rouge2_recall_micro")
  }

  def x280StripFidelity(s: SparkSession, dir: String): DataFrame =
    stripFidelityCard(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x280OracleSql: String = s"""
      WITH cleaned AS (${Extensions16.x68OracleSql}),
      toks AS (SELECT doc_id,
                 list_filter(string_split(clean_text, ' '), x -> x <> '') AS ct,
                 list_filter(string_split(text, ' '), x -> x <> '') AS rt
               FROM cleaned JOIN documents USING (doc_id)),
      c1g AS (SELECT doc_id, ct[i] AS g, count(*) AS cc
              FROM toks, UNNEST(generate_series(1, len(ct))) u(i)
              GROUP BY doc_id, g),
      r1g AS (SELECT doc_id, rt[i] AS g, count(*) AS rc
              FROM toks, UNNEST(generate_series(1, len(rt))) u(i)
              GROUP BY doc_id, g),
      c2g AS (SELECT doc_id, ct[i] || ' ' || ct[i+1] AS g, count(*) AS cc
              FROM toks, UNNEST(generate_series(1, len(ct) - 1)) u(i)
              GROUP BY doc_id, g),
      r2g AS (SELECT doc_id, rt[i] || ' ' || rt[i+1] AS g, count(*) AS rc
              FROM toks, UNNEST(generate_series(1, len(rt) - 1)) u(i)
              GROUP BY doc_id, g),
      m1t AS (SELECT doc_id, sum(least(cc, rc)) AS m1
              FROM c1g JOIN r1g USING (doc_id, g) GROUP BY doc_id),
      m2t AS (SELECT doc_id, sum(least(cc, rc)) AS m2
              FROM c2g JOIN r2g USING (doc_id, g) GROUP BY doc_id),
      sz AS (SELECT doc_id, CAST(len(ct) AS BIGINT) AS c1,
                    CAST(len(rt) AS BIGINT) AS r1,
                    CAST(greatest(len(ct) - 1, 0) AS BIGINT) AS c2,
                    CAST(greatest(len(rt) - 1, 0) AS BIGINT) AS r2
             FROM toks),
      j AS (SELECT sz.doc_id, c1, r1, c2, r2,
                   CAST(coalesce(m1, 0) AS BIGINT) AS m1,
                   CAST(coalesce(m2, 0) AS BIGINT) AS m2
            FROM sz LEFT JOIN m1t ON sz.doc_id = m1t.doc_id
                    LEFT JOIN m2t ON sz.doc_id = m2t.doc_id)
      SELECT doc_id, c1, r1, m1, m2,
        CASE WHEN c1 > 0 THEN (m1 * 1000000 * 2 + c1) // (2 * c1) END AS p1_micro,
        CASE WHEN c2 > 0 THEN (m2 * 1000000 * 2 + c2) // (2 * c2) END AS p2_micro,
        CASE WHEN c1 = 0 THEN NULL WHEN c1 >= r1 THEN 0
             ELSE -(((r1 - c1) * 1000000 * 2 + c1) // (2 * c1)) END AS log_bp_micro,
        CASE WHEN c1 > 0 AND m1 > 0 AND c2 > 0 AND m2 > 0 THEN
          2 * (CASE WHEN c1 >= r1 THEN 0
               ELSE -(((r1 - c1) * 1000000 * 2 + c1) // (2 * c1)) END)
          + CAST(round(1000000 * ln(CAST(m1 AS DOUBLE) / c1), 0) AS BIGINT)
          + CAST(round(1000000 * ln(CAST(m2 AS DOUBLE) / c2), 0) AS BIGINT)
          END AS log_bleu2_x2_micro,
        CASE WHEN r1 > 0 THEN (m1 * 1000000 * 2 + r1) // (2 * r1) END AS rouge1_recall_micro,
        CASE WHEN r2 > 0 THEN (m2 * 1000000 * 2 + r2) // (2 * r2) END AS rouge2_recall_micro
      FROM j
      ORDER BY doc_id"""

  // ---- x281: common-neighbor link-prediction scores --------------------------

  /** Link-prediction scores over the one-mode projection of a bipartite
    * (left, right) edge table: for every right-node pair sharing at
    * least `minCommon` left neighbors — common-neighbor count,
    * resource allocation Σ 1/deg(c), Adamic–Adar Σ 1/ln(deg(c)), and
    * preferential attachment deg(a)·deg(b). Per-term micro rendering:
    * RA terms are half-up 10^6/deg; AA terms are 10^12 div
    * round(10^6·ln deg) — ln is the only float op and it rounds to an
    * integer before the division, so both engines replay bit-identically
    * (a common neighbor always has deg ≥ 2, so ln ≥ ln 2 > 0).
    *
    * Scale: the wedge join partitions on the left node and its cost is
    * Σ deg(left)² — the x99 bound; degrees ride along as two broadcast
    * joins (left-degree table is |left| rows).
    */
  def linkPredictionScores(
      edges: DataFrame, leftCol: String, rightCol: String,
      minCommon: Long = 2L): DataFrame = {
    val e = Extensions.materialized(
      edges.select(col(leftCol).as("c"), col(rightCol).as("s")).distinct())
    val degC = e.groupBy(col("c")).agg(count(lit(1)).as("dc"))
    val degS = e.groupBy(col("s")).agg(count(lit(1)).as("ds"))
    val wedges = e.as("x").join(e.as("y"),
        col("x.c") === col("y.c") && col("x.s") < col("y.s"))
      .select(col("x.c").as("c"), col("x.s").as("sa"), col("y.s").as("sb"))
      .join(degC, Seq("c"))
    wedges
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("common"),
        sum(expr("(1000000 * 2 + dc) div (2 * dc)")).as("ra_micro"),
        sum(expr("1000000000000 div CAST(round(1000000 * ln(CAST(dc AS DOUBLE)), 0) AS LONG)"))
          .as("aa_micro"))
      .filter(col("common") >= minCommon)
      .join(degS.select(col("s").as("sa"), col("ds").as("da")), Seq("sa"))
      .join(degS.select(col("s").as("sb"), col("ds").as("db")), Seq("sb"))
      .select(col("sa"), col("sb"), col("common").cast("long").as("common"),
        col("ra_micro").cast("long").as("ra_micro"),
        col("aa_micro").cast("long").as("aa_micro"),
        (col("da") * col("db")).cast("long").as("pa"))
  }

  /** x281: the supplier–supplier projection of the purchase graph
    * (common customers), `minCommon = 3` to keep the card at the
    * genuinely-affine pairs.
    */
  def x281LinkPrediction(s: SparkSession, dir: String): DataFrame = {
    val cs = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
    linkPredictionScores(cs, "cust", "supp", minCommon = 3L)
  }

  private val x281OracleSql: String = """
      WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      degc AS (SELECT c, CAST(count(*) AS BIGINT) AS dc FROM e GROUP BY c),
      degs AS (SELECT s, CAST(count(*) AS BIGINT) AS ds FROM e GROUP BY s),
      w AS (SELECT x.c AS c, x.s AS sa, y.s AS sb
            FROM e x JOIN e y ON x.c = y.c AND x.s < y.s),
      scored AS (
        SELECT sa, sb, CAST(count(*) AS BIGINT) AS common,
               CAST(sum((1000000 * 2 + dc) // (2 * dc)) AS BIGINT) AS ra_micro,
               CAST(sum(1000000000000 //
                 CAST(round(1000000 * ln(CAST(dc AS DOUBLE)), 0) AS BIGINT))
                 AS BIGINT) AS aa_micro
        FROM w JOIN degc USING (c)
        GROUP BY sa, sb
        HAVING count(*) >= 3)
      SELECT sa, sb, common, ra_micro, aa_micro,
             CAST(da.ds * db.ds AS BIGINT) AS pa
      FROM scored
      JOIN degs da ON da.s = sa
      JOIN degs db ON db.s = sb
      ORDER BY sa, sb"""

  // ---- x282: phonetic-key blocking -------------------------------------------

  /** The simplified Soundex-class key of a string column's FIRST token:
    * first letter + the first three consonant-class digits of the rest
    * (b f p v→1, c g j k q s x z→2, d t→3, l→4, m n→5, r→6), digit
    * runs collapsed, vowels/h/w/y dropped, zero-padded to three. A
    * documented simplification of classic Soundex (same-class letters
    * separated by a vowel also collapse) so BOTH engines compute it
    * with the same translate + per-digit regexp chain — RE2 (DuckDB)
    * has no backreferences, so the run-collapse is seven literal
    * `d+ → d` replacements, not `(\\d)\\1+`.
    */
  def phoneticKey(c: Column): Column = {
    // caller supplies a single lowercase alpha token (the blocking-card
    // path lowercases and takes the first whitespace token)
    val t = lower(c)
    val first = substring(t, 1, 1)
    val mapped = translate(substring(t, 2, 1 << 30),
      "bfpvcgjkqsxzdtlmnraeiouhwy", "11112222222233455600000000")
    val collapsed = (0 to 6).foldLeft(mapped) { (acc, d) =>
      regexp_replace(acc, s"$d+", d.toString)
    }
    concat(first, rpad(substring(regexp_replace(collapsed, "0", ""), 1, 3), 3, "0"))
  }

  /** x282: blocking-bucket card of the phonetic key over part-name
    * first tokens — (pkey, n_names, n_pairs): bucket sizes and the
    * candidate-pair volume the blocker buys, the numbers a planner
    * (x270's family) prices.
    */
  def phoneticBlockingCard(records: DataFrame, strCol: String): DataFrame = {
    val names = records
      .select(substring_index(lower(col(strCol)), " ", 1).as("tok"))
      .filter(length(col("tok")) > 0).distinct()
    names.select(phoneticKey(col("tok")).as("pkey"))
      .groupBy(col("pkey"))
      .agg(count(lit(1)).as("n_names"))
      .selectExpr("pkey", "n_names",
        "CAST(n_names * (n_names - 1) div 2 AS LONG) AS n_pairs")
  }

  def x282PhoneticBlocking(s: SparkSession, dir: String): DataFrame =
    phoneticBlockingCard(Tables.load(s, dir, "part"), "p_name")

  private val x282OracleSql: String = """
      WITH names AS (
        SELECT DISTINCT split_part(lower(p_name), ' ', 1) AS tok
        FROM part WHERE length(split_part(lower(p_name), ' ', 1)) > 0),
      keyed AS (SELECT
        substr(tok, 1, 1) ||
        rpad(substr(replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(
            translate(substr(tok, 2), 'bfpvcgjkqsxzdtlmnraeiouhwy',
                      '11112222222233455600000000'),
            '0+', '0', 'g'), '1+', '1', 'g'), '2+', '2', 'g'), '3+', '3', 'g'),
            '4+', '4', 'g'), '5+', '5', 'g'), '6+', '6', 'g'),
          '0', ''), 1, 3), 3, '0') AS pkey
        FROM names)
      SELECT pkey, CAST(count(*) AS BIGINT) AS n_names,
             CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_pairs
      FROM keyed GROUP BY pkey ORDER BY pkey"""

  val entries: Seq[Entry] = Seq(
    Entry("x280_strip_fidelity", x280StripFidelity _, x280OracleSql),
    Entry("x281_link_prediction", x281LinkPrediction _, x281OracleSql),
    Entry("x282_phonetic_blocking", x282PhoneticBlocking _, x282OracleSql))
}
