package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Sixty-fifth extension batch — what implies what, and can anyone
  * read it:
  *
  *  - association rules (x162): pair-level market-basket rules
  *    (Agrawal & Srikant 1994 at k = 2) — support, confidence, lift
  *    for antecedent → consequent over order baskets. x146 ranks
  *    NEIGHBORS by cosine symmetry; this reads DIRECTIONAL implication
  *    ("a buyer of A goes on to buy B"), which is what a promo
  *    placement actually consumes.
  *  - Flesch readability (x163): reading-ease score + grade band per
  *    document from exact word / sentence / vowel-group counts (Flesch
  *    1948) — the classic readability gate next to the x07 quality
  *    stats (templated spam often scores "college+" on gibberish; ESL
  *    corpora skew "easy").
  *
  * Determinism discipline: x162 is exact-integer to the end — lift =
  * n_ab·N·10⁴ / (n_a·n_b) renders by half-away division (fits longs to
  * ~1e5 items × 1e6 baskets); x163's counts are exact regexp counts
  * and the one FRE expression uses shared double literals.
  */
object Extensions65 {

  // ---- x162: association rules -------------------------------------------------

  /** Directional pair rules over a (basket, item) relation: for each
    * ordered pair A → B with co-occurrence ≥ `minBoth`:
    * support = n_AB/N, confidence = n_AB/n_A, lift = n_AB·N/(n_A·n_B).
    * Output top-`topK` by (lift desc, antecedent, consequent):
    * (antecedent, consequent, n_both, support, confidence, lift).
    *
    * Exactness: all three ratios render by half-away integer division,
    * so the ranking and the top-k cut cannot drift. Overflow headroom:
    * support/confidence numerators are counts ×2e4 (safe to 4.6e14
    * co-occurrences); lift's n_AB·N·10⁴ is a product of two
    * corpus-scale counts, which a long CANNOT hold at 100 TB (1e12
    * baskets × 1e6 pair support already wraps) — it runs in 128-bit
    * integer arithmetic (DECIMAL(38,0) here, HUGEINT in the oracle),
    * exact to 1e28, and only the ≤1e4·lift quotient returns to long.
    *
    * Scale: the same basket-keyed self-join as x146 (Σ basket² — never
    * item×item), one pair hash-agg, item counts broadcast back, and a
    * TakeOrdered cut.
    */
  def associationRules(
      baskets: DataFrame, basketCol: String, itemCol: String,
      minBoth: Long = 2L, topK: Int = 50): DataFrame = {
    val bi = Extensions.materialized(
      baskets.select(col(basketCol).as("b"), col(itemCol).as("i")).distinct())
    val nB = bi.agg(count_distinct(col("b")).as("nn"))
    val sizes = bi.groupBy(col("i")).agg(count(lit(1)).as("n"))
    val pairs = bi.join(bi.select(col("b"), col("i").as("j")), Seq("b"))
      .filter(col("i") =!= col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minBoth)
    pairs
      .join(sizes.select(col("i"), col("n").as("na")), Seq("i"))
      .join(sizes.select(col("i").as("j"), col("n").as("nb")), Seq("j"))
      .crossJoin(broadcast(nB))
      .select(col("i").as("antecedent"), col("j").as("consequent"),
        col("c").as("n_both"),
        expr("((c * 10000 * 2 + nn) DIV (2 * nn)) / 10000.0D").as("support"),
        expr("((c * 10000 * 2 + na) DIV (2 * na)) / 10000.0D").as("confidence"),
        expr("((CAST(c AS DECIMAL(38,0)) * nn * 10000 * 2 + CAST(na AS DECIMAL(38,0)) * nb) DIV (2 * CAST(na AS DECIMAL(38,0)) * nb)) / 10000.0D")
          .as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(topK)
  }

  /** x162: top part-to-part purchase rules over order baskets. */
  def x162Rules(s: SparkSession, dir: String): DataFrame =
    associationRules(
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey")

  private val x162OracleSql: String = """
      WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      nb AS (SELECT count(DISTINCT b) AS nn FROM bi),
      sz AS (SELECT i, count(*) AS n FROM bi GROUP BY i),
      pr AS (SELECT a.i, b.i AS j, count(*) AS c
             FROM bi a JOIN bi b ON a.b = b.b AND a.i <> b.i
             GROUP BY 1, 2 HAVING count(*) >= 2),
      sc AS (SELECT pr.i AS antecedent, pr.j AS consequent, pr.c AS n_both,
               ((pr.c * 10000 * 2 + nb.nn) // (2 * nb.nn)) / 10000.0 AS support,
               ((pr.c * 10000 * 2 + sa.n) // (2 * sa.n)) / 10000.0 AS confidence,
               ((CAST(pr.c AS HUGEINT) * nb.nn * 10000 * 2 + CAST(sa.n AS HUGEINT) * sb.n) // (2 * CAST(sa.n AS HUGEINT) * sb.n)) / 10000.0 AS lift
             FROM pr
             JOIN sz sa ON sa.i = pr.i
             JOIN sz sb ON sb.i = pr.j
             CROSS JOIN nb)
      SELECT * FROM sc
      ORDER BY lift DESC, antecedent, consequent
      LIMIT 50"""

  // ---- x163: Flesch readability ------------------------------------------------

  /** Flesch reading-ease per document:
    *
    *   FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    *
    * with words = whitespace tokens, sentences = '[.!?]+' runs (min 1),
    * syllables = '[aeiouy]+' vowel-group runs (the standard
    * dictionary-free approximation). Output per doc:
    * (doc_id, n_words, n_sentences, n_syllables, flesch, band) —
    * band ∈ easy (≥70) / standard (≥50) / difficult (≥30) / very_hard.
    *
    * Exactness: the three counts are exact regexp counts (patterns in
    * the Java∩RE2 subset — the x109 rule); FRE is ONE shared double
    * expression over them, rounded 4dp, and the band thresholds
    * compare those identical doubles.
    *
    * Scale: map-only — one pass, no joins, no windows.
    */
  def fleschReadability(
      corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    val words = size(filter(split(t, " "), x => length(x) > 0)).cast("long")
    val sents = greatest(
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))).cast("long"), lit(1L))
    val syll = size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))).cast("long")
    val base = corpus.select(col(idCol).as("doc_id"), words.as("n_words"),
      sents.as("n_sentences"), syll.as("n_syllables"))
      .filter(col("n_words") > 0L)
    val fre = lit(206.835d) -
      lit(1.015d) * (col("n_words").cast("double") / col("n_sentences")) -
      lit(84.6d) * (col("n_syllables").cast("double") / col("n_words"))
    base
      .withColumn("flesch", Extensions.round4o(fre))
      .withColumn("band",
        when(col("flesch") >= 70.0d, lit("easy"))
          .when(col("flesch") >= 50.0d, lit("standard"))
          .when(col("flesch") >= 30.0d, lit("difficult"))
          .otherwise(lit("very_hard")))
  }

  /** x163: readability card of the documents fixture. */
  def x163Flesch(s: SparkSession, dir: String): DataFrame =
    fleschReadability(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x163OracleSql: String = """
      WITH f AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(lower(text), ' '),
                 x -> length(x) > 0)) AS BIGINT) AS n_words,
               greatest(CAST(len(regexp_extract_all(lower(text), '[.!?]+')) AS BIGINT), 1) AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
        FROM documents),
      s AS (SELECT *,
              round((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
                    * 10000.0, 0) / 10000.0 AS flesch
            FROM f WHERE n_words > 0)
      SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
             CASE WHEN flesch >= 70.0 THEN 'easy'
                  WHEN flesch >= 50.0 THEN 'standard'
                  WHEN flesch >= 30.0 THEN 'difficult'
                  ELSE 'very_hard' END AS band
      FROM s
      ORDER BY doc_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x162_assoc_rules", x162Rules _, x162OracleSql),
    Entry("x163_flesch", x163Flesch _, x163OracleSql))
}
