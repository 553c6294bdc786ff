package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Tenth extension batch — sketches and validation at the source level:
  * MinHash-signature source overlap (the constant-space estimate that
  * replaces [[Extensions6.sourceOverlap]]'s exact join when sources
  * number in the millions), per-source approximate vocabulary richness
  * (HLL), and embedding-table validation diagnostics (the pre-flight
  * check before an ANN index build).
  */
object Extensions10 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // ---- MinHash source-overlap estimate ---------------------------------------

  /** MinHash-signature estimate of pairwise source Jaccard overlap — the
    * scale path of [[Extensions6.sourceOverlap]]: each source collapses
    * to a 32-minimum signature (constant space per source, one
    * partial-aggregating pass over the shingle index), and the estimate
    * for a pair is the fraction of agreeing signature positions. Same
    * md5-affine permutations as the x03 document MinHash, so the whole
    * computation replays in any engine.
    *
    * Scale: the corpus-sized work is ONE grouped min-agg (map-side
    * partials, 32 longs per source crossing the wire). The pair
    * comparison runs on the O(sources) signature table — trivial up to
    * ~10⁵ sources; past that, band the signatures exactly like
    * [[Extensions.minhashLshPairs]] bands documents.
    */
  def sourceOverlapSketch(
      corpus: DataFrame, sourceCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame = {
    import Extensions.{MinhashPerms, LshP, ShingleP, permA, permB}
    val idx = corpus
      .select(col(sourceCol).as("src"),
        split(lower(col(textCol)), " ").as("tk0"))
      .select(col("src"),
        explode(Extensions.shinglesFromToks(col("tk0"), shingleSize)).as("sh"))
      .select(col("src"),
        (graft.functions.HashFunctions.md5_bucket60(col("sh")) % ShingleP)
          .as("shx"))
    val aggs = (0 until MinhashPerms)
      .map(i => min((lit(permA(i)) * col("shx") + lit(permB(i))) % LshP).as(s"h$i"))
    val sigs = idx.groupBy(col("src")).agg(aggs.head, aggs.tail: _*)
    val matches = (0 until MinhashPerms)
      .map(i => when(col(s"a.h$i") === col(s"b.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    sigs.as("a").join(sigs.as("b"), col("a.src") < col("b.src"))
      .select(col("a.src").as("src_a"), col("b.src").as("src_b"),
        matches.as("n_match"))
      .withColumn("est_jaccard", Extensions.round4o(col("n_match") / MinhashPerms.toDouble))
  }

  /** x57: [[sourceOverlapSketch]] over the documents fixture. */
  def x57SourceOverlapSketch(s: SparkSession, dir: String): DataFrame =
    sourceOverlapSketch(docs(s, dir), "source", "text")

  // ---- per-source approximate vocabulary -------------------------------------

  /** Per-source vocabulary richness: approximate distinct token count
    * (HLL), exact token occurrences, and the type/token ratio built from
    * them — the lexical-diversity profile of each source at sketch cost.
    * The HLL keeps the per-group state constant-size where exact distinct
    * would buffer every distinct token per source.
    *
    * Scale: ONE pass, one grouped agg with map-side partial HLL merge.
    * The exact form (count(DISTINCT tok) per source) shuffles every
    * distinct (source, token) pair; the sketch ships fixed-size buffers.
    */
  def sourceVocabSketch(
      corpus: DataFrame, sourceCol: String, textCol: String,
      rsd: Double = 0.05): DataFrame =
    corpus
      .select(col(sourceCol).as("src"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_tokens"),
        approx_count_distinct(col("tok"), rsd).as("approx_vocab"))
      .withColumn("type_token_ratio",
        round(col("approx_vocab") / col("n_tokens"), 4))

  /** x58: [[sourceVocabSketch]] per fixture source, as an x12-style
    * PROPERTY oracle: Spark emits the exact token/vocab counts plus the
    * engine-side boolean "HLL estimate within 3·rsd of exact"; DuckDB
    * recomputes the exact columns and expects the boolean to be TRUE.
    */
  def x58SourceVocab(s: SparkSession, dir: String): DataFrame = {
    val sketch = sourceVocabSketch(docs(s, dir), "source", "text")
    val exact = docs(s, dir)
      .select(col("source").as("src"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("src"))
      .agg(countDistinct(col("tok")).as("exact_vocab"))
    sketch.join(exact, Seq("src"))
      .select(col("src"), col("n_tokens"), col("exact_vocab"),
        (abs(col("approx_vocab") - col("exact_vocab"))
          <= lit(0.15) * col("exact_vocab")).as("vocab_in_bound"))
  }

  // ---- embedding-table validation --------------------------------------------

  /** Embedding-table pre-flight validation: per label, vector count,
    * dimensionality consistency (min/max length), degenerate-vector count
    * (zero norm — unindexable by cosine), non-finite coordinate count,
    * and the norm range. Run before building any ANN structure: a single
    * ragged or NaN vector poisons an IVF/LSH index silently.
    *
    * Scale: map-only feature extraction (HOF fold per vector, no UDF)
    * into a label-cardinality hash-agg. One scan.
    */
  def embeddingValidation(
      corpus: DataFrame, vecCol: String, groupCol: String): DataFrame = {
    val v = col(vecCol)
    val sq = aggregate(v, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double"))
    val nonFinite = size(filter(v, x => isnan(x) || x === Float.PositiveInfinity
      || x === Float.NegativeInfinity))
    corpus
      .select(col(groupCol).as("grp"), size(v).as("dim"), sq.as("sq"),
        nonFinite.as("nf"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"),
        sum(when(col("sq") === 0.0d, 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("nf") > 0, 1L).otherwise(0L)).as("n_nonfinite"),
        round(min(sqrt(col("sq"))), 4).as("min_norm"),
        round(max(sqrt(col("sq"))), 4).as("max_norm"))
  }

  /** x59: [[embeddingValidation]] of the fixture embeddings per label. */
  def x59EmbeddingValidation(s: SparkSession, dir: String): DataFrame =
    embeddingValidation(emb(s, dir), "embedding", "label")

  val entries: Seq[Entry] = Seq(
    Entry("x57_source_overlap_sketch", x57SourceOverlapSketch _, """
      WITH d AS (SELECT source AS src, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT src, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      shx AS (SELECT src, ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1073741789 AS shx FROM sh0),
      perms AS (SELECT i, ((i + 1) * 2654435761) % 2147483647 AS a,
                       ((i + 1) * 1779033703) % 2147483647 AS b
                FROM UNNEST(generate_series(0, 31)) AS g(i)),
      sigs AS (SELECT src, i, min((a * shx + b) % 2147483647) AS h
               FROM shx CROSS JOIN perms GROUP BY 1, 2),
      pairs AS (SELECT a.src AS src_a, b.src AS src_b,
                       CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT) AS n_match
                FROM sigs a JOIN sigs b ON a.i = b.i AND a.src < b.src
                GROUP BY 1, 2)
      SELECT src_a, src_b, n_match, round(n_match / 32.0, 4) AS est_jaccard
      FROM pairs ORDER BY src_a, src_b"""),
    // property oracle (x12-style): exact columns value-checked, and the
    // engine-side boolean "HLL within 15% (3x the 5% rsd) of exact" must
    // come out TRUE
    Entry("x58_source_vocab", x58SourceVocab _, """
      WITH t AS (SELECT source AS src, u.tok
                 FROM (SELECT source, string_split(lower(text), ' ') AS tk FROM documents),
                      UNNEST(tk) AS u(tok))
      SELECT src, count(*) AS n_tokens,
             count(DISTINCT tok) AS exact_vocab,
             TRUE AS vocab_in_bound
      FROM t GROUP BY 1 ORDER BY src"""),
    Entry("x59_embedding_validation", x59EmbeddingValidation _, """
      WITH f AS (SELECT label AS grp, len(embedding) AS dim,
                        list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) AS sq
                 FROM embeddings)
      SELECT grp, count(*) AS n_vecs,
             CAST(min(dim) AS INT) AS min_dim, CAST(max(dim) AS INT) AS max_dim,
             CAST(sum(CASE WHEN sq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
             CAST(0 AS BIGINT) AS n_nonfinite,
             round(min(sqrt(sq)), 4) AS min_norm,
             round(max(sqrt(sq)), 4) AS max_norm
      FROM f GROUP BY 1 ORDER BY grp"""))
}
