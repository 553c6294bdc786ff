package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Sixth extension batch — corpus-topology operations: exact pairwise
  * source-overlap (the "which domains plagiarize which" matrix that
  * drives source-level dedup decisions), the multi-stage filter-funnel
  * attrition report (the audit artifact every pretraining data run
  * publishes), and deterministic within-shard training order (the
  * reproducible global shuffle a trainer consumes).
  *
  * Everything is deterministic and engine-portable (md5-derived ordering
  * keys, exact integer set arithmetic), so every operator carries a full
  * DuckDB oracle.
  */
object Extensions6 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- pairwise source overlap ---------------------------------------------

  /** Exact Jaccard overlap between every pair of SOURCES over their
    * distinct shingle sets — the corpus-topology signal behind
    * source-level dedup ("drop mirror domains") and mixture design
    * ("these two crawls are 80% the same corpus"). Models the
    * source-overlap analyses of the C4/RefinedWeb writeups.
    *
    * Shape: distinct (source, shingle) is ONE hash-agg keyed by the pair;
    * the pair counts come from an inverted-index self-join keyed on the
    * shingle — per-shingle products over the sources containing it, never
    * source × source over raw text. Per-source set sizes broadcast back
    * onto the O(sources²) pair table.
    *
    * Scale: with S sources, a shingle present in k sources emits k(k−1)/2
    * pair rows — worst case S²/2 per universal shingle. S is domains (or
    * crawl snapshots), thousands at most, and the join input is the
    * DEDUPED (source, shingle) index, so the blow-up is bounded by
    * S²·|shingle vocab| — fine for the source counts this operator
    * exists for, and the shuffle key (8-byte xxhash of the shingle)
    * keeps the exchange narrow. Not intended for source cardinalities in
    * the millions (that's a MinHash-signature job — compose
    * [[Extensions.minhashLshPairs]] per source instead).
    *
    * "Exact" caveat: shingle sets are keyed by their 64-bit xxhash, so
    * two distinct shingles that collide merge into one set element. The
    * birthday bound makes that negligible until distinct shingles
    * approach ~2^32 — beyond that, key by the shingle string (exact, at
    * a wider exchange) or switch to [[Extensions10.sourceOverlapSketch]]
    * whose error is explicit.
    */
  def sourceOverlap(
      corpus: DataFrame, sourceCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame = {
    // distinct (source, shk): dedupe BEFORE the self-join so each
    // source contributes one row per shingle regardless of df
    val idx = Extensions.materialized(
      corpus
        .select(col(sourceCol).as("src"),
          split(lower(col(textCol)), " ").as("tk0"))
        .select(col("src"),
          explode(Extensions.shinglesFromToks(col("tk0"), shingleSize)).as("sh"))
        .select(col("src"), xxhash64(col("sh")).as("shk"))
        .distinct())
    val sizes = idx.groupBy(col("src")).agg(count(lit(1)).as("n_sh"))
    idx.as("a").join(idx.as("b"),
        col("a.shk") === col("b.shk") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(sizes.withColumnRenamed("src", "src_a")
        .withColumnRenamed("n_sh", "n_a")), Seq("src_a"))
      .join(broadcast(sizes.withColumnRenamed("src", "src_b")
        .withColumnRenamed("n_sh", "n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"),
        round(col("shared") / (col("n_a") + col("n_b") - col("shared")), 4)
          .as("jaccard"))
  }

  /** x45: [[sourceOverlap]] over the documents fixture. */
  def x45SourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlap(docs(s, dir), "source", "text")

  // ---- filter-funnel attrition report ----------------------------------------

  /** Multi-stage filter funnel: given an ORDERED list of named keep
    * predicates, report per stage how many rows pass that predicate alone
    * (`n_pass`) and how many survive the conjunction of all stages up to
    * and including it (`n_survive`) — the attrition table every corpus
    * release publishes ("started with 2.1B docs, length gate kept 1.9B,
    * quality gate kept 1.2B, …").
    *
    * Scale: map-only flag computation + ONE single-row aggregate of
    * 2·stages exact integer sums; the per-stage rows are unpivoted from
    * that one row with `stack`. One corpus scan total, no shuffle beyond
    * the scalar agg — the report costs the same at 100 TB as the cheapest
    * possible pass over the data.
    */
  def filterFunnel(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "filterFunnel needs at least one stage")
    val flagged = stages.zipWithIndex.foldLeft(df) {
      case (d, ((_, pred), i)) => d.withColumn(s"_f$i", pred.cast("int"))
    }
    val sums: Seq[Column] = stages.indices.flatMap { i =>
      val surv = (0 to i).map(j => col(s"_f$j")).reduce(_ * _)
      Seq(sum(col(s"_f$i")).as(s"_p$i"), sum(surv).as(s"_s$i"))
    }
    val one = flagged.agg(count(lit(1)).as("_n"), sums: _*)
    val stackArgs: Seq[Column] = stages.zipWithIndex.flatMap {
      case ((name, _), i) =>
        Seq(lit(i + 1), lit(name), col(s"_p$i"), col(s"_s$i"))
    }
    one.select(col("_n"),
        stack(Seq(lit(stages.size)) ++ stackArgs: _*)
          .as(Seq("stage_no", "stage", "n_pass", "n_survive")))
      .select(col("stage_no").cast("long").as("stage_no"), col("stage"),
        col("_n").as("n_input"), col("n_pass"), col("n_survive"),
        Extensions.round4o(col("n_survive") / col("_n")).as("survive_frac"))
  }

  /** x46: [[filterFunnel]] over the documents fixture with the standard
    * hygiene gate sequence (length floor, length ceiling, lexical
    * diversity, average-token-length band).
    */
  def x46FilterFunnel(s: SparkSession, dir: String): DataFrame = {
    val tk = split(lower(col("text")), " ")
    filterFunnel(docs(s, dir), Seq(
      "min_tokens" -> (size(tk) >= 5),
      "max_chars" -> (col("n_chars") <= 5000),
      "uniq_ratio" -> (size(array_distinct(tk)) * 10L >= size(tk) * 3L),
      "avg_tok_len" -> {
        val nonSpace = length(regexp_replace(col("text"), " ", ""))
        nonSpace >= size(tk) * 2L && nonSpace <= size(tk) * 12L
      }))
  }

  // ---- deterministic training order ------------------------------------------

  /** Deterministic global training order: shard(id) by the same md5
    * bucketing as [[Extensions5.shardAssign]], then order WITHIN each
    * shard by an independently-salted md5 of the id (tie-broken by id) —
    * a reproducible corpus-wide pseudo-random shuffle with no RNG state,
    * stable across engines, retries, and partition layouts. The trainer
    * reads shards in shard order; within-shard order is the row_number.
    *
    * Scale: the only non-map stage is a per-SHARD window sort. Shards are
    * the parallelism unit — pick nShards ≥ cluster cores so no global
    * sort or single-partition window ever exists; each shard sorts
    * n/nShards rows independently. (A global `orderBy(rand)` is the
    * anti-pattern this replaces: non-deterministic AND a full range
    * shuffle of the corpus.)
    */
  def trainingOrder(
      corpus: DataFrame, idCol: String, nShards: Int): DataFrame = {
    val shard = pmod(
      graft.functions.HashFunctions.md5_bucket60(col(idCol).cast("string")), lit(nShards.toLong))
    // independent salt: without it the within-shard order would correlate
    // with the shard assignment (both monotone in the same hash)
    val pos = graft.functions.HashFunctions.md5_bucket60(
      concat(col(idCol).cast("string"), lit(":ord")))
    corpus
      .withColumn("shard", shard)
      .withColumn("ord", row_number()
        .over(Window.partitionBy(col("shard"))
          .orderBy(pos, col(idCol)))
        .cast("long"))
  }

  /** x47: [[trainingOrder]] of the documents fixture over 8 shards. */
  def x47TrainingOrder(s: SparkSession, dir: String): DataFrame =
    trainingOrder(docs(s, dir), "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard"), col("ord"))

  val entries: Seq[Entry] = Seq(
    Entry("x45_source_overlap", x45SourceOverlap _, """
      WITH d AS (SELECT source, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT source, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT source AS src, sh FROM sh0),
      sizes AS (SELECT src, count(*) AS n_sh FROM sh GROUP BY 1),
      pairs AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.src < b.src
                GROUP BY 1, 2)
      SELECT src_a, src_b, shared,
             round(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.src = src_a
      JOIN sizes sb ON sb.src = src_b
      ORDER BY src_a, src_b"""),
    Entry("x46_filter_funnel", x46FilterFunnel _, """
      WITH f AS (
        SELECT CASE WHEN len(string_split(lower(text), ' ')) >= 5 THEN 1 ELSE 0 END AS f0,
               CASE WHEN n_chars <= 5000 THEN 1 ELSE 0 END AS f1,
               CASE WHEN len(list_distinct(string_split(lower(text), ' '))) * 10
                    >= len(string_split(lower(text), ' ')) * 3 THEN 1 ELSE 0 END AS f2,
               CASE WHEN len(replace(text, ' ', '')) >= len(string_split(lower(text), ' ')) * 2
                     AND len(replace(text, ' ', '')) <= len(string_split(lower(text), ' ')) * 12
                    THEN 1 ELSE 0 END AS f3
        FROM documents),
      agg AS (SELECT count(*) AS n,
                     sum(f0) AS p0, sum(f0) AS s0,
                     sum(f1) AS p1, sum(f0*f1) AS s1,
                     sum(f2) AS p2, sum(f0*f1*f2) AS s2,
                     sum(f3) AS p3, sum(f0*f1*f2*f3) AS s3
              FROM f)
      SELECT CAST(stage_no AS BIGINT) AS stage_no, stage, n AS n_input,
             CAST(n_pass AS BIGINT) AS n_pass,
             CAST(n_survive AS BIGINT) AS n_survive,
             round(n_survive * 1.0 / n, 4) AS survive_frac
      FROM agg, (VALUES (1, 'min_tokens'), (2, 'max_chars'),
                        (3, 'uniq_ratio'), (4, 'avg_tok_len')) AS v(stage_no, stage),
      LATERAL (SELECT CASE stage_no WHEN 1 THEN p0 WHEN 2 THEN p1 WHEN 3 THEN p2 ELSE p3 END AS n_pass,
                      CASE stage_no WHEN 1 THEN s0 WHEN 2 THEN s1 WHEN 3 THEN s2 ELSE s3 END AS n_survive)
      ORDER BY stage_no"""),
    Entry("x47_training_order", x47TrainingOrder _, """
      SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard,
             row_number() OVER (
               PARTITION BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 8
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':ord'), 1, 15))::BIGINT, doc_id
             ) AS ord
      FROM documents ORDER BY shard, ord"""))
}
