package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Seventy-sixth extension batch — what changed in the words, what
  * dangles between the tables:
  *
  *  - vocabulary shift (x184): top token-share movers between two
    *  corpus releases — smoothed log-ratio of per-release token
  *    shares, support-filtered. x64's digest diff says WHICH DOCS
  *    changed; this says what the release did to the LANGUAGE (a
  *    crawler config change reads as template tokens surging).
  *  - join integrity profile (x185): bidirectional orphan audit for a
  *    fact→dim relationship — fact rows whose key misses the dim AND
  *    dim rows never referenced — in one symmetric pass per pair.
  *    x143 checks the contract you declared; this profiles the
  *    relationship you forgot to.
  *
  * Determinism discipline: x184 quantizes each smoothed log-ratio to
  * micro BEFORE ranking (ties → token); x185 is exact counts with 4dp
  * divisions.
  */
object Extensions76 {

  // ---- x184: vocabulary shift --------------------------------------------------

  /** Top-`topK` token movers between `prev` and `next`: per token with
    * ≥ `minCount` occurrences in either release,
    * shift = ln((c_next + ½)/(N_next + ½V) · (N_prev + ½V)/(c_prev + ½))
    * (add-half smoothing over the union vocabulary V — absent tokens
    * get the floor, not a blow-up). Output by |shift| desc, token:
    * (token, c_prev, c_next, share_prev, share_next, shift).
    *
    * Scale: one explode + token hash-agg per release, one full-outer
    * join on token, totals broadcast; ranking is a TakeOrdered over
    * the vocabulary table.
    */
  def vocabularyShift(
      prev: DataFrame, next: DataFrame, textCol: String,
      topK: Int = 30, minCount: Long = 10L): DataFrame = {
    def counts(df: DataFrame, name: String) = df
      .select(explode(filter(split(lower(col(textCol)), " "),
        t => length(t) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as(name))
    val joined = Extensions.materialized(
      counts(prev, "cp").join(counts(next, "cn"), Seq("w"), "full_outer")
        .na.fill(0L, Seq("cp", "cn")))
    val tot = joined.agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
      count(lit(1)).as("v"))
    joined.crossJoin(broadcast(tot))
      .filter(col("cp") >= minCount || col("cn") >= minCount)
      .withColumn("shift_micro",
        round(lit(1e6) * log(
          ((col("cn") * 2L + 1L).cast("double") * (col("np") * 2L + col("v"))) /
            ((col("cp") * 2L + 1L).cast("double") * (col("nn") * 2L + col("v")))),
          0).cast("long"))
      .select(col("w").as("token"), col("cp").as("c_prev"),
        col("cn").as("c_next"),
        expr("((cp * 10000 * 2 + np) DIV (2 * np)) / 10000.0D").as("share_prev"),
        expr("((cn * 10000 * 2 + nn) DIV (2 * nn)) / 10000.0D").as("share_next"),
        (col("shift_micro") / lit(1000000.0d)).as("shift"))
      .orderBy(abs(col("shift_micro")).desc, col("token"))
      .limit(topK)
  }

  /** x184: the x64 release convention (next drops id%3==0 and appends
    * a template token to id%5==0) — the planted "perturbed" token
    * should top the movers.
    */
  def x184VocabShift(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val next = base.filter(pmod(col("doc_id"), lit(3L)) =!= 0L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5L)) === 0L,
          concat(col("text"), lit(" perturbed"))).otherwise(col("text")))
    vocabularyShift(base, next, "text", topK = 30, minCount = 10L)
  }

  private val x184OracleSql: String = """
      WITH nextc AS (SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN text || ' perturbed' ELSE text END AS text
                     FROM documents WHERE doc_id % 3 <> 0),
      cp AS (SELECT u.w, count(*) AS cp
             FROM (SELECT string_split(lower(text), ' ') AS t FROM documents) d,
                  UNNEST(d.t) AS u(w)
             WHERE length(u.w) > 0 GROUP BY u.w),
      cn AS (SELECT u.w, count(*) AS cn
             FROM (SELECT string_split(lower(text), ' ') AS t FROM nextc) d,
                  UNNEST(d.t) AS u(w)
             WHERE length(u.w) > 0 GROUP BY u.w),
      j AS (SELECT coalesce(cp.w, cn.w) AS w,
              CAST(coalesce(cp.cp, 0) AS BIGINT) AS cp,
              CAST(coalesce(cn.cn, 0) AS BIGINT) AS cn
            FROM cp FULL OUTER JOIN cn ON cp.w = cn.w),
      tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
                     CAST(sum(cn) AS BIGINT) AS nn,
                     count(*) AS v
              FROM j),
      f AS (SELECT j.*, tot.np, tot.nn, tot.v,
              CAST(round(1e6 * ln(
                (CAST(cn * 2 + 1 AS DOUBLE) * (np * 2 + v))
                / (CAST(cp * 2 + 1 AS DOUBLE) * (nn * 2 + v))), 0) AS BIGINT) AS shift_micro
            FROM j, tot
            WHERE j.cp >= 10 OR j.cn >= 10)
      SELECT w AS token, cp AS c_prev, cn AS c_next,
             ((cp * 10000 * 2 + np) // (2 * np)) / 10000.0 AS share_prev,
             ((cn * 10000 * 2 + nn) // (2 * nn)) / 10000.0 AS share_next,
             shift_micro / 1000000.0 AS shift
      FROM f
      ORDER BY abs(shift_micro) DESC, token
      LIMIT 30"""

  // ---- x185: join integrity profile --------------------------------------------

  /** Bidirectional orphan audit for fact.`fkCol` → dim.`pkCol`:
    * one row — (n_fact, n_fact_orphans, fact_orphan_rate, n_dim,
    * n_dim_unreferenced, dim_unreferenced_rate). NULL fact keys count
    * as orphans (they reference nothing).
    *
    * Scale: the distinct key sets join once each way (the fact side
    * aggregates to its distinct keys BEFORE the dim join when
    * counting dim coverage; the fact orphan count uses one left-anti
    * against broadcast dim keys).
    */
  def joinIntegrityProfile(
      fact: DataFrame, fkCol: String, dim: DataFrame,
      pkCol: String): DataFrame = {
    val dimKeys = Extensions.materialized(
      dim.select(col(pkCol).as("k")).distinct())
    val factTotal = fact.agg(count(lit(1)).as("n_fact"))
    val factOrphans = fact.select(col(fkCol).as("fk"))
      .filter(col("fk").isNotNull)
      .join(broadcast(dimKeys), col("fk") === col("k"), "left_anti")
      .agg(count(lit(1)).as("nn_orph"))
    val factNulls = fact.agg(
      sum(when(col(fkCol).isNull, 1L).otherwise(0L)).as("n_null"))
    val refKeys = fact.select(col(fkCol).as("k")).filter(col("k").isNotNull)
      .distinct()
    val dimTotal = dimKeys.agg(count(lit(1)).as("n_dim"))
    val dimUnref = dimKeys.join(refKeys, Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_unref"))
    factTotal.crossJoin(factOrphans).crossJoin(factNulls)
      .crossJoin(dimTotal).crossJoin(dimUnref)
      .select(col("n_fact"),
        (col("nn_orph") + col("n_null")).as("n_fact_orphans"),
        expr("(((nn_orph + n_null) * 10000 * 2 + n_fact) DIV (2 * n_fact)) / 10000.0D")
          .as("fact_orphan_rate"),
        col("n_dim"), col("n_unref").as("n_dim_unreferenced"),
        expr("((n_unref * 10000 * 2 + n_dim) DIV (2 * n_dim)) / 10000.0D")
          .as("dim_unreferenced_rate"))
  }

  /** x185: the lineitem.l_partkey → part relationship, profiled. */
  def x185JoinProfile(s: SparkSession, dir: String): DataFrame =
    joinIntegrityProfile(Tables.load(s, dir, "lineitem"), "l_partkey",
      Tables.load(s, dir, "part"), "p_partkey")

  private val x185OracleSql: String = """
      WITH dk AS (SELECT DISTINCT p_partkey AS k FROM part),
      ft AS (SELECT count(*) AS n_fact FROM lineitem),
      fo AS (SELECT count(*) AS nn_orph FROM lineitem
             WHERE l_partkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM dk WHERE dk.k = l_partkey)),
      fn AS (SELECT CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
             FROM lineitem),
      dt AS (SELECT count(*) AS n_dim FROM dk),
      du AS (SELECT count(*) AS n_unref FROM dk
             WHERE NOT EXISTS (SELECT 1 FROM lineitem
                               WHERE l_partkey = dk.k))
      SELECT ft.n_fact,
             fo.nn_orph + fn.n_null AS n_fact_orphans,
             (((fo.nn_orph + fn.n_null) * 10000 * 2 + ft.n_fact)
               // (2 * ft.n_fact)) / 10000.0 AS fact_orphan_rate,
             dt.n_dim, du.n_unref AS n_dim_unreferenced,
             ((du.n_unref * 10000 * 2 + dt.n_dim) // (2 * dt.n_dim)) / 10000.0
               AS dim_unreferenced_rate
      FROM ft, fo, fn, dt, du"""

  val entries: Seq[Entry] = Seq(
    Entry("x184_vocab_shift", x184VocabShift _, x184OracleSql),
    Entry("x185_join_profile", x185JoinProfile _, x185OracleSql))
}
