package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Forty-second extension batch — LSH deployment planning:
  *
  *  - LSH recall planner (x118): for every (bands × rows) factorization
  *    of the signature budget, the EXPECTED RECALL over this corpus's
  *    observed near-duplicate pair mass — the S-curve table every LSH
  *    deployment consults, but measured against the data instead of a
  *    textbook threshold. A pair at Jaccard s collides in at least one
  *    band with probability 1 − (1 − s^r)^b; summing that over the
  *    corpus's actual ≥ 0.3 pairs prices each geometry's miss rate
  *    before anyone commits a 100 TB signing run to it.
  *
  * Determinism discipline: the collision polynomial evaluates by
  * REPEATED MULTIPLICATION (integer exponents only — no libm pow,
  * whose last-ulp behavior the two engines don't contractually share);
  * per-pair probabilities quantize to exact micro-longs before the
  * per-config sum (the x116 rule: no float crosses an aggregation);
  * the s* ≈ (1/b)^(1/r) characteristic threshold is a Scala-computed
  * constant inlined identically into both plans.
  */
object Extensions42 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** The (bands, rowsPerBand) factorizations of an nPerms signature. */
  private[ops] def geometries(nPerms: Int): Seq[(Int, Int)] =
    (1 to nPerms).filter(nPerms % _ == 0).map(b => (b, nPerms / b))

  /** Expected LSH recall per geometry over the observed near-dup pairs
    * of the corpus (exact Jaccard pairs at `pairThreshold`, the x02
    * machinery — inverted-index candidates, never doc×doc).
    */
  def lshRecallPlanner(
      corpus: DataFrame, idCol: String, textCol: String,
      nPerms: Int = 32, pairThreshold: Double = 0.3,
      shingleSize: Int = 5): DataFrame = {
    val pairs = Extensions.materialized(
      Extensions.jaccardPairs(corpus, idCol, textCol, pairThreshold, shingleSize)
        .select(col("jaccard")))
    def powN(base: Column, n: Int): Column =
      (1 to n).map(_ => base).reduce(_ * _)
    geometries(nPerms).map { case (b, r) =>
      val sStar = BigDecimal(math.pow(1.0 / b, 1.0 / r))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val catchP = lit(1.0d) - powN(lit(1.0d) - powN(col("jaccard"), r), b)
      pairs
        .select(round(catchP * 1.0e6d, 0).cast("long").as("cm"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("cm")).as("sm"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(sStar).as("s_star"), col("n_pairs"),
          Extensions.round4o(col("sm") / (col("n_pairs") * 1.0e6d))
            .as("expected_recall"))
    }.reduce(_ unionAll _)
  }

  /** x118: the 32-perm geometry table over the documents fixture's
    * ≥ 0.3 exact-Jaccard pair mass (the x03 production pipeline uses
    * b=8, r=4 from this budget — this is the table that justifies it).
    */
  def x118LshPlan(s: SparkSession, dir: String): DataFrame =
    lshRecallPlanner(docs(s, dir), "doc_id", "text")

  private val x118OracleSql: String = {
    def powN(e: String, n: Int): String =
      (1 to n).map(_ => s"($e)").mkString("(", " * ", ")")
    val configs = geometries(32).map { case (b, r) =>
      val sStar = BigDecimal(math.pow(1.0 / b, 1.0 / r))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val catchP = s"1.0 - ${powN(s"1.0 - ${powN("jaccard", r)}", b)}"
      s"""
      SELECT $b AS bands, $r AS rows_per_band, $sStar AS s_star,
             count(*) AS n_pairs,
             round(CAST(sum(CAST(round(($catchP) * 1e6, 0) AS BIGINT)) AS BIGINT)
                   / (count(*) * 1e6) * 10000.0, 0) / 10000.0 AS expected_recall
      FROM p"""
    }.mkString(" UNION ALL ")
    s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
             FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
      p AS (SELECT round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
            FROM pr
            JOIN cnt ca ON ca.doc_id = doc_a
            JOIN cnt cb ON cb.doc_id = doc_b
            WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.3)
      SELECT * FROM ($configs)
      ORDER BY bands DESC"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x118_lsh_plan", x118LshPlan _, x118OracleSql))
}
