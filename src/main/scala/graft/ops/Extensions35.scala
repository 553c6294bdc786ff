package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Thirty-fifth extension batch — privacy ENFORCEMENT (the fixer x106
  * audits for; round-6 VERDICT item #6):
  *
  *  - x108: k-anonymization by generalization + suppression (Sweeney
  *    2002 §5). x106 measures how re-identifiable a table is; this
  *    operator makes it releasable: rows whose quasi-identifier class
  *    is smaller than k are coarsened down a supplied generalization
  *    ladder level by level, and whatever still can't reach k after
  *    the coarsest level is suppressed — marked, not silently dropped,
  *    so the release ships with its own audit trail.
  */
object Extensions35 {

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Local-recoding k-anonymizer. `levels` is the generalization
    * ladder, finest first: each level maps a row to the FULL
    * quasi-identifier projection at that coarseness as (name, expr)
    * pairs — every level must emit the same output names, and coarser
    * levels should emit value spaces disjoint from finer ones (e.g.
    * distinct prefixes), since the published class is the quasi tuple
    * regardless of the level that produced it.
    *
    * Semantics: at each level, classes with ≥ k REMAINING rows release
    * at that coarseness; the rest escalate. Rows surviving the last
    * level come back with every quasi value '*' and level =
    * levels.length — the withheld set, kept in the output for
    * auditability (a release gate publishes only level < levels.length
    * and logs the rest). Every released class therefore has ≥ k rows —
    * PlantedRiskSpec asserts risk_frac = 0 at the audited k via
    * [[Extensions33.kAnonymityReport]].
    *
    * Scale: per ladder level, one class-size hash-agg over the
    * remaining rows + one semi/anti join pair on the class key — the
    * ladder is O(levels) corpus passes over a monotonically SHRINKING
    * remainder (level 0 is the only full pass; at realistic k the
    * remainder after it is the small-classes tail). No windows, no
    * row-level collects; decisions are class-level so partitioning
    * cannot change an assignment.
    */
  def kAnonymize(
      rel: DataFrame, idCol: String, levels: Seq[Seq[(String, Column)]],
      k: Int): DataFrame = {
    require(levels.nonEmpty, "kAnonymize: need at least one ladder level")
    val qNames = levels.head.map(_._1)
    require(levels.forall(_.map(_._1) == qNames),
      "kAnonymize: every ladder level must emit the same quasi columns")
    require(!qNames.contains("level") && !(qNames :+ "level").contains(idCol),
      "kAnonymize: quasi columns must not collide with the id/level output")
    require(qNames.intersect(rel.columns.toSeq).isEmpty,
      s"kAnonymize: quasi output names ${qNames.mkString(",")} must not shadow " +
        "input columns — later ladder levels read the originals")
    val qCols = qNames.map(col)
    var remaining = Extensions.materialized(rel)
    var released: Option[DataFrame] = None
    levels.zipWithIndex.foreach { case (lvl, i) =>
      val lv = Extensions.materialized(remaining.select(
        remaining.columns.map(col) ++
          lvl.map { case (n, c) => c.cast("string").as(n) }: _*))
      val ok = lv.groupBy(qCols: _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= k).select(qCols: _*)
      val levelOut = lv.join(ok, qNames)
        .select(col(idCol) +: qCols :+ lit(i.toLong).as("level"): _*)
      released = Some(released.fold(levelOut)(_.unionAll(levelOut)))
      remaining = Extensions.materialized(
        lv.join(ok, qNames, "left_anti").drop(qNames: _*))
    }
    val suppressed = remaining.select(
      col(idCol) +: qNames.map(n => lit("*").as(n)) :+
        lit(levels.length.toLong).as("level"): _*)
    released.get.unionAll(suppressed)
  }

  /** x108: anonymize the customer table at k = 5 through the
    * (nation, segment, account-balance band) quasi-identifier, with a
    * 3-level ladder: balance in 100-wide bands → 1000-wide bands →
    * dropped entirely; leftover classes suppress. The x106 audit of
    * this release's published rows reads risk_frac = 0 by construction.
    */
  def x108KAnonymize(s: SparkSession, dir: String): DataFrame = {
    val bal = col("c_acctbal")
    val levels = Seq(
      Seq[(String, Column)](
        ("nation", col("c_nationkey")),
        ("segment", col("c_mktsegment")),
        ("bal_band", concat(lit("b100:"), floor(bal / 100).cast("long").cast("string")))),
      Seq[(String, Column)](
        ("nation", col("c_nationkey")),
        ("segment", col("c_mktsegment")),
        ("bal_band", concat(lit("b1000:"), floor(bal / 1000).cast("long").cast("string")))),
      Seq[(String, Column)](
        ("nation", col("c_nationkey")),
        ("segment", col("c_mktsegment")),
        ("bal_band", lit("*"))))
    kAnonymize(table(s, dir, "customer"), "c_custkey", levels, k = 5)
  }

  private val x108OracleSql: String = {
    def levelCte(i: Int, prev: String, band: String) = s"""
    l$i AS (SELECT id, nation, segment, $band AS bal_band, bal FROM $prev),
    s$i AS (SELECT nation, segment, bal_band, 1 AS ok FROM (
              SELECT nation, segment, bal_band, count(*) AS n
              FROM l$i GROUP BY 1, 2, 3) WHERE n >= 5),
    a$i AS (SELECT l$i.id, l$i.nation, l$i.segment, l$i.bal_band, $i AS level
            FROM l$i JOIN s$i USING (nation, segment, bal_band)),
    r$i AS MATERIALIZED (
      SELECT l$i.id, l$i.nation, l$i.segment, l$i.bal
      FROM l$i LEFT JOIN s$i USING (nation, segment, bal_band)
      WHERE s$i.ok IS NULL)"""
    s"""
    WITH c0 AS (SELECT c_custkey AS id,
                       CAST(c_nationkey AS VARCHAR) AS nation,
                       CAST(c_mktsegment AS VARCHAR) AS segment,
                       c_acctbal AS bal
                FROM customer),${levelCte(0, "c0", "'b100:' || CAST(CAST(floor(bal / 100) AS BIGINT) AS VARCHAR)")},${levelCte(1, "r0", "'b1000:' || CAST(CAST(floor(bal / 1000) AS BIGINT) AS VARCHAR)")},${levelCte(2, "r1", "'*'")},
    sup AS (SELECT id, '*' AS nation, '*' AS segment, '*' AS bal_band, 3 AS level FROM r2)
    SELECT id AS c_custkey, nation, segment, bal_band, CAST(level AS BIGINT) AS level
    FROM (SELECT * FROM a0 UNION ALL SELECT * FROM a1
          UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM sup)
    ORDER BY c_custkey"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x108_k_anonymize", x108KAnonymize _, x108OracleSql))
}
