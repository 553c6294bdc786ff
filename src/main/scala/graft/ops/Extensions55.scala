package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Fifty-fifth extension batch — keywords by graph, trust by contract:
  *
  *  - TextRank keywords (x142): unsupervised keyword extraction as
  *    PageRank over the word co-occurrence graph (Mihalcea & Tarau
  *    2004) — tokens co-occurring within a ±2 window vote for each
  *    other; the stationary mass ranks the corpus vocabulary. Built by
  *    COMPOSITION: the graph feeds the x96 integer power iteration
  *    unchanged, so the whole run replays in SQL through the same
  *    generated round chain.
  *  - expectations audit (x143): the declarative data-quality contract
  *    (not-null / unique / range / accepted-values / referential
  *    integrity) evaluated as ONE aggregation pass over the table plus
  *    one broadcast anti-join per foreign key — the
  *    Great-Expectations-style gate a pipeline runs before it trusts a
  *    drop.
  *
  * Determinism discipline: x142's ranks are the x96 micro-unit longs
  * (top-k ties break on the token string); x143 is exact counts and
  * one 4dp division per check row.
  */
object Extensions55 {

  // ---- x142: TextRank keywords ------------------------------------------------

  /** Top-`topK` keywords of a corpus by TextRank: tokens (lowercased,
    * whitespace-split, length ≥ `minLen`) co-occurring within a ±2
    * position window in the same document form an undirected edge
    * (distinct pairs — classic unweighted TextRank); ranks come from
    * [[Extensions28.pageRank]]'s integer power iteration (8 rounds,
    * damping 85/100, micro-units). Output (token, rank_micro) ordered
    * rank desc, token asc, LIMIT topK — exact longs, so the cut is
    * deterministic.
    *
    * Scale: one corpus scan emits (doc, token, pos); the window
    * self-join is an equi-join on doc_id (positions within a doc, never
    * cross-doc pairs); the graph then has vocab-sized nodes and
    * bounded edges, and each PageRank round is O(edges) with the edge
    * relation materialized once — the x96 loop shape unchanged.
    */
  def textRankKeywords(
      corpus: DataFrame, idCol: String, textCol: String,
      topK: Int = 30, minLen: Int = 4): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val pos = corpus
      .select(col(idCol).as("doc_id"), posexplode(toks).as(Seq("p", "w")))
      .filter(length(col("w")) >= minLen)
    val a = pos.select(col("doc_id"), col("p").as("p1"), col("w").as("w1"))
    val b = pos.select(col("doc_id"), col("p").as("p2"), col("w").as("w2"))
    val und = a.join(b, Seq("doc_id"))
      .filter(col("p2") - col("p1") >= 1 && col("p2") - col("p1") <= 2 &&
        col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("wa"),
        greatest(col("w1"), col("w2")).as("wb"))
      .distinct()
    val edges = und.select(col("wa").as("src"), col("wb").as("dst"))
      .unionAll(und.select(col("wb").as("src"), col("wa").as("dst")))
    Extensions28.pageRank(edges, "src", "dst")
      .select(col("node").as("token"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("token"))
      .limit(topK)
  }

  /** x142: top-30 TextRank keywords of the documents fixture (tokens of
    * length ≥ 4 — the classic stopword-free setting without a language-
    * specific list).
    */
  def x142TextRank(s: SparkSession, dir: String): DataFrame =
    textRankKeywords(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x142OracleSql: String = {
    def halfAway(num: String, den: String) = s"(($num) * 2 + ($den)) // (2 * ($den))"
    val rounds = (1 to 8).map { t =>
      s"""
      r$t AS MATERIALIZED (
        SELECT ed.dst AS node,
               b.base + ${halfAway(s"85 * CAST(sum(${halfAway("r.r", "ed.d")}) AS BIGINT)", "100")} AS r
        FROM ed JOIN r${t - 1} r ON ed.src = r.node CROSS JOIN b
        GROUP BY ed.dst, b.base)"""
    }.mkString(",")
    s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      pos AS (SELECT doc_id, u.s.w AS w, u.s.p AS p
              FROM (SELECT doc_id,
                      list_transform(generate_series(1, len(tk)),
                        i -> struct_pack(w := tk[i], p := i)) AS ps
                    FROM d) t, UNNEST(t.ps) AS u(s)
              WHERE length(u.s.w) >= 4),
      und AS (SELECT DISTINCT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb
              FROM pos a JOIN pos b ON a.doc_id = b.doc_id
              WHERE b.p - a.p BETWEEN 1 AND 2 AND a.w <> b.w),
      e AS (SELECT wa AS src, wb AS dst FROM und
            UNION ALL SELECT wb AS src, wa AS dst FROM und),
      deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      ed AS MATERIALIZED (SELECT e.src, e.dst, deg.d FROM e JOIN deg USING (src)),
      nn AS (SELECT count(DISTINCT src) AS n FROM ed),
      b AS (SELECT ${halfAway("150000", "n")} AS base FROM nn),
      r0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, ${halfAway("1000000", "n")} AS r FROM ed, nn),$rounds
      SELECT node AS token, CAST(r AS BIGINT) AS rank_micro
      FROM r8
      ORDER BY rank_micro DESC, token
      LIMIT 30"""
  }

  // ---- x143: data-quality expectations audit ----------------------------------

  /** A declarative column expectation over one table. */
  sealed trait Expectation { def name: String }
  /** No NULLs in `column`. */
  final case class ExpectNotNull(column: String) extends Expectation {
    val name = s"not_null:$column"
  }
  /** `column` values are unique (violations = rows beyond one per
    * distinct value; NULLs don't count as a shared value).
    */
  final case class ExpectUnique(column: String) extends Expectation {
    val name = s"unique:$column"
  }
  /** `column` within [lo, hi]; NULL violates (use ExpectNotNull
    * semantics fused — a range check that lets NULL through hides
    * exactly the rows most likely to be broken).
    */
  final case class ExpectInRange(column: String, lo: Double, hi: Double)
      extends Expectation {
    val name = s"in_range:$column"
  }
  /** `column` drawn from a closed vocabulary; NULL violates. */
  final case class ExpectAccepted(column: String, values: Seq[String])
      extends Expectation {
    val name = s"accepted:$column"
  }
  /** Every non-NULL `column` value exists in `dimColumn` of `dim`
    * (referential integrity; NULL passes — that's ExpectNotNull's job).
    */
  final case class ExpectForeignKey(column: String, dim: DataFrame,
      dimColumn: String) extends Expectation {
    val name = s"foreign_key:$column"
  }

  /** Evaluate `checks` against `rel`: one row per check —
    * (check_name, n_rows, n_violations, pass,
    * violation_frac).
    *
    * Scale: every scalar check is a conditional sum in ONE aggregation
    * pass over the table (unique-checks add their distinct-count to the
    * same pass); each foreign key costs one broadcast LEFT ANTI join
    * against the distinct dim keys. Nothing is ever collected row-wise;
    * adding checks adds map-side expressions, not scans.
    */
  def expectationsAudit(rel: DataFrame, checks: Seq[Expectation]): DataFrame = {
    require(checks.nonEmpty, "expectationsAudit: no checks supplied")
    require(checks.map(_.name).distinct.size == checks.size,
      s"expectationsAudit: duplicate check names in ${checks.map(_.name)}")
    val scalar = checks.zipWithIndex.collect {
      case (e: ExpectNotNull, i) =>
        (e.name, i, sum(when(col(e.column).isNull, 1L).otherwise(0L)))
      case (e: ExpectUnique, i) =>
        (e.name, i, count(lit(1)) - count_distinct(col(e.column)) -
          sum(when(col(e.column).isNull, 1L).otherwise(0L)))
      case (e: ExpectInRange, i) =>
        (e.name, i, sum(when(col(e.column).isNull ||
          col(e.column) < e.lo || col(e.column) > e.hi, 1L).otherwise(0L)))
      case (e: ExpectAccepted, i) =>
        (e.name, i, sum(when(col(e.column).isNull ||
          !col(e.column).isin(e.values: _*), 1L).otherwise(0L)))
    }
    val fks = checks.collect { case e: ExpectForeignKey => e }
    val spark = rel.sparkSession
    import spark.implicits._
    val aggs = scalar.map { case (_, i, c) => c.as(s"v$i") } :+
      count(lit(1)).as("n")
    // materialized: the 1-row wide aggregate feeds both the scalar spine
    // and every FK row — without this the audited table re-scans per use
    val wide = Extensions.materialized(
      if (scalar.nonEmpty) rel.agg(aggs.head, aggs.tail: _*)
      else rel.agg(count(lit(1)).as("n")))
    val spine = scalar.map { case (name, i, _) => (name, i) }
      .toDF("check_name", "i")
    def pick = scalar.map { case (_, i, _) =>
      when(col("i") === i, col(s"v$i"))
    }.reduceRightOption((a, b) => a.otherwise(b)).getOrElse(lit(null))
    val scalarRows =
      if (scalar.isEmpty) None
      else Some(wide.crossJoin(broadcast(spine))
        .select(col("check_name"), col("n"), pick.as("n_violations")))
    val fkRows = fks.map { e =>
      val viol = rel.filter(col(e.column).isNotNull)
        .join(broadcast(e.dim.select(col(e.dimColumn).as("__k")).distinct()),
          col(e.column) === col("__k"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      wide.select(col("n")).crossJoin(viol)
        .select(lit(e.name).as("check_name"), col("n"), col("n_violations"))
    }
    (scalarRows.toSeq ++ fkRows).reduce(_ unionAll _)
      .select(col("check_name"), col("n").as("n_rows"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"),
        Extensions.round4o(col("n_violations") / col("n"))
          .as("violation_frac"))
  }

  /** x143: the standard contract on the orders fixture — key not-null +
    * unique, totalprice range, status vocabulary, customer FK.
    */
  def x143Expectations(s: SparkSession, dir: String): DataFrame =
    expectationsAudit(Tables.load(s, dir, "orders"), Seq(
      ExpectNotNull("o_custkey"),
      ExpectUnique("o_orderkey"),
      ExpectInRange("o_totalprice", 0.0, 600000.0),
      ExpectAccepted("o_orderstatus", Seq("O", "F", "P")),
      ExpectForeignKey("o_custkey", Tables.load(s, dir, "customer"),
        "c_custkey")))

  private val x143OracleSql: String = """
      WITH w AS (
        SELECT count(*) AS n,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
               count(*) - count(DISTINCT o_orderkey)
                 - CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_uq,
               CAST(sum(CASE WHEN o_totalprice IS NULL
                       OR o_totalprice < 0.0 OR o_totalprice > 600000.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_rg,
               CAST(sum(CASE WHEN o_orderstatus IS NULL
                       OR o_orderstatus NOT IN ('O', 'F', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_ac
        FROM orders),
      fk AS (SELECT count(*) AS v_fk
             FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)),
      rows_ AS (
        SELECT 'not_null:o_custkey' AS check_name, n, v_nn AS n_violations FROM w
        UNION ALL SELECT 'unique:o_orderkey', n, v_uq FROM w
        UNION ALL SELECT 'in_range:o_totalprice', n, v_rg FROM w
        UNION ALL SELECT 'accepted:o_orderstatus', n, v_ac FROM w
        UNION ALL SELECT 'foreign_key:o_custkey', w.n, fk.v_fk FROM w, fk)
      SELECT check_name, n AS n_rows, n_violations,
             n_violations = 0 AS pass,
             round(n_violations * 1.0 / n * 10000.0, 0) / 10000.0 AS violation_frac
      FROM rows_
      ORDER BY check_name"""

  val entries: Seq[Entry] = Seq(
    Entry("x142_textrank", x142TextRank _, x142OracleSql),
    Entry("x143_expectations", x143Expectations _, x143OracleSql))
}
