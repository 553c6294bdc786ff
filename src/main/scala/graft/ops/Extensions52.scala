package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Fifty-second extension batch — drift in time, drift in content:
  *
  *  - CUSUM changepoint (x136): WHERE did the level shift? The
  *    cumulative-deviation statistic C_d = Σ_{i≤d}(x_i − x̄) peaks at
  *    the changepoint (Page 1954; Taylor's CUSUM identification) — the
  *    follow-up to x93's PSI "distributions drifted" alarm that says
  *    WHEN it happened.
  *  - contamination scan (x137): how much code/markup/template residue
  *    leaked into a text corpus? Per pattern family: documents hit,
  *    hit rate, total matches — the audit that catches a crawl
  *    extractor gone wrong before the tokens are spent (the x109
  *    pattern-family shape pointed at corpus hygiene).
  *
  * Determinism discipline: x136 is exact to the end — C_d·N =
  * N·prefix_d − d·total is an integer identity, so the argmax and the
  * 4dp dollar rendering (sign-split half-away) cannot drift; x137 is
  * exact counts + one division per family, patterns confined to the
  * Java∩RE2 subset (the x109 rule).
  */
object Extensions52 {

  // ---- x136: CUSUM changepoint ------------------------------------------------

  /** Per-period CUSUM of a value stream: aggregate `valueCol` to exact
    * cents per `date_trunc(granularity, tsCol)` period, then
    * C_d = Σ_{i≤d}(x_i − x̄). Output one row per period:
    * (period, value, cusum, is_changepoint) with the peak
    * |CUSUM| period flagged (ties → earliest period).
    *
    * Exactness: C_d·N = N·prefix_d − d·total is an exact long identity
    * (prefix sums windowed over the ≤ periods aggregated table), so
    * the argmax compares integers and the 4dp dollar rendering is the
    * sign-split half-away division by N·100.
    *
    * Scale: one corpus hash-agg to periods; windows and the flag only
    * ever see the O(periods) table.
    */
  def cusumChangepoint(
      events: DataFrame, tsCol: String, valueCol: String,
      granularity: String = "day"): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val daily = events
      .select(date_trunc(granularity, col(tsCol)).as("period"),
        cents.as("cents"))
      .groupBy(col("period")).agg(sum(col("cents")).as("x"))
    val wOrd = Window.orderBy(col("period"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    daily
      .withColumn("prefix", sum(col("x")).over(wOrd))
      .withColumn("d", row_number().over(Window.orderBy(col("period")))
        .cast("long"))
      .withColumn("nn", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("x")).over(wAll))
      .withColumn("cn", col("nn") * col("prefix") - col("d") * col("total"))
      .withColumn("peak", max(abs(col("cn"))).over(wAll))
      .withColumn("first_peak",
        min(when(abs(col("cn")) === col("peak"), col("d"))).over(wAll))
      .select(date_format(col("period"), "yyyy-MM-dd").as("period"),
        (col("x") / lit(100.0)).as("value"),
        col("cn"), col("nn").as("cden"),
        (col("d") === col("first_peak")).as("is_changepoint"))
      .select(col("period"), col("value"),
        expr("(CAST(sign(cn) AS BIGINT) * ((abs(cn) * 100 * 2 + cden) DIV (2 * cden))) / 10000.0D")
          .as("cusum"),
        col("is_changepoint"))
  }

  /** x136: daily revenue CUSUM over the events fixture. */
  def x136Cusum(s: SparkSession, dir: String): DataFrame =
    cusumChangepoint(Tables.load(s, dir, "events"), "ts", "value")

  private val x136OracleSql: String = """
      WITH daily AS (
        SELECT date_trunc('day', ts) AS period,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1),
      pre AS (SELECT period, x,
                CAST(sum(x) OVER (ORDER BY period
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix,
                CAST(row_number() OVER (ORDER BY period) AS BIGINT) AS d,
                CAST(count(*) OVER () AS BIGINT) AS nn,
                CAST(sum(x) OVER () AS BIGINT) AS total
              FROM daily),
      cs AS (SELECT *, nn * prefix - d * total AS cn FROM pre),
      pk AS (SELECT *, max(abs(cn)) OVER () AS peak FROM cs),
      fp AS (SELECT *, min(CASE WHEN abs(cn) = peak THEN d END) OVER () AS first_peak
             FROM pk)
      SELECT strftime(period, '%Y-%m-%d') AS period,
             x / 100.0 AS value,
             (CAST(sign(cn) AS BIGINT)
               * ((abs(cn) * 100 * 2 + nn) // (2 * nn))) / 10000.0 AS cusum,
             d = first_peak AS is_changepoint
      FROM fp
      ORDER BY period"""

  // ---- x137: contamination scan -----------------------------------------------

  /** The scanned pattern families (name → Java∩RE2 regex over the
    * lowercased text). */
  val ContaminationPatterns: Seq[(String, String)] = Seq(
    "sql_keywords" -> "\\b(select|insert|update|delete|drop|join|merge)\\b",
    "html_markup" -> "</?[a-z][a-z0-9]*>",
    "template_braces" -> "\\{\\{[^}]*\\}\\}",
    "base64_blob" -> "[a-z0-9+/]{40,}")

  /** Per pattern family over `textCol` (lowercased): documents with at
    * least one hit, the document hit rate (4dp), and total matches.
    * One map pass over the corpus (all families counted in the same
    * projection), one aggregation; the family table is rows of a
    * single final select, so the corpus is scanned ONCE regardless of
    * family count.
    */
  def contaminationScan(
      corpus: DataFrame, textCol: String,
      patterns: Seq[(String, String)] = ContaminationPatterns): DataFrame = {
    require(patterns.nonEmpty)
    val t = lower(col(textCol))
    val hitCols = patterns.zipWithIndex.flatMap { case ((_, re), i) =>
      Seq(size(regexp_extract_all(t, lit(re), lit(0))).cast("long").as(s"h$i"))
    }
    val counted = corpus.select(hitCols: _*)
    val aggs = patterns.indices.flatMap { i =>
      Seq(sum(when(col(s"h$i") > 0L, 1L).otherwise(0L)).as(s"nd$i"),
        sum(col(s"h$i")).as(s"th$i"))
    } :+ count(lit(1)).as("n")
    val wide = counted.agg(aggs.head, aggs.tail: _*)
    val s = corpus.sparkSession
    import s.implicits._
    val spine = patterns.zipWithIndex
      .map { case ((name, _), i) => (name, i) }.toDF("category", "i")
    def pick(prefix: String) = patterns.indices
      .map(i => when(col("i") === i, col(s"$prefix$i")))
      .reduceRight((a, b) => a.otherwise(b))
    wide.crossJoin(broadcast(spine))
      .select(col("category"), pick("nd").as("n_docs_hit"),
        pick("th").as("total_hits"), col("n"))
      .select(col("category"), col("n_docs_hit"), col("total_hits"),
        Extensions.round4o(col("n_docs_hit") / col("n")).as("doc_rate"))
  }

  /** x137: contamination scan of the documents fixture (the synthetic
    * corpus is saturated with SQL-ish vocabulary — exactly what the
    * sql_keywords family exists to flag; the other families read 0).
    */
  def x137Contamination(s: SparkSession, dir: String): DataFrame =
    contaminationScan(Tables.load(s, dir, "documents"), "text")

  private val x137OracleSql: String = {
    // DuckDB standard string literals do no backslash processing, so the
    // Java pattern text embeds verbatim (the x109 subset rule)
    val rows = ContaminationPatterns.map { case (name, re) =>
      val esc = re.replace("'", "''")
      s"""SELECT '$name' AS category,
             CAST(sum(CASE WHEN len(regexp_extract_all(lower(text), '$esc')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
             CAST(sum(len(regexp_extract_all(lower(text), '$esc'))) AS BIGINT) AS total_hits,
             round(sum(CASE WHEN len(regexp_extract_all(lower(text), '$esc')) > 0 THEN 1 ELSE 0 END) * 1.0
                   / count(*) * 10000.0, 0) / 10000.0 AS doc_rate
          FROM documents"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
      $rows
      ORDER BY category"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x136_cusum", x136Cusum _, x136OracleSql),
    Entry("x137_contamination", x137Contamination _, x137OracleSql))
}
