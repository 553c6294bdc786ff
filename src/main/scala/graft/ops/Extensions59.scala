package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables
import graft.functions.HashFunctions

/** Fifty-ninth extension batch — know the table, trust the mean:
  *
  *  - table profile (x150): the dataset card — one row per column with
  *    null count, distinct count (HLL by default, exact on demand),
  *    min/max, and a 4dp-quantized mean for numerics. The first thing
  *    a pipeline prints about a drop it has never seen (and the input
  *    x143's expectations get written from).
  *  - winsorized readout (x151): the robust A/B mean — clamp each
  *    user's metric to the arm's [p01, p99] before averaging (Tukey's
  *    winsorization; standard heavy-tail practice), so one whale
  *    cannot buy a significant lift. Completes the robust tier next to
  *    x139 (MAD outliers) and x135 (QTE).
  *
  * Determinism discipline: x150 quantizes doubles to 1e-4 units per
  * row BEFORE summing (long partials — order-free) and keeps min/max
  * as typed selections (exact, never reformatted); x151 splits the
  * winsorized sum into exact in-range long sums plus count·bound
  * products for the clamped tails, so floats enter only in the final
  * one-row expression.
  */
object Extensions59 {

  // ---- x150: table profile (dataset card) --------------------------------------

  /** One row per column: (column, dtype, n_rows, n_nulls, n_distinct,
    * min_num, max_num, min_str, max_str, mean).
    * Numeric columns fill min_num/max_num/mean (mean = 4dp-quantized:
    * per-row round(1e4·x) summed as longs, one half-away division);
    * strings and timestamps fill min_str/max_str (timestamps as
    * 'yyyy-MM-dd HH:mm:ss' UTC).
    *
    * Distinct counts: the DEFAULT card uses `approx_count_distinct`
    * (HLL++, 2% rsd) — a regular mergeable aggregate that rides the
    * single profile pass with zero plan amplification; this is the
    * 100 TB shape. `exactDistinct = true` keeps EXACT counts for
    * audit/oracle parity — but NOT via the multi-count-distinct
    * Aggregate, which compiles to an Expand node replicating every
    * input row once per distinct-aggregated column (a ~#columns×
    * shuffle amplification of the full row width). Instead each
    * column's exact distinct count runs as its OWN column-pruned
    * aggregation (scan reads ONE column; shuffle carries distinct
    * values only) and the 1-row results broadcast back onto the wide
    * row. Total bytes scanned ≈ one full-table pass either way;
    * shuffled bytes collapse from #cols × full rows to Σ per-column
    * distinct values.
    *
    * Scale: every other statistic is a parallel aggregate expression in
    * ONE pass; the per-column rows come from a broadcast spine over the
    * single wide result — column count never multiplies full-width
    * table scans. Headroom: a numeric column sums ~1e4·|x| per row —
    * exact to ~9e14 row-value mass.
    */
  def tableProfile(rel: DataFrame, exactDistinct: Boolean = false): DataFrame = {
    val fields = rel.schema.fields.toSeq.sortBy(_.name)
    require(fields.nonEmpty)
    def isNum(t: DataType) = t match {
      case _: IntegerType | _: LongType | _: ShortType | _: DoubleType |
          _: FloatType | _: DecimalType => true
      case _ => false
    }
    val aggs = fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(f.name)
      val base =
        if (exactDistinct) Seq(sum(when(c.isNull, 1L).otherwise(0L)).as(s"nn$i"))
        else Seq(
          sum(when(c.isNull, 1L).otherwise(0L)).as(s"nn$i"),
          approx_count_distinct(c, rsd = 0.02).as(s"nd$i"))
      val typed = f.dataType match {
        case t if isNum(t) => Seq(
          min(c.cast("double")).as(s"mn$i"), max(c.cast("double")).as(s"mx$i"),
          sum(round(c.cast("double") * lit(10000.0d), 0).cast("long"))
            .as(s"sq$i"),
          count(c).as(s"nv$i"))
        case _: TimestampType | _: TimestampNTZType => Seq(
          date_format(min(c), "yyyy-MM-dd HH:mm:ss").as(s"ms$i"),
          date_format(max(c), "yyyy-MM-dd HH:mm:ss").as(s"xs$i"))
        case _ => Seq(
          min(c.cast("string")).as(s"ms$i"), max(c.cast("string")).as(s"xs$i"))
      }
      base ++ typed
    } :+ count(lit(1)).as("n")
    val base = rel.agg(aggs.head, aggs.tail: _*)
    val wide = Extensions.materialized(
      if (!exactDistinct) base
      else fields.zipWithIndex.foldLeft(base) { case (acc, (f, i)) =>
        // one column-pruned pass per column: no Expand, distinct-value
        // shuffle only; 1-row result broadcasts onto the wide row
        acc.crossJoin(broadcast(
          rel.agg(count_distinct(col(f.name)).as(s"nd$i"))))
      })
    val spark = rel.sparkSession
    import spark.implicits._
    // NTZ vs instant timestamps are a parquet-encoding accident of the
    // same logical column — the card reports one name for both
    val spine = fields.zipWithIndex
      .map { case (f, i) =>
        val dt = f.dataType.simpleString match {
          case "timestamp_ntz" => "timestamp"
          case other => other
        }
        (f.name, dt, i)
      }
      .toDF("column", "dtype", "i")
    def pick(prefix: String, pred: Int => Boolean, otherwise: Column) =
      fields.zipWithIndex.collect { case (_, i) if pred(i) =>
        when(col("i") === i, col(s"$prefix$i"))
      }.reduceRightOption((a, b) => a.otherwise(b))
        .map(c => coalesce(c, otherwise)).getOrElse(otherwise)
    val numIdx = fields.zipWithIndex.collect {
      case (f, i) if isNum(f.dataType) => i
    }.toSet
    val strIdx = fields.indices.filterNot(numIdx).toSet
    wide.crossJoin(broadcast(spine))
      .select(col("column"), col("dtype"), col("n").as("n_rows"),
        pick("nn", _ => true, lit(null)).as("n_nulls"),
        pick("nd", _ => true, lit(null)).as("n_distinct"),
        pick("mn", numIdx, lit(null).cast("double")).as("min_num"),
        pick("mx", numIdx, lit(null).cast("double")).as("max_num"),
        pick("ms", strIdx, lit(null).cast("string")).as("min_str"),
        pick("xs", strIdx, lit(null).cast("string")).as("max_str"),
        fields.zipWithIndex.collect { case (_, i) if numIdx(i) =>
          when(col("i") === i && col(s"nv$i") > 0L,
            expr(s"(CAST(sign(sq$i) AS BIGINT) * ((abs(sq$i) * 2 + nv$i) DIV (2 * nv$i))) / 10000.0D"))
        }.reduceRightOption((a, b) => a.otherwise(b))
          .getOrElse(lit(null).cast("double")).as("mean"))
  }

  /** x150: dataset card of the orders fixture — the EXACT variant, for
    * oracle parity (DuckDB replays exact count(DISTINCT)); the default
    * approx card is spec-verified against it within HLL tolerance.
    */
  def x150Profile(s: SparkSession, dir: String): DataFrame =
    tableProfile(Tables.load(s, dir, "orders"), exactDistinct = true)

  private val x150OracleSql: String = """
      WITH w AS (SELECT count(*) AS n,
        CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_ok,
        count(DISTINCT o_orderkey) AS nd_ok,
        min(CAST(o_orderkey AS DOUBLE)) AS mn_ok, max(CAST(o_orderkey AS DOUBLE)) AS mx_ok,
        CAST(sum(CAST(round(o_orderkey * 10000.0, 0) AS BIGINT)) AS BIGINT) AS sq_ok,
        count(o_orderkey) AS nv_ok,
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_ck,
        count(DISTINCT o_custkey) AS nd_ck,
        min(CAST(o_custkey AS DOUBLE)) AS mn_ck, max(CAST(o_custkey AS DOUBLE)) AS mx_ck,
        CAST(sum(CAST(round(o_custkey * 10000.0, 0) AS BIGINT)) AS BIGINT) AS sq_ck,
        count(o_custkey) AS nv_ck,
        CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_st,
        count(DISTINCT o_orderstatus) AS nd_st,
        min(o_orderstatus) AS ms_st, max(o_orderstatus) AS xs_st,
        CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_tp,
        count(DISTINCT o_totalprice) AS nd_tp,
        min(CAST(o_totalprice AS DOUBLE)) AS mn_tp, max(CAST(o_totalprice AS DOUBLE)) AS mx_tp,
        CAST(sum(CAST(round(o_totalprice * 10000.0, 0) AS BIGINT)) AS BIGINT) AS sq_tp,
        count(o_totalprice) AS nv_tp,
        CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_od,
        count(DISTINCT o_orderdate) AS nd_od,
        strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS ms_od,
        strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS xs_od,
        CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_op,
        count(DISTINCT o_orderpriority) AS nd_op,
        min(o_orderpriority) AS ms_op, max(o_orderpriority) AS xs_op
        FROM orders)
      SELECT 'o_custkey' AS "column", 'bigint' AS dtype, n AS n_rows, nn_ck AS n_nulls,
             nd_ck AS n_distinct, mn_ck AS min_num, mx_ck AS max_num,
             CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
             (CAST(sign(sq_ck) AS BIGINT) * ((abs(sq_ck) * 2 + nv_ck) // (2 * nv_ck))) / 10000.0 AS mean
      FROM w
      UNION ALL SELECT 'o_orderdate', 'timestamp', n, nn_od, nd_od,
             NULL, NULL, ms_od, xs_od, NULL FROM w
      UNION ALL SELECT 'o_orderkey', 'bigint', n, nn_ok, nd_ok, mn_ok, mx_ok,
             NULL, NULL,
             (CAST(sign(sq_ok) AS BIGINT) * ((abs(sq_ok) * 2 + nv_ok) // (2 * nv_ok))) / 10000.0 FROM w
      UNION ALL SELECT 'o_orderpriority', 'string', n, nn_op, nd_op,
             NULL, NULL, ms_op, xs_op, NULL FROM w
      UNION ALL SELECT 'o_orderstatus', 'string', n, nn_st, nd_st,
             NULL, NULL, ms_st, xs_st, NULL FROM w
      UNION ALL SELECT 'o_totalprice', 'double', n, nn_tp, nd_tp, mn_tp, mx_tp,
             NULL, NULL,
             (CAST(sign(sq_tp) AS BIGINT) * ((abs(sq_tp) * 2 + nv_tp) // (2 * nv_tp))) / 10000.0 FROM w
      ORDER BY "column""""

  // ---- x151: winsorized A/B readout --------------------------------------------

  /** Winsorized treatment-effect readout: users split into arms by the
    * md5 permille of `userCol`, metric = per-user sum of `valueCol`
    * (exact cents); each arm's metric clamps to its own [p_lo, p_hi]
    * exact percentiles before averaging. Output one row:
    * (n_control, n_treatment, lo_control, hi_control, lo_treatment,
    * hi_treatment, mean_control, mean_treatment, diff) — all dollars,
    * means/diff 4dp.
    *
    * Exactness: the winsorized sum decomposes into the EXACT long sum
    * of in-range values plus count·bound products for the clamped
    * tails — per-row comparisons against the (possibly fractional)
    * percentile bounds are exact, and floats only enter the final
    * one-row expression (the q74 percentile-parity contract).
    *
    * Scale: one corpus hash-agg to per-user sums, one percentile
    * buffer per arm (partial-aggregated order statistics), bounds
    * broadcast back, one conditional-sum aggregation. A 10^9-user
    * readout costs two aggregation passes.
    */
  def winsorizedReadout(
      events: DataFrame, userCol: String, valueCol: String,
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0.0 && pHi <= 1.0 && pLo < pHi)
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perUser = Extensions.materialized(events
      .select(col(userCol).as("user_id"), cents.as("cents"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("y"))
      .withColumn("arm",
        when(pmod(HashFunctions.md5_bucket60(col("user_id").cast("string")),
          lit(2L)) === 0L, lit("control")).otherwise(lit("treatment"))))
    val bounds = perUser.groupBy(col("arm")).agg(
      expr(s"percentile(y, ${pLo}D)").as("lo"),
      expr(s"percentile(y, ${pHi}D)").as("hi"))
    val agg = perUser.join(broadcast(bounds), Seq("arm"))
      .groupBy(col("arm")).agg(
        count(lit(1)).as("n"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        sum(when(col("y") >= col("lo") && col("y") <= col("hi"), col("y"))
          .otherwise(0L)).as("smid"),
        sum(when(col("y") < col("lo"), 1L).otherwise(0L)).as("klo"),
        sum(when(col("y") > col("hi"), 1L).otherwise(0L)).as("khi"))
      .withColumn("mean4", round(
        (col("smid") + col("klo") * col("lo") + col("khi") * col("hi"))
          / col("n") / lit(100.0d), 4))
    val c = agg.filter(col("arm") === "control")
      .select(col("n").as("n_control"), round(col("lo") / 100.0d, 4).as("lo_control"),
        round(col("hi") / 100.0d, 4).as("hi_control"), col("mean4").as("mean_control"))
    val t = agg.filter(col("arm") === "treatment")
      .select(col("n").as("n_treatment"), round(col("lo") / 100.0d, 4).as("lo_treatment"),
        round(col("hi") / 100.0d, 4).as("hi_treatment"), col("mean4").as("mean_treatment"))
    c.crossJoin(t)
      .withColumn("diff", round(col("mean_treatment") - col("mean_control"), 4))
      .select(col("n_control"), col("n_treatment"),
        col("lo_control"), col("hi_control"), col("lo_treatment"),
        col("hi_treatment"), col("mean_control"), col("mean_treatment"),
        col("diff"))
  }

  /** x151: winsorized readout of the events fixture (1%/99% clamps). */
  def x151Winsorized(s: SparkSession, dir: String): DataFrame =
    winsorizedReadout(Tables.load(s, dir, "events"), "user_id", "value")

  private val x151OracleSql: String = """
      WITH pu AS (SELECT user_id,
                    CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y,
                    CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0
                         THEN 'control' ELSE 'treatment' END AS arm
                  FROM events GROUP BY user_id),
      bounds AS (SELECT arm,
                   percentile_cont(0.01) WITHIN GROUP (ORDER BY y) AS lo,
                   percentile_cont(0.99) WITHIN GROUP (ORDER BY y) AS hi
                 FROM pu GROUP BY arm),
      agg AS (SELECT pu.arm, count(*) AS n, any_value(b.lo) AS lo, any_value(b.hi) AS hi,
                CAST(sum(CASE WHEN pu.y >= b.lo AND pu.y <= b.hi THEN pu.y ELSE 0 END) AS BIGINT) AS smid,
                CAST(sum(CASE WHEN pu.y < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS klo,
                CAST(sum(CASE WHEN pu.y > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS khi
              FROM pu JOIN bounds b ON b.arm = pu.arm
              GROUP BY pu.arm),
      m AS (SELECT arm, n, lo, hi,
              round((smid + klo * lo + khi * hi) / n / 100.0, 4) AS mean4
            FROM agg)
      SELECT c.n AS n_control, t.n AS n_treatment,
             round(c.lo / 100.0, 4) AS lo_control, round(c.hi / 100.0, 4) AS hi_control,
             round(t.lo / 100.0, 4) AS lo_treatment, round(t.hi / 100.0, 4) AS hi_treatment,
             c.mean4 AS mean_control, t.mean4 AS mean_treatment,
             round(t.mean4 - c.mean4, 4) AS diff
      FROM (SELECT * FROM m WHERE arm = 'control') c,
           (SELECT * FROM m WHERE arm = 'treatment') t"""

  val entries: Seq[Entry] = Seq(
    Entry("x150_table_profile", x150Profile _, x150OracleSql),
    Entry("x151_winsorized", x151Winsorized _, x151OracleSql))
}
