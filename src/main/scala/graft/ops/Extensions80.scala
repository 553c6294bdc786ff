package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Eightieth extension batch — honest error bars on rates, honest
  * overlap between audiences:
  *
  *  - Wilson proportion card (x192): per event type, the fraction of
  *    users who did it with the Wilson 95% interval (Wilson 1927) —
  *    the interval that behaves at 0%/100% where the naive ±1.96·SE
  *    escapes [0, 1]. The error bar every reach/adoption number
  *    should ship with.
  *  - audience overlap matrix (x193): pairwise Jaccard of the user
  *    sets behind each event type — which behaviors share an
  *    audience. The x103 theta sketch estimates this at stream scale;
  *    this is the EXACT small-cardinality form with the same output
  *    shape.
  *
  * Determinism discipline: x192's counts are exact and the Wilson
  * bounds are one shared closed-form expression; x193 is exact set
  * algebra (distinct + self-join + counts) with 4dp renders.
  */
object Extensions80 {

  // ---- x192: Wilson proportion card --------------------------------------------

  /** Per group: the share of subjects showing the behavior with the
    * Wilson 95% interval: center (p̂ + z²/2n)/(1 + z²/n), half-width
    * z·sqrt(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n), z = 1.959964. Output per
    * group: (group_key, n_subjects, n_with, rate, lo, hi).
    *
    * Scale: one (subject) hash-agg with per-group flags as conditional
    * maxes (subjects counted once per group regardless of event
    * count), one group reduce — two aggregations at any scale.
    */
  def wilsonProportions(
      events: DataFrame, groupCol: String, subjectCol: String): DataFrame = {
    val flags = events
      .select(col(subjectCol).as("u"), col(groupCol).as("g"))
      .distinct()
    val nSub = events.select(col(subjectCol).as("u")).distinct()
      .agg(count(lit(1)).as("n"))
    val z = 1.959964d
    flags.groupBy(col("g")).agg(count(lit(1)).as("k"))
      .crossJoin(broadcast(nSub))
      .withColumn("p", col("k").cast("double") / col("n"))
      .withColumn("z2n", lit(z * z) / col("n"))
      .withColumn("center", (col("p") + col("z2n") / 2.0d) /
        (lit(1.0d) + col("z2n")))
      .withColumn("half", lit(z) * sqrt(
        col("p") * (lit(1.0d) - col("p")) / col("n") +
          col("z2n") / (lit(4.0d) * col("n"))) / (lit(1.0d) + col("z2n")))
      .select(col("g").as("group_key"), col("n").as("n_subjects"),
        col("k").as("n_with"),
        expr("((k * 10000 * 2 + n) DIV (2 * n)) / 10000.0D").as("rate"),
        Extensions.round4o(greatest(lit(0.0d), col("center") - col("half")))
          .as("lo"),
        Extensions.round4o(least(lit(1.0d), col("center") + col("half")))
          .as("hi"))
  }

  /** x192: per event type, how many users ever did it — with honest
    * error bars.
    */
  def x192Wilson(s: SparkSession, dir: String): DataFrame =
    wilsonProportions(Tables.load(s, dir, "events"), "event_type", "user_id")

  private val x192OracleSql: String = """
      WITH fl AS (SELECT DISTINCT user_id AS u, event_type AS g FROM events),
      ns AS (SELECT count(DISTINCT user_id) AS n FROM events),
      agg AS (SELECT g, count(*) AS k FROM fl GROUP BY g),
      x AS (SELECT g, k, ns.n,
              k * 1.0 / ns.n AS p,
              1.959964 * 1.959964 / ns.n AS z2n
            FROM agg, ns),
      w AS (SELECT *,
              (p + z2n / 2.0) / (1.0 + z2n) AS center,
              1.959964 * sqrt(p * (1.0 - p) / n + z2n / (4.0 * n)) / (1.0 + z2n) AS half
            FROM x)
      SELECT g AS group_key, n AS n_subjects, k AS n_with,
             ((k * 10000 * 2 + n) // (2 * n)) / 10000.0 AS rate,
             round(greatest(0.0, center - half) * 10000.0, 0) / 10000.0 AS lo,
             round(least(1.0, center + half) * 10000.0, 0) / 10000.0 AS hi
      FROM w
      ORDER BY group_key"""

  // ---- x193: audience overlap matrix -------------------------------------------

  /** Pairwise Jaccard of the subject sets behind each group: per
    * ordered pair (a < b): |A∩B|, |A∪B|, jaccard, plus each side's
    * containment (|A∩B|/|A|). Output:
    * (group_a, group_b, n_a, n_b, n_both, jaccard, containment_a,
    * containment_b).
    *
    * Scale: the (subject, group) distinct table self-joins on the
    * SUBJECT key (pairs per subject ≤ groups², bounded), then one
    * pair hash-agg — the x146 basket discipline with subjects as
    * baskets. Exact where x103's theta sketches estimate.
    */
  def audienceOverlap(
      events: DataFrame, groupCol: String, subjectCol: String): DataFrame = {
    val fl = Extensions.materialized(
      events.select(col(subjectCol).as("u"), col(groupCol).as("g")).distinct())
    val sizes = fl.groupBy(col("g")).agg(count(lit(1)).as("sz"))
    val pairs = fl.join(fl.select(col("u"), col("g").as("h")), Seq("u"))
      .filter(col("g") < col("h"))
      .groupBy(col("g"), col("h")).agg(count(lit(1)).as("nb"))
    pairs
      .join(sizes.select(col("g"), col("sz").as("na")), Seq("g"))
      .join(sizes.select(col("g").as("h"), col("sz").as("nbb")), Seq("h"))
      .select(col("g").as("group_a"), col("h").as("group_b"),
        col("na").as("n_a"), col("nbb").as("n_b"), col("nb").as("n_both"),
        expr("((nb * 10000 * 2 + (na + nbb - nb)) DIV (2 * (na + nbb - nb))) / 10000.0D")
          .as("jaccard"),
        expr("((nb * 10000 * 2 + na) DIV (2 * na)) / 10000.0D")
          .as("containment_a"),
        expr("((nb * 10000 * 2 + nbb) DIV (2 * nbb)) / 10000.0D")
          .as("containment_b"))
  }

  /** x193: which event types share an audience, exactly. */
  def x193Overlap(s: SparkSession, dir: String): DataFrame =
    audienceOverlap(Tables.load(s, dir, "events"), "event_type", "user_id")

  private val x193OracleSql: String = """
      WITH fl AS (SELECT DISTINCT user_id AS u, event_type AS g FROM events),
      sz AS (SELECT g, count(*) AS sz FROM fl GROUP BY g),
      pr AS (SELECT a.g, b.g AS h, count(*) AS nb
             FROM fl a JOIN fl b ON a.u = b.u AND a.g < b.g
             GROUP BY 1, 2)
      SELECT pr.g AS group_a, pr.h AS group_b,
             sa.sz AS n_a, sb.sz AS n_b, pr.nb AS n_both,
             ((pr.nb * 10000 * 2 + (sa.sz + sb.sz - pr.nb))
               // (2 * (sa.sz + sb.sz - pr.nb))) / 10000.0 AS jaccard,
             ((pr.nb * 10000 * 2 + sa.sz) // (2 * sa.sz)) / 10000.0 AS containment_a,
             ((pr.nb * 10000 * 2 + sb.sz) // (2 * sb.sz)) / 10000.0 AS containment_b
      FROM pr
      JOIN sz sa ON sa.g = pr.g
      JOIN sz sb ON sb.g = pr.h
      ORDER BY group_a, group_b"""

  val entries: Seq[Entry] = Seq(
    Entry("x192_wilson", x192Wilson _, x192OracleSql),
    Entry("x193_audience_overlap", x193Overlap _, x193OracleSql))
}
