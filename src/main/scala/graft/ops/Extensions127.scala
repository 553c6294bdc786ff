package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-twenty-seventh extension batch — round-10 verdict items
  * 7 and 8:
  *
  *  - ORC interchange fidelity (x278): the event log round-trips
  *    through the built-in ORC datasource and the query aggregates the
  *    ROUND-TRIPPED rows while the oracle aggregates the ORIGINAL
  *    parquet — the x277 original-vs-roundtrip oracle design, cloned to
  *    the second enterprise columnar format (it caught the XML
  *    millisecond truncation; ORC's nanosecond timestamps must carry
  *    microseconds losslessly).
  *
  *  - Span-dedup exactness (x279): x68 strips cross-doc duplicate
  *    spans at hashed-GRAM granularity — approximate at gram
  *    boundaries: a shared substring SHORTER than the gram width is
  *    invisible to it by construction. The house pattern is to MEASURE
  *    approximations (x182 measures x118, x221 measures x03), so this
  *    card runs x68 on a PLANTED fixture where exact substring truth is
  *    known analytically (unique per-doc filler + a 7-token planted
  *    boilerplate + a 3-token sub-gram dup) and reports false-span /
  *    missed-span token counts, byte over/under-strip, and ppm rates —
  *    the oracle computes the same card from the planted truth alone,
  *    never from the operator.
  */
object Extensions127 {

  /** Per event type AFTER an ORC round-trip of the whole table —
    * same exact-integer probe columns as the XML card (x277): ids,
    * cents, user identity, microsecond timestamps.
    */
  def orcRoundTripCard(events: DataFrame, scratchDir: Option[String] = None): DataFrame = {
    val spark = events.sparkSession
    // deterministic scratch path overwritten per run (the x277 hygiene
    // fix, applied from birth here): residue is bounded at one copy.
    // The applicationId keys the path per SESSION: the returned
    // DataFrame reads the scratch lazily, so a host-shared fixed path
    // would let two concurrent sessions (or two cards built before
    // evaluation) overwrite each other's data under the card.
    val dir = scratchDir.getOrElse(Scratch.sessionDir(spark, "orc_rt_scratch"))
    events.write.mode("overwrite").format("orc").save(s"$dir/log")
    val back = spark.read.schema(events.schema).format("orc").load(s"$dir/log")
    back.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        sum(col("event_id")).as("sum_ids"),
        max(unix_micros(col("ts"))).as("last_us"))
  }

  /** x278: the fixture events table through ORC and back. */
  def x278OrcRoundTrip(s: SparkSession, dir: String): DataFrame =
    orcRoundTripCard(Tables.load(s, dir, "events"))

  /** The oracle never sees the ORC — it aggregates the ORIGINAL
    * parquet, so any loss in the round-trip breaks the hash.
    */
  private val x278OracleSql: String = """
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             CAST(sum(event_id) AS BIGINT) AS sum_ids,
             CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""

  // ---- x279: span-dedup exactness on planted truth ---------------------------

  private val LongDup =
    "longdupa longdupb longdupc longdupd longdupe longdupf longdupg" // 7 tokens
  private val ShortDup = "shortdupa shortdupb shortdupc"             // 3 tokens

  /** The planted fixture: per doc, three 6-token runs of per-doc-unique
    * filler (`u<id>a1..a6`, `b`, `c`) — cross-doc duplication is
    * impossible there — with the 7-token boilerplate planted between
    * runs a/b in every doc_id ≡ 0 (mod 3) and the 3-token sub-gram dup
    * between runs b/c in every doc_id ≡ 0 (mod 4). Exact substring
    * truth is therefore analytic: at gram width 5 the long plant strips
    * whole (its 3 interior grams cover exactly its 7 tokens; any gram
    * touching filler is unique), the short plant is invisible (no gram
    * fits inside 3 tokens), and no filler token may ever strip.
    */
  private def plantedFixture(s: SparkSession, dir: String): DataFrame = {
    def fill(tag: String): Column = concat_ws(" ",
      transform(sequence(lit(1), lit(6)),
        j => concat(lit("u"), col("doc_id"), lit(tag), j)))
    Tables.load(s, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 240)
      .select(col("doc_id"), concat_ws(" ",
        fill("a"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(LongDup)),
        fill("b"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit(ShortDup)),
        fill("c")).as("text"))
  }

  /** One-row exactness card: x68's measured strip vs the planted truth.
    * `long_*` is the strippable plant (expect stripped == planted),
    * `short_*` the sub-gram plant (expect missed == planted — THE
    * measured gram-boundary approximation), `filler_stripped` the
    * false-span count (expect 0), `bytes_removed` the byte-level strip,
    * and the ppm rates render by the half-up integer formula.
    */
  def spanExactnessCard(s: SparkSession, dir: String): DataFrame = {
    val stripped = Extensions16.stripDuplicateSpans(
      plantedFixture(s, dir), "doc_id", "text", n = 5)
    spanCardFrom(plantedFixture(s, dir), stripped)
  }

  /** The card body shared by the single-width (x279) and multi-width
    * (x287) modes: planted-vs-stripped token accounting + ppm renders.
    */
  private def spanCardFrom(fixture: DataFrame, stripped: DataFrame): DataFrame = {
    def countTok(arr: Column, prefix: String): Column =
      size(filter(arr, t => substring(t, 1, prefix.length) === prefix))
    val rt = split(col("text"), " ")
    val ct = filter(split(col("clean_text"), " "), t => length(t) > 0)
    val perDoc = fixture
      .join(stripped.select(col("doc_id"), col("clean_text")), Seq("doc_id"))
      .select(
        countTok(rt, "longdup").as("lp"), countTok(ct, "longdup").as("lk"),
        countTok(rt, "shortdup").as("sp"), countTok(ct, "shortdup").as("sk"),
        countTok(rt, "u").as("fp"), countTok(ct, "u").as("fk"),
        (length(col("text")) - length(col("clean_text"))).as("br"))
    val agg0 = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("lp")).as("long_planted"),
      sum(col("lp") - col("lk")).as("long_stripped"),
      sum(col("lk")).as("long_missed"),
      sum(col("sp")).as("short_planted"),
      sum(col("sp") - col("sk")).as("short_stripped"),
      sum(col("sk")).as("short_missed"),
      sum(col("fp") - col("fk")).as("filler_stripped"),
      sum(col("fp")).as("filler_tokens"),
      sum(col("br")).as("bytes_removed"))
    // half-up ppm renders (integer div — the house formula): missed dup
    // tokens over all planted dup tokens; falsely stripped tokens over
    // all never-dup (filler) tokens
    agg0.selectExpr(
      "n_docs",
      "CAST(long_planted AS LONG) AS long_planted",
      "CAST(long_stripped AS LONG) AS long_stripped",
      "CAST(long_missed AS LONG) AS long_missed",
      "CAST(short_planted AS LONG) AS short_planted",
      "CAST(short_stripped AS LONG) AS short_stripped",
      "CAST(short_missed AS LONG) AS short_missed",
      "CAST(filler_stripped AS LONG) AS filler_stripped",
      "CAST(bytes_removed AS LONG) AS bytes_removed",
      "CAST(((long_missed + short_missed) * 1000000 * 2 " +
        "+ (long_planted + short_planted)) " +
        "div ((long_planted + short_planted) * 2) AS LONG) AS miss_ppm",
      "CAST((filler_stripped * 1000000 * 2 + filler_tokens) " +
        "div (filler_tokens * 2) AS LONG) AS false_ppm")
  }

  def x279SpanExactness(s: SparkSession, dir: String): DataFrame =
    spanExactnessCard(s, dir)

  /** The oracle computes the card from the PLANTED TRUTH alone — it
    * reconstructs the fixture strings analytically (what must strip,
    * what cannot), never running the operator: a hash match proves the
    * hashed-gram implementation lands exactly on exact-substring truth
    * for every ≥-gram span, misses every sub-gram span, and never
    * touches a unique token.
    */
  private val x279OracleSql: String = """
      WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 240),
      cls AS (SELECT doc_id,
                     doc_id % 3 = 0 AS isl,
                     doc_id % 4 = 0 AS iss
              FROM ids),
      built AS (SELECT doc_id, isl, iss,
        'u'||doc_id||'a1 u'||doc_id||'a2 u'||doc_id||'a3 u'||doc_id||'a4 u'||doc_id||'a5 u'||doc_id||'a6' AS fa,
        'u'||doc_id||'b1 u'||doc_id||'b2 u'||doc_id||'b3 u'||doc_id||'b4 u'||doc_id||'b5 u'||doc_id||'b6' AS fb,
        'u'||doc_id||'c1 u'||doc_id||'c2 u'||doc_id||'c3 u'||doc_id||'c4 u'||doc_id||'c5 u'||doc_id||'c6' AS fc
        FROM cls),
      txt AS (SELECT doc_id, isl, iss,
        fa || CASE WHEN isl THEN ' longdupa longdupb longdupc longdupd longdupe longdupf longdupg' ELSE '' END
           || ' ' || fb
           || CASE WHEN iss THEN ' shortdupa shortdupb shortdupc' ELSE '' END
           || ' ' || fc AS text,
        fa || ' ' || fb
           || CASE WHEN iss THEN ' shortdupa shortdupb shortdupc' ELSE '' END
           || ' ' || fc AS clean
        FROM built),
      agg AS (SELECT
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN isl THEN 7 ELSE 0 END) AS BIGINT) AS long_planted,
        CAST(sum(CASE WHEN isl THEN 7 ELSE 0 END) AS BIGINT) AS long_stripped,
        CAST(0 AS BIGINT) AS long_missed,
        CAST(sum(CASE WHEN iss THEN 3 ELSE 0 END) AS BIGINT) AS short_planted,
        CAST(0 AS BIGINT) AS short_stripped,
        CAST(sum(CASE WHEN iss THEN 3 ELSE 0 END) AS BIGINT) AS short_missed,
        CAST(0 AS BIGINT) AS filler_stripped,
        CAST(sum(18) AS BIGINT) AS filler_tokens,
        CAST(sum(length(text) - length(clean)) AS BIGINT) AS bytes_removed
        FROM txt)
      SELECT n_docs, long_planted, long_stripped, long_missed,
             short_planted, short_stripped, short_missed, filler_stripped,
             bytes_removed,
             CAST(((long_missed + short_missed) * 1000000 * 2
                    + (long_planted + short_planted))
                  // ((long_planted + short_planted) * 2) AS BIGINT) AS miss_ppm,
             CAST((filler_stripped * 1000000 * 2 + filler_tokens)
                  // (filler_tokens * 2) AS BIGINT) AS false_ppm
      FROM agg"""

  // ---- x287: multi-width span strip closes the x279 sub-gram miss -------------

  /** The x279 card re-run with the MULTI-width strip (widths 5 and 3):
    * the 3-token plant x279 proved invisible at width 5 is now covered
    * by the second pass, so the analytic truth flips short_missed →
    * short_stripped and miss_ppm to 0 — while the filler (per-doc
    * unique, so no 3-gram of it can reach df ≥ 2 either) still never
    * strips. Same columns as x279 so the two modes diff cleanly.
    */
  def spanExactnessCardMulti(s: SparkSession, dir: String): DataFrame = {
    val stripped = Extensions16.stripDuplicateSpansMulti(
      plantedFixture(s, dir), "doc_id", "text", widths = Seq(5, 3))
    spanCardFrom(plantedFixture(s, dir), stripped)
  }

  def x287SpanMulti(s: SparkSession, dir: String): DataFrame =
    spanExactnessCardMulti(s, dir)

  /** Identical to x279's analytic oracle except the truth for the short
    * plant: at widths {5, 3} it must STRIP (its 1 interior 3-gram has
    * df ≥ 2 across the mod-4 docs and covers all 3 tokens), so clean
    * drops BOTH plants and miss_ppm is exactly 0.
    */
  private val x287OracleSql: String = """
      WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 240),
      cls AS (SELECT doc_id,
                     doc_id % 3 = 0 AS isl,
                     doc_id % 4 = 0 AS iss
              FROM ids),
      built AS (SELECT doc_id, isl, iss,
        'u'||doc_id||'a1 u'||doc_id||'a2 u'||doc_id||'a3 u'||doc_id||'a4 u'||doc_id||'a5 u'||doc_id||'a6' AS fa,
        'u'||doc_id||'b1 u'||doc_id||'b2 u'||doc_id||'b3 u'||doc_id||'b4 u'||doc_id||'b5 u'||doc_id||'b6' AS fb,
        'u'||doc_id||'c1 u'||doc_id||'c2 u'||doc_id||'c3 u'||doc_id||'c4 u'||doc_id||'c5 u'||doc_id||'c6' AS fc
        FROM cls),
      txt AS (SELECT doc_id, isl, iss,
        fa || CASE WHEN isl THEN ' longdupa longdupb longdupc longdupd longdupe longdupf longdupg' ELSE '' END
           || ' ' || fb
           || CASE WHEN iss THEN ' shortdupa shortdupb shortdupc' ELSE '' END
           || ' ' || fc AS text,
        fa || ' ' || fb || ' ' || fc AS clean
        FROM built),
      agg AS (SELECT
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN isl THEN 7 ELSE 0 END) AS BIGINT) AS long_planted,
        CAST(sum(CASE WHEN isl THEN 7 ELSE 0 END) AS BIGINT) AS long_stripped,
        CAST(0 AS BIGINT) AS long_missed,
        CAST(sum(CASE WHEN iss THEN 3 ELSE 0 END) AS BIGINT) AS short_planted,
        CAST(sum(CASE WHEN iss THEN 3 ELSE 0 END) AS BIGINT) AS short_stripped,
        CAST(0 AS BIGINT) AS short_missed,
        CAST(0 AS BIGINT) AS filler_stripped,
        CAST(sum(18) AS BIGINT) AS filler_tokens,
        CAST(sum(length(text) - length(clean)) AS BIGINT) AS bytes_removed
        FROM txt)
      SELECT n_docs, long_planted, long_stripped, long_missed,
             short_planted, short_stripped, short_missed, filler_stripped,
             bytes_removed,
             CAST(((long_missed + short_missed) * 1000000 * 2
                    + (long_planted + short_planted))
                  // ((long_planted + short_planted) * 2) AS BIGINT) AS miss_ppm,
             CAST((filler_stripped * 1000000 * 2 + filler_tokens)
                  // (filler_tokens * 2) AS BIGINT) AS false_ppm
      FROM agg"""

  val entries: Seq[Entry] = Seq(
    Entry("x278_orc_roundtrip", x278OrcRoundTrip _, x278OracleSql),
    Entry("x279_span_exactness", x279SpanExactness _, x279OracleSql),
    Entry("x287_span_multi", x287SpanMulti _, x287OracleSql))
}
