package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Twenty-second extension batch — the remaining sketch/sampling
  * families:
  *
  *  - count-min heavy hitters (x83): the frequency sketch (Cormode &
  *    Muthukrishnan 2005) next to the cardinality (x12, HLL) and rank
  *    (x19, KLL-style) sketches already shipped. d hash rows × w
  *    counters built in one pass; any token's count is then an O(d)
  *    lookup with the one-sided guarantee true ≤ est ≤ true + O(N/w).
  *  - weighted priority sampling (x84): Efraimidis–Spirakis 2006
  *    weighted sampling without replacement — priority = ln(u)/w with a
  *    deterministic md5 uniform, top-k by priority. THE way to sample
  *    "proportional to quality" reproducibly on a cluster: no RNG
  *    state, stable under retries/partitioning, replayable in SQL.
  */
object Extensions22 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- x83: count-min heavy hitters ------------------------------------------

  /** Count-min sketch over whitespace tokens + estimates for the exact
    * top-`topK` tokens. Output per candidate: the exact count, the
    * sketch estimate, and the CM guarantee booleans (est ≥ true — always,
    * by construction; est ≤ true + slack·N/w — the ε-accuracy bound,
    * deterministic here because the hashes are fixed md5 permutations).
    *
    * Scale: the sketch is ONE token pass (explode × d map-side, hash-agg
    * on (row, bucket) — w·d counters total, broadcastable); point
    * queries are O(d) lookups against that broadcast table. At 100 TB
    * the sketch replaces the full token-count table (vocabulary-sized,
    * possibly billions of rows) wherever only heavy hitters or point
    * estimates are needed.
    */
  def countMinHeavyHitters(
      corpus: DataFrame, textCol: String,
      width: Int = 1024, depth: Int = 4, topK: Int = 20,
      slackCells: Double = 8.0): DataFrame = {
    def bucketOf(tok: org.apache.spark.sql.Column, d: Int) =
      pmod(graft.functions.HashFunctions.md5_bucket60(
        concat(lit(s"$d:"), tok)), lit(width.toLong))
    val toks = Extensions.materialized(
      corpus.select(explode(split(lower(col(textCol)), " ")).as("tok")))
    val sketch = toks
      .select(explode(array((0 until depth).map(d =>
        struct(lit(d).as("d"), bucketOf(col("tok"), d).as("bucket"))): _*)).as("c"))
      .groupBy(col("c.d").as("d"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val totals = toks.agg(count(lit(1)).as("n_total"))
    val candidates = toks.groupBy(col("tok")).agg(count(lit(1)).as("true_count"))
      .orderBy(col("true_count").desc, col("tok")).limit(topK)
    val probes = candidates
      .select(col("tok"), col("true_count"),
        explode(array((0 until depth).map(d =>
          struct(lit(d).as("d"), bucketOf(col("tok"), d).as("bucket"))): _*)).as("p"))
      .select(col("tok"), col("true_count"),
        col("p.d").as("d"), col("p.bucket").as("bucket"))
    probes.join(broadcast(sketch), Seq("d", "bucket"))
      .groupBy(col("tok"), col("true_count"))
      .agg(min(col("cnt")).as("est"))
      .crossJoin(broadcast(totals))
      .select(col("tok"), col("true_count"),
        (col("est") >= col("true_count")).as("never_undercounts"),
        (col("est") <= col("true_count")
          + lit(slackCells) * col("n_total") / lit(width.toDouble))
          .as("within_eps"))
  }

  /** x83: [[countMinHeavyHitters]] over the documents fixture. The
    * booleans are the oracle contract (x12/x19 pattern): the oracle
    * value-checks the exact counts and pins both guarantees TRUE.
    */
  def x83CountMin(s: SparkSession, dir: String): DataFrame =
    countMinHeavyHitters(docs(s, dir), "text")

  private val x83OracleSql: String = """
      WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      c AS (SELECT tok, count(*) AS true_count FROM t GROUP BY tok
            ORDER BY true_count DESC, tok LIMIT 20)
      SELECT tok, true_count,
             TRUE AS never_undercounts,
             TRUE AS within_eps
      FROM c
      ORDER BY true_count DESC, tok"""

  // ---- x84: weighted priority sampling ---------------------------------------

  /** Efraimidis–Spirakis weighted sampling without replacement: each row
    * gets priority ln(u)/w (u = deterministic md5 uniform in (0,1], w =
    * `weightCol` > 0); the k HIGHEST priorities are the sample, and
    * inclusion probability is proportional to weight. Priorities round
    * to 4dp before ranking (cross-engine ln parity discipline), ties
    * break on the id.
    *
    * Scale: map-side priority + one top-k (TakeOrderedAndProject — never
    * a full sort); deterministic under retries, re-partitioning, and
    * engine choice. This is `sampleBy`'s missing sibling: weight-
    * proportional instead of stratum-rate sampling.
    */
  def weightedPrioritySample(
      corpus: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame = {
    // u in (0, 1]: (bucket + 1) / 2^60 over the 60-bit md5 — never 0, so
    // ln(u) is finite; w <= 0 rows are excluded (they carry no mass)
    val u = (graft.functions.HashFunctions.md5_bucket60(
      col(idCol).cast("string")) + 1L) / pow(lit(2.0), lit(60))
    corpus
      .filter(col(weightCol) > 0)
      // `+ 0.0` folds IEEE -0.0 to +0.0: ln(u)/w is negative, so a
      // priority rounding to zero keeps its sign otherwise and the two
      // engines disagree on which zero they print (same guard as
      // jlProject)
      .select(col(idCol).as("doc_id"), col(weightCol).cast("double").as("weight"),
        (round(log(u) / col(weightCol) * 10000.0, 0).divide(10000.0) + 0.0)
          .as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k)
  }

  /** x84: [[weightedPrioritySample]] of 50 docs by n_chars weight. */
  def x84WeightedSample(s: SparkSession, dir: String): DataFrame =
    weightedPrioritySample(docs(s, dir), "doc_id", "n_chars", k = 50)

  private val x84OracleSql: String = """
      WITH p AS (SELECT doc_id,
                        CAST(n_chars AS DOUBLE) AS weight,
                        round(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 1)
                                 / pow(2.0, 60)) / n_chars * 10000.0, 0) / 10000.0 + 0.0 AS priority
                 FROM documents
                 WHERE n_chars > 0)
      SELECT doc_id, weight, priority
      FROM p
      ORDER BY priority DESC, doc_id
      LIMIT 50"""

  val entries: Seq[Entry] = Seq(
    Entry("x83_countmin_hh", x83CountMin _, x83OracleSql),
    Entry("x84_weighted_sample", x84WeightedSample _, x84OracleSql))
}
