package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-forty-fifth extension batch — dimensionality-reduction
  * pricing and entity-resolution post-processing:
  *
  *  - JL PROJECTION DISTORTION CARD (x330): the database-friendly
    *   ±1 random projection (Achlioptas 2003) priced against the
    *   Johnson–Lindenstrauss promise — project the embeddings to
    *   `kDims` sign-combinations and measure the pairwise
    *   squared-distance ratio d²_proj/(k·d²_orig) on the bounded md5
    *   sample (the x317 pair discipline). The go/no-go card before
    *   shrinking the ANN index `kDims/dim`-fold; the truncation
    *   sibling x292 prices Matryoshka prefixes, this prices random
    *   sign mixing.
  *  - ONE-TO-ONE MATCH RESOLUTION (x331): entity resolution ends with
  *    an ASSIGNMENT, not a score table — `rounds` of mutual-best
  *    resolution (keep pairs that are each other's top candidate,
  *    remove both endpoints, repeat) turn x255's pair scores into a
  *    one-to-one match set, the standard symmetric-best ER closure.
  *
  * Determinism: JL signs are md5-lane parities of (j, i) — the same
  * 60-bit lane both engines derive; distances and ratios are exact
  * integers over the 1e4-quantized components. Match resolution
  * tie-breaks (score desc, partner id asc) in both windows.
  * Scale: the JL card's pair volume is capped at C²/2 forever (the
  * x241 lesson — never a permille filter); projection itself is one
  * map. Match resolution is `rounds` window passes over the CANDIDATE
  * table (already blocked upstream), each partitioned by node —
  * never corpus-wide state.
  */
object Extensions145 {

  // ---- x330: JL projection distortion card ---------------------------------------------

  /** One-row distortion card: (k_dims, n_pairs, mean_ratio_micro,
    * min_ratio_micro, max_ratio_micro) where ratio =
    * d²_proj/(k·d²_orig) per sampled pair (1e6 = distortion-free).
    * Pairs with d²_orig = 0 (exact duplicates) are excluded — their
    * ratio is undefined and a sign projection maps them to 0 anyway.
    */
  def jlProjectionCard(
      vectors: DataFrame, idCol: String, vecCol: String,
      kDims: Int = 16, sampleCap: Int = 40): DataFrame = {
    require(kDims >= 1 && kDims <= 256)
    require(sampleCap >= 2 && sampleCap <= 1000,
      "jlProjectionCard: pair volume is sampleCap^2/2 — keep it bounded")
    import graft.functions.HashFunctions.md5_bucket60
    val qv = vectors.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol).cast("array<double>"),
        x => round(x * 10000.0d, 0).cast("long")).as("qv"))
    // corpus-invariant sample: the sampleCap md5-lowest ids (x285 draw)
    val sample = Extensions.materialized(
      qv.orderBy(md5_bucket60(concat(lit("jls:"), col("vec_id").cast("string"))),
          col("vec_id"))
        .limit(sampleCap))
    // sign(j, i) = ±1 from the md5 lane parity of (j, i); y_j = Σ_i s·x_i
    // — round-14: through the shared SignProject literal-matrix kernel
    // (kernel sibling: x247 Extensions108.randomProjection — same
    // machinery, "i_j" lane there vs "jl:j:i" here; both oracles replay
    // their own lane). The dimensionality is read off the bounded sample
    // (one O(1) job) so the matrix inlines as driver literals.
    val dims = sample.agg(
        min(size(col("qv"))).as("dmin"), max(size(col("qv"))).as("dmax"))
      .collect()(0)
    require(!dims.isNullAt(0) && dims.getInt(0) >= 1 &&
      dims.getInt(0) == dims.getInt(1),
      "jlProjectionCard: embeddings must be non-empty and share one " +
        s"dimensionality (got min=${dims.get(0)}, max=${dims.get(1)})")
    val signAt = (j0: Int, i0: Int) =>
      (SignProject.md5bucket60(s"jl:${j0 + 1}:${i0 + 1}") % 2L) * 2L - 1L
    val projected = Extensions.materialized(
      SignProject.literalProject(
        sample.select(col("vec_id"), col("qv")),
        "qv", "yv", kDims, dims.getInt(0), signAt))
    val d2 = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)
    val pairs = projected.as("a")
      .join(projected.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(d2(col("a.qv"), col("b.qv")).as("d2o"),
        d2(col("a.yv"), col("b.yv")).as("d2p"))
      .filter(col("d2o") > 0L)
      // ratio numerator 1e6·d2p crosses 2^63 (d2p ≤ (2·dim·1e5)² per
      // component sum) — the division rides DECIMAL
      .withColumn("ratio", expr(
        s"CAST((1000000 * CAST(d2p AS DECIMAL(38,0)) * 2 + $kDims * d2o)" +
          s" DIV (2 * $kDims * d2o) AS BIGINT)"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(col("ratio").cast("decimal(38,0)")).as("sr"),
        min(col("ratio")).as("min_ratio_micro"),
        max(col("ratio")).as("max_ratio_micro"))
      .select(lit(kDims.toLong).as("k_dims"), col("n_pairs"),
        expr("CAST((sr * 2 + n_pairs) DIV (2 * n_pairs) AS BIGINT)")
          .as("mean_ratio_micro"),
        col("min_ratio_micro"), col("max_ratio_micro"))
  }

  /** x330: the 64-dim fixture embeddings projected to 16 sign
    * combinations — is a 4× index shrink distance-faithful?
    */
  def x330JlProjection(s: SparkSession, dir: String): DataFrame =
    jlProjectionCard(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")

  private val x330OracleSql: String = """
      WITH qv AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(round(x * 10000.0, 0) AS BIGINT)) AS q
           FROM embeddings),
      smp AS (SELECT vec_id, q FROM qv
              ORDER BY ('0x' || substr(md5('jls:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                       vec_id
              LIMIT 40),
      pj AS (SELECT vec_id, q,
               list_transform(generate_series(1, 16), j ->
                 list_sum(list_transform(generate_series(1, len(q)), i ->
                   ((('0x' || substr(md5('jl:' || CAST(j AS VARCHAR) || ':' ||
                     CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2) * 2 - 1) * q[i])))
               AS y
             FROM smp),
      pr AS (SELECT
               list_sum(list_transform(generate_series(1, len(a.q)),
                 i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))) AS d2o,
               list_sum(list_transform(generate_series(1, 16),
                 j -> (a.y[j] - b.y[j]) * (a.y[j] - b.y[j]))) AS d2p
             FROM pj a JOIN pj b ON a.vec_id < b.vec_id),
      rt AS (SELECT (1000000 * CAST(d2p AS HUGEINT) * 2 + 16 * d2o)
                    // (2 * 16 * d2o) AS ratio
             FROM pr WHERE d2o > 0)
      SELECT CAST(16 AS BIGINT) AS k_dims,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST((sum(ratio) * 2 + count(*)) // (2 * count(*)) AS BIGINT)
               AS mean_ratio_micro,
             CAST(min(ratio) AS BIGINT) AS min_ratio_micro,
             CAST(max(ratio) AS BIGINT) AS max_ratio_micro
      FROM rt"""

  // ---- x331: one-to-one match resolution -----------------------------------------------

  /** Mutual-best assignment over a scored candidate-pair table: per
    * round, a pair is MATCHED when it is rank 1 for its left node AND
    * rank 1 for its right node (score desc, partner id asc); both
    * endpoints then leave the pool. Output: (left id, right id, score,
    * matched_round), one row per matched pair. `rounds` bounds the
    * passes — leftovers after the last round stay unmatched (the
    * greedy tail contributes little and unbounded rounds would be an
    * unbounded chain of window passes).
    */
  def oneToOneMatch(
      scored: DataFrame, leftCol: String, rightCol: String,
      scoreCol: String, rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "oneToOneMatch: rounds in [1,16]")
    var pool = Extensions.materialized(
      scored.select(col(leftCol).cast("long").as("l"),
        col(rightCol).cast("long").as("r"),
        col(scoreCol).cast("long").as("s")))
    val spark = scored.sparkSession
    var matched: DataFrame = null
    var done = false
    var round = 1
    while (round <= rounds && !done) {
      val wL = Window.partitionBy(col("l")).orderBy(col("s").desc, col("r"))
      val wR = Window.partitionBy(col("r")).orderBy(col("s").desc, col("l"))
      val mutual = Extensions.materialized(
        pool.withColumn("rl", row_number().over(wL))
          .withColumn("rr", row_number().over(wR))
          .filter(col("rl") === 1 && col("rr") === 1)
          .select(col("l"), col("r"), col("s"),
            lit(round.toLong).as("matched_round")))
      if (mutual.isEmpty) done = true
      else {
        matched = if (matched == null) mutual else matched.unionAll(mutual)
        pool = Extensions.materialized(
          pool.join(mutual.select(col("l")), Seq("l"), "left_anti")
            .join(mutual.select(col("r")), Seq("r"), "left_anti")
            .select(col("l"), col("r"), col("s")))
        if (pool.isEmpty) done = true
      }
      round += 1
    }
    val out = if (matched == null)
      pool.select(col("l"), col("r"), col("s"),
        lit(0L).as("matched_round")).limit(0)
    else matched
    out.select(col("l").as("left_id"), col("r").as("right_id"),
        col("s").as("score"), col("matched_round"))
  }

  /** x331: a blocked synthetic candidate table (left docs 0–99, right
    * docs 100–199, same id-mod-10 block, md5 scores) resolved to a
    * one-to-one match set — the assignment closure over an x255-style
    * score table.
    */
  def x331OneToOneMatch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.md5_bucket60
    val d = Tables.load(s, dir, "documents").select(col("doc_id"))
    val left = d.filter(col("doc_id") < 100).select(col("doc_id").as("l"))
    val right = d.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select(col("doc_id").as("r"))
    val cands = left.join(right, pmod(col("l"), lit(10L)) === pmod(col("r"), lit(10L)))
      .select(col("l"), col("r"),
        pmod(md5_bucket60(concat(col("l").cast("string"), lit(":"),
          col("r").cast("string"))), lit(1000000L)).as("s"))
    oneToOneMatch(cands, "l", "r", "s")
  }

  private def matchRoundSql(i: Int): String = s"""
      mu$i AS MATERIALIZED (
        SELECT l, r, s, CAST($i AS BIGINT) AS matched_round FROM (
          SELECT l, r, s,
                 row_number() OVER (PARTITION BY l ORDER BY s DESC, r) AS rl,
                 row_number() OVER (PARTITION BY r ORDER BY s DESC, l) AS rr
          FROM p${i - 1})
        WHERE rl = 1 AND rr = 1),
      p$i AS MATERIALIZED (
        SELECT * FROM p${i - 1}
        WHERE l NOT IN (SELECT l FROM mu$i)
          AND r NOT IN (SELECT r FROM mu$i))"""

  private val x331OracleSql: String = s"""
      WITH p0 AS (
        SELECT a.doc_id AS l, b.doc_id AS r,
               ('0x' || substr(md5(CAST(a.doc_id AS VARCHAR) || ':' ||
                 CAST(b.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS s
        FROM documents a JOIN documents b
          ON a.doc_id < 100 AND b.doc_id >= 100 AND b.doc_id < 200
         AND a.doc_id % 10 = b.doc_id % 10),
      ${(1 to 4).map(matchRoundSql).mkString(",")}
      SELECT l AS left_id, r AS right_id, s AS score, matched_round
      FROM (SELECT * FROM mu1 UNION ALL SELECT * FROM mu2
            UNION ALL SELECT * FROM mu3 UNION ALL SELECT * FROM mu4)
      ORDER BY left_id, right_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x330_jl_projection", x330JlProjection _, x330OracleSql),
    Entry("x331_one_to_one_match", x331OneToOneMatch _, x331OracleSql))
}
