package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Ninety-sixth extension batch — trust the sketches, with numbers:
  *
  *  - SimHash radius curve (x220): for each hamming radius, the recall
  *    of the TRUE near-dup pairs (x02 ground truth at a Jaccard
  *    threshold) a radius-r SimHash search would capture — the x118
  *    planner's counterpart for the simhash path (x118 sizes MinHash
  *    band geometry; this sizes the hamming radius, and with it the
  *    pigeonhole chunk count r+1 a search must pay).
  *  - MinHash estimator error card (x221): over the same ground-truth
  *    pairs, |matches/32 − exact Jaccard| — is the 32-permutation
  *    estimator actually calibrated on THIS corpus, or does shingle
  *    skew bias it? The number that justifies (or indicts) every
  *    LSH-threshold decision x118/x158 make.
  *
  * Determinism discipline: both ride existing exact chains (x02 pairs,
  * x04 signatures, x03 permutations); x220's recall and x221's errors
  * are exact integer arithmetic off 4dp-quantized Jaccards, rendered
  * by half-away division.
  */
object Extensions96 {

  // ---- x220: SimHash radius curve ----------------------------------------------

  /** Per radius r = 0..`maxRadius`: ground-truth near-dup pairs
    * (Jaccard ≥ `threshold`), pairs whose 64-bit SimHash hamming
    * distance is ≤ r, and the recall share. Output:
    * (radius, n_true_pairs, n_within, recall).
    *
    * Scale: the truth set is the bucketed x02 chain (never all-pairs);
    * signatures join onto its two ends (O(pairs) rows); the radius
    * fan-out is a broadcast ≤(maxRadius+1)-row spine. A planner run
    * costs two corpus scans + O(pairs) arithmetic.
    */
  def simhashRadiusCurve(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxRadius: Int = 8): DataFrame = {
    require(maxRadius >= 0 && maxRadius <= 64)
    val spark = corpus.sparkSession
    import spark.implicits._
    val truth = Extensions.jaccardPairs(corpus, idCol, textCol, threshold)
      .select(col("doc_a"), col("doc_b"))
    val sig = Extensions.simhash64Of(corpus, idCol, textCol)
    val withH = truth
      .join(sig.select(col("doc_id").as("doc_a"), col("sh_lo").as("alo"),
        col("sh_hi").as("ahi")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sh_lo").as("blo"),
        col("sh_hi").as("bhi")), Seq("doc_b"))
      .select((bit_count(col("ahi").bitwiseXOR(col("bhi"))) +
        bit_count(col("alo").bitwiseXOR(col("blo")))).cast("long").as("hamming"))
    val spine = (0 to maxRadius).map(_.toLong).toDF("radius")
    withH.crossJoin(broadcast(spine))
      .groupBy(col("radius"))
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(when(col("hamming") <= col("radius"), 1L).otherwise(0L)).as("n_within"))
      .select(col("radius"), col("n_true_pairs"), col("n_within"),
        expr("((n_within * 10000 * 2 + n_true_pairs) DIV (2 * n_true_pairs)) / 10000.0D")
          .as("recall"))
  }

  /** x220: what hamming radius captures the fixture's 0.5-Jaccard
    * near-dups?
    */
  def x220SimhashRadius(s: SparkSession, dir: String): DataFrame =
    simhashRadiusCurve(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x220OracleSql: String = {
    val votes = (0 until 64)
      .map { b =>
        val src = if (b < 32) "h_lo" else "h_hi"
        s"sum(CASE WHEN ($src >> ${b % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
      }
      .mkString(",\n                     ")
    def packed(bits: Range): String = bits
      .map(b => s"CASE WHEN b$b > 0 THEN ${1L << (b % 32)} ELSE 0 END")
      .mkString(" + ")
    s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      truth AS (SELECT doc_a, doc_b FROM prs
                JOIN cnt ca ON ca.doc_id = doc_a
                JOIN cnt cb ON cb.doc_id = doc_b
                WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
      tok AS (SELECT DISTINCT doc_id, tok
              FROM (SELECT doc_id, unnest(toks) AS tok FROM d)),
      hx AS (SELECT doc_id,
                    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_hi,
                    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_lo
             FROM tok),
      votes AS (SELECT doc_id, $votes
                FROM hx GROUP BY doc_id),
      sig AS (SELECT doc_id,
                     CAST(${packed(0 until 32)} AS BIGINT) AS sh_lo,
                     CAST(${packed(32 until 64)} AS BIGINT) AS sh_hi
              FROM votes),
      hm AS (SELECT CAST(bit_count(xor(a.sh_hi, b.sh_hi)) +
                         bit_count(xor(a.sh_lo, b.sh_lo)) AS BIGINT) AS hamming
             FROM truth t
             JOIN sig a ON a.doc_id = t.doc_a
             JOIN sig b ON b.doc_id = t.doc_b),
      sp AS (SELECT CAST(r AS BIGINT) AS radius
             FROM UNNEST(generate_series(0, 8)) AS t(r)),
      g AS (SELECT sp.radius, count(*) AS n_true_pairs,
              CAST(sum(CASE WHEN hm.hamming <= sp.radius THEN 1 ELSE 0 END) AS BIGINT) AS n_within
            FROM hm CROSS JOIN sp
            GROUP BY sp.radius)
      SELECT radius, n_true_pairs, n_within,
             ((n_within * 10000 * 2 + n_true_pairs) // (2 * n_true_pairs)) / 10000.0 AS recall
      FROM g
      ORDER BY radius"""
  }

  // ---- x221: MinHash estimator error card --------------------------------------

  /** Over the ground-truth pairs (Jaccard ≥ `threshold`): the error of
    * the 32-permutation MinHash estimate matches/32 vs the exact
    * Jaccard. ONE output row: (n_pairs, mean_abs_err, max_abs_err,
    * within_01_share) — within_01 = |err| ≤ 0.1.
    *
    * Exactness: est4 = halfAway(matches·10⁴, 32) and jac4 =
    * round(10⁴·jaccard) are exact 1e-4-unit longs, so every per-pair
    * error, the max, and the within count are integer arithmetic; the
    * mean renders by one half-away division.
    *
    * Scale: signatures from ONE materialized keyed index (the same
    * index the truth chain uses), joined onto O(pairs) rows.
    */
  def minhashErrorCard(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val perms = Extensions.MinhashPerms
    val idx = Extensions.materialized(
      Extensions.shingleIndexKeyedOf(corpus, idCol, textCol))
    val truth = Extensions.exactJaccardFromIndex(idx, threshold)
    val sig = Extensions.minhashSignaturesFrom(idx)
    val sa = sig.toDF(sig.columns.map(c =>
      if (c == "doc_id") "doc_a" else s"a_$c"): _*)
    val sb = sig.toDF(sig.columns.map(c =>
      if (c == "doc_id") "doc_b" else s"b_$c"): _*)
    val m = (0 until perms)
      .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val per = truth.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .select(col("jaccard"), m.as("m"))
      .withColumn("est4", expr(s"(m * 10000 * 2 + $perms) DIV (2 * $perms)"))
      .withColumn("jac4", round(col("jaccard") * lit(10000.0d), 0).cast("long"))
      .withColumn("e4", abs(col("est4") - col("jac4")))
    per.agg(count(lit(1)).as("n_pairs"), sum(col("e4")).as("se"),
      max(col("e4")).as("mx"),
      sum(when(col("e4") <= 1000L, 1L).otherwise(0L)).as("w"))
      .select(col("n_pairs"),
        expr("((se * 2 + n_pairs) DIV (2 * n_pairs)) / 10000.0D").as("mean_abs_err"),
        (col("mx") / lit(10000.0d)).as("max_abs_err"),
        expr("((w * 10000 * 2 + n_pairs) DIV (2 * n_pairs)) / 10000.0D")
          .as("within_01_share"))
  }

  /** x221: is the 32-perm estimator calibrated on the fixture corpus? */
  def x221MinhashError(s: SparkSession, dir: String): DataFrame =
    minhashErrorCard(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x221OracleSql: String = {
    import Extensions.{MinhashPerms, permA, permB, LshP, ShingleP}
    val mins = (0 until MinhashPerms)
      .map(i => s"min((${permA(i)} * shx + ${permB(i)}) % $LshP) AS h$i")
      .mkString(",\n                   ")
    val matches = (0 until MinhashPerms)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      truth AS (SELECT doc_a, doc_b,
                  round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
                FROM prs
                JOIN cnt ca ON ca.doc_id = doc_a
                JOIN cnt cb ON cb.doc_id = doc_b
                WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
      hx AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % $ShingleP AS shx FROM sh),
      sig AS (SELECT doc_id, $mins
              FROM hx GROUP BY doc_id),
      per AS (SELECT t.jaccard, CAST($matches AS BIGINT) AS m
              FROM truth t
              JOIN sig a ON a.doc_id = t.doc_a
              JOIN sig b ON b.doc_id = t.doc_b),
      e AS (SELECT abs((m * 10000 * 2 + $MinhashPerms) // (2 * $MinhashPerms)
                       - CAST(round(jaccard * 10000.0, 0) AS BIGINT)) AS e4
            FROM per),
      agg AS (SELECT count(*) AS n_pairs, CAST(sum(e4) AS BIGINT) AS se,
                CAST(max(e4) AS BIGINT) AS mx,
                CAST(sum(CASE WHEN e4 <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS w
              FROM e)
      SELECT n_pairs,
             ((se * 2 + n_pairs) // (2 * n_pairs)) / 10000.0 AS mean_abs_err,
             mx / 10000.0 AS max_abs_err,
             ((w * 10000 * 2 + n_pairs) // (2 * n_pairs)) / 10000.0 AS within_01_share
      FROM agg"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x220_simhash_radius", x220SimhashRadius _, x220OracleSql),
    Entry("x221_minhash_error", x221MinhashError _, x221OracleSql))
}
