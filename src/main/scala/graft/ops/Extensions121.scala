package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions.md5_bucket60
import graft.model.Tables

/** One-hundred-twenty-first extension batch — two corpus-curation
  * staples the inventory lacked:
  *
  * Winnowing fingerprints (x271; Schleimer, Wilkerson & Aiken 2003 —
  * the MOSS algorithm): position-aware LOCAL fingerprinting. Every
  * k-gram hashes, and each sliding window of `w` consecutive k-gram
  * positions contributes its MINIMUM hash to the document's
  * fingerprint set. The guarantee the paper proves: any shared run of
  * at least w+k−1 tokens is caught by at least one shared fingerprint,
  * while the index stores ~1/w of the k-grams — the "detect long
  * matches with a fraction of the postings" point on the dedup
  * spectrum between x02's full shingle index and x03's MinHash
  * sketch. Overlap pairs join on the sparse fingerprint index only.
  *
  * Temperature-scaled source mixing (x272): the training-mix
  * materializer — sample each source in proportion to n_s^α (α = 1/2
  * here: the sqrt temperature that upweights small sources, the
  * standard multilingual/multi-domain mixing trick), with EXACT
  * integer quota arithmetic: integer weights floor(sqrt(n_s)),
  * largest-remainder apportionment of the target N (ties by source),
  * and a deterministic md5-rank pick inside each source — the same
  * growth-stable hash-order discipline as x60's split, so re-running
  * on the same corpus reproduces byte-identical selections.
  */
object Extensions121 {

  // ---- x271: winnowing fingerprint overlap ---------------------------------------

  /** (doc_id, fp) — the distinct winnowing fingerprint set per doc:
    * word k-grams hashed to 60-bit md5 keys, min per sliding window of
    * `w` positions. Per-doc windows (partitioned, never global); the
    * fingerprint set is ~n/w keys per doc.
    */
  private[graft] def winnowFingerprints(
      corpus: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1)
    val words = split(lower(col(textCol)), " ")
    val grams = transform(
      sequence(lit(1), greatest(size(words) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(words, i, lit(k))))
    val hashed = corpus
      .select(col(idCol).as("doc_id"), posexplode(grams).as(Seq("pos0", "g")))
      // 1-based positions: the full-window filter below counts windows
      // from 1 (posexplode is 0-based)
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        md5_bucket60(col("g")).as("h"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    // one fingerprint per window START; the distinct collapses repeats
    hashed
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("fp", min(col("h")).over(win))
      // only full windows select (the paper's definition); short docs
      // (< w windows) keep their single global min via the first window
      .filter(col("pos") <= greatest(col("n") - (w - 1), lit(1)))
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Document pairs sharing at least `minShared` winnowing
    * fingerprints: (doc_a, doc_b, n_shared), doc_a < doc_b. The join
    * runs on the winnowed index — ~1/w the posting volume of the full
    * k-gram index for the same ≥(w+k−1)-token match guarantee.
    */
  def winnowingPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, minShared: Long = 2L): DataFrame = {
    val fps = Extensions.materialized(
      winnowFingerprints(corpus, idCol, textCol, k, w))
    fps.as("a").join(fps.as("b").hint("shuffle_hash"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** x271: winnowed overlap pairs on the documents fixture. */
  def x271Winnowing(s: SparkSession, dir: String): DataFrame =
    winnowingPairs(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x271OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                 FROM documents),
      gr AS (SELECT doc_id, i AS pos,
                    ('0x' || substr(md5(array_to_string(toks[i:i+3], ' ')),
                      1, 15))::BIGINT AS h
             FROM d, UNNEST(generate_series(1,
               CASE WHEN len(toks) >= 4 THEN len(toks) - 3 ELSE 1 END)) AS g(i)),
      winmin AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM gr),
      fps AS (
        SELECT DISTINCT doc_id, fp FROM winmin
        WHERE pos <= greatest(n - 4, 1))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2
      ORDER BY doc_a, doc_b"""

  // ---- x272: temperature-scaled source mixing --------------------------------------

  /** Per-source mixing card for a target corpus of `totalTarget` docs
    * at sqrt temperature: (source, n_docs, weight, quota, n_selected,
    * sel_docid_sum). `weight = floor(sqrt(n_s))`
    * (integer — both engines evaluate the same IEEE sqrt on the same
    * integer, so the floor agrees bit-for-bit); quotas apportion
    * `totalTarget` by largest remainder (exact integers, ties by
    * source name); a quota above the source's size selects the whole
    * source (this card never replicates). The selected set itself is
    * the md5-rank prefix per source; `sel_docid_sum` is its exact
    * witness — two engines agreeing on the sum of selected ids agree
    * on the selection.
    *
    * Scale: the per-source stats and quotas are O(sources) driver
    * arithmetic; the pick is one per-source window rank (sources
    * partition the corpus — no global sort) and a broadcast quota
    * join. At 100 TB the rank is the same partitioned top-k every
    * stratified sampler pays.
    */
  def temperatureMix(
      corpus: DataFrame, idCol: String, srcCol: String,
      totalTarget: Long): DataFrame = {
    require(totalTarget >= 0)
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("doc_id"),
      col(srcCol).as("source"))
    // Bounded collect (r13 sweep): the quota arithmetic below is a
    // driver fold over sources — fine for corpus-mixing cardinalities,
    // wrong for a near-unique source column; loud-refuse in one pass.
    val sourceCap = 100000
    val counts = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .limit(sourceCap + 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    require(counts.length <= sourceCap,
      s"temperatureMix: more than $sourceCap distinct sources — the quota " +
        "fold is per-source on the driver; coarsen the source column first")
    require(counts.nonEmpty, "temperatureMix: empty corpus")
    val weighted = counts.map { case (s, n) =>
      (s, n, math.floor(math.sqrt(n.toDouble)).toLong) }
    val wSum = weighted.map(_._3).sum
    require(wSum > 0, "temperatureMix: every source is empty")
    val floored = weighted.map { case (s, n, wt) =>
      (s, n, wt, totalTarget * wt / wSum, totalTarget * wt % wSum) }
    val extra = (totalTarget - floored.map(_._4).sum).toInt
    val bumped = floored.sortBy { case (s, _, _, _, rem) => (-rem, s) }
      .zipWithIndex
      .map { case ((s, n, wt, q, _), i) => (s, n, wt, if (i < extra) q + 1L else q) }
      .sortBy(_._1)
    val quotaDf = broadcast(bumped.map { case (s, _, _, q) => (s, q) }
      .toSeq.toDF("source", "quota"))
    val rk = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val picked = base
      .withColumn("rk", row_number().over(rk))
      .join(quotaDf, Seq("source"))
      .filter(col("rk") <= col("quota"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_selected"), sum(col("doc_id")).as("sel_docid_sum"))
    bumped.toSeq.toDF("source", "n_docs", "weight", "quota")
      .join(picked, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("weight"), col("quota"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("sel_docid_sum"), lit(0L)).as("sel_docid_sum"))
  }

  /** x272: mix the documents fixture to 300 docs at sqrt temperature. */
  def x272TemperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.load(s, dir, "documents"), "doc_id", "source", 300L)

  private val x272OracleSql: String = """
      WITH counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
        GROUP BY source),
      wt AS (SELECT source, n_docs,
                    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight
             FROM counts),
      tot AS (SELECT CAST(sum(weight) AS BIGINT) AS w FROM wt),
      fl AS (SELECT source, n_docs, weight,
                    300 * weight // tot.w AS q,
                    300 * weight % tot.w AS rem
             FROM wt, tot),
      ext AS (SELECT CAST(300 - sum(q) AS BIGINT) AS e FROM fl),
      quota AS (
        SELECT source, n_docs, weight,
               q + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                         <= ext.e THEN 1 ELSE 0 END AS quota
        FROM fl, ext),
      ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents),
      sel AS (
        SELECT r.source, CAST(count(*) AS BIGINT) AS n_selected,
               CAST(sum(r.doc_id) AS BIGINT) AS sel_docid_sum
        FROM ranked r JOIN quota q USING (source)
        WHERE r.rk <= q.quota
        GROUP BY r.source)
      SELECT q.source, q.n_docs, q.weight, CAST(q.quota AS BIGINT) AS quota,
             COALESCE(s.n_selected, 0) AS n_selected,
             COALESCE(s.sel_docid_sum, 0) AS sel_docid_sum
      FROM quota q LEFT JOIN sel s USING (source)
      ORDER BY q.source"""

  val entries: Seq[Entry] = Seq(
    Entry("x271_winnowing", x271Winnowing _, x271OracleSql),
    Entry("x272_temperature_mix", x272TemperatureMix _, x272OracleSql))
}
