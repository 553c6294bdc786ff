package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.BloomFunctions
import graft.model.Tables

/** One-hundred-fifth extension batch — three 100 TB table-motion tools:
  *
  *  - Bloom-pruned semi join (x238): when the "small" side of a semi
  *    join is too big to broadcast but its Bloom filter fits the driver
  *    (10^9 keys ≈ 1.2 GB at 1% fpp; 10^7 ≈ 12 MB), probe the filter at
  *    the large side's SCAN and only shuffle the survivors into the
  *    exact join. No false negatives means the answer is EXACTLY the
  *    exact semi join — fpp only prices the verification join, never
  *    correctness. This is the explicit form of Spark's runtime bloom
  *    join pruning, usable where the optimizer won't inject it
  *    (pre-aggregated keys, reused filters, cross-query reuse).
  *  - Z-order layout (x239 + [[zOrderWrite]]): interleave the bits of
  *    two range-bucketed sort dimensions so ANY contiguous z-range is a
  *    tight rectangle in (x, y) — the data-layout trick that makes
  *    min/max file pruning work on BOTH filter columns instead of just
  *    the leading sort key. The card proves the geometry (per z-bucket
  *    spans on both dims); the writer materializes it
  *    (`repartitionByRange` on the z-value, sort within partitions).
  *  - Overlapping chunker (x240): the RAG/embedding-prep transform —
  *    fixed-size token windows with overlap, the last window clamped
  *    back to full size (training wants uniform chunks, so the tail
  *    overlaps more rather than running short). Deterministic ids from
  *    the start offsets.
  *
  * Scale shapes: the bloom build is one map-side-combining aggregation
  * to a single O(filter-bytes) driver value; the z-value is pure
  * per-row integer arithmetic under whole-stage codegen after a 1-row
  * bounds agg; the chunker is one projection + one explode (output
  * tracks chunks, never pairs).
  */
object Extensions105 {

  // ---- x238: Bloom-pruned semi join ----------------------------------------------

  /** Exact `large LEFT SEMI JOIN small` on `largeKey = smallKey`, with a
    * driver-built Bloom filter of the small side's keys probed BEFORE
    * the shuffle. Survivor volume is `|matches| + fpp × |large|`, so at
    * selectivity s the shuffle shrinks by ~(1−s−fpp): the win the
    * optimizer's runtime filter gets on one query, available here as a
    * library verb (and the built filter is reusable across queries).
    *
    * Driver cost: one O(filter-bytes) collect — `expectedItems` sizes
    * it (1% fpp ≈ 9.6 bits/key). Falls back gracefully: an undersized
    * filter only raises fpp (more verification work), never misses a
    * key.
    */
  def bloomSemiJoin(
      large: DataFrame, largeKey: String,
      small: DataFrame, smallKey: String,
      expectedItems: Long): DataFrame = {
    require(expectedItems >= 1)
    val bloom = small
      .select(BloomFunctions.bloomFilterAgg(xxhash64(col(smallKey)), expectedItems)
        .as("bf"))
      .head.getAs[Array[Byte]](0)
    val keys = small.select(col(smallKey).as("__bsj_key")).distinct()
    large
      .filter(BloomFunctions.mightContain(lit(bloom), xxhash64(col(largeKey))))
      .join(keys, col(largeKey) === col("__bsj_key"), "left_semi")
  }

  /** x238: lineitems of high-value orders — the order-key set is
    * order-count-sized (too big to broadcast at scale), its Bloom is
    * megabytes. Aggregated so the survivors, not the card, are what the
    * oracle hashes.
    */
  def x238BloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val hi = Tables.load(s, dir, "orders")
      .filter(col("o_totalprice") > 200000.0)
    bloomSemiJoin(li, "l_orderkey", hi, "o_orderkey", expectedItems = 1L << 16)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
  }

  private val x238OracleSql: String = """
      SELECT l_returnflag, count(*) AS n_items,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 200000.0)
      GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---- x239: Z-order layout ------------------------------------------------------

  /** 32-bit Morton code of two 16-bit lanes: bit b of `xb` lands at
    * position 2b, bit b of `yb` at 2b+1. Pure shifts/ands/ors — stays
    * inside whole-stage codegen.
    */
  private[graft] def morton32(xb: Column, yb: Column): Column =
    (0 until 16).map { b =>
      shiftleft(shiftright(xb, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(shiftleft(shiftright(yb, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_.bitwiseOR(_))

  /** Rows + z-value: each dim range-bucketed to [0, 2^16) by integer
    * arithmetic against a 1-row (broadcast) bounds agg, then Morton-
    * interleaved. `xCol`/`yCol` must be integral.
    */
  def withZValue(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val bounds = df.agg(
      min(col(xCol)).cast("long").as("__xmin"),
      max(col(xCol)).cast("long").as("__xmax"),
      min(col(yCol)).cast("long").as("__ymin"),
      max(col(yCol)).cast("long").as("__ymax"))
    // floor(double) here is exact floor division: numerator ≤ 2^16·range
    // and denominator ≤ range keep the correctly-rounded quotient more
    // than 1e-10 away from any integer it doesn't equal.
    def bucket(v: Column, lo: Column, hi: Column): Column =
      floor(((v.cast("long") - lo) * lit(65536L)) / (hi - lo + lit(1L)))
    df.crossJoin(broadcast(bounds))
      .withColumn("zval", morton32(
        bucket(col(xCol), col("__xmin"), col("__xmax")),
        bucket(col(yCol), col("__ymin"), col("__ymax"))))
      .drop("__xmin", "__xmax", "__ymin", "__ymax")
  }

  /** Write `df` parquet in z-order on (xCol, yCol): range-partition on
    * the z-value into `targetFiles` files, sort within each. After this
    * layout, a rectangle predicate on EITHER dim prunes files by their
    * min/max footers — the card (x239) is the geometric proof.
    */
  def zOrderWrite(
      df: DataFrame, xCol: String, yCol: String,
      path: String, targetFiles: Int): Unit =
    withZValue(df, xCol, yCol)
      .repartitionByRange(targetFiles, col("zval"))
      .sortWithinPartitions(col("zval"))
      .drop("zval")
      .write.mode("overwrite").parquet(path)

  /** x239: the layout card — bucket lineitem by the top 4 z-bits of
    * (l_partkey, l_suppkey) (16 "files") and report each bucket's span
    * on both dims. Z-order's promise, measurable: every bucket covers
    * ≈1/4 of EACH dim's range (a 4×4 grid), where a partkey-sorted
    * layout covers 1/16 of partkey but ALL of suppkey.
    */
  def x239ZOrderCard(s: SparkSession, dir: String): DataFrame =
    withZValue(Tables.load(s, dir, "lineitem"), "l_partkey", "l_suppkey")
      .withColumn("zbucket", shiftright(col("zval"), 28))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("x_min"), max(col("l_partkey")).as("x_max"),
        min(col("l_suppkey")).as("y_min"), max(col("l_suppkey")).as("y_max"))

  private val x239OracleSql: String = """
      WITH bounds AS (
        SELECT CAST(min(l_partkey) AS BIGINT) AS xmin, CAST(max(l_partkey) AS BIGINT) AS xmax,
               CAST(min(l_suppkey) AS BIGINT) AS ymin, CAST(max(l_suppkey) AS BIGINT) AS ymax
        FROM lineitem),
      bk AS (
        SELECT l_partkey, l_suppkey,
               (CAST(l_partkey AS BIGINT) - xmin) * 65536 // (xmax - xmin + 1) AS xb,
               (CAST(l_suppkey AS BIGINT) - ymin) * 65536 // (ymax - ymin + 1) AS yb
        FROM lineitem CROSS JOIN bounds),
      z AS (
        SELECT l_partkey, l_suppkey,
               CAST(list_sum([(((xb >> b) & 1) << (2 * b))
                            + (((yb >> b) & 1) << (2 * b + 1))
                              for b in generate_series(0, 15)]) AS BIGINT) AS zval
        FROM bk)
      SELECT zval >> 28 AS zbucket, count(*) AS n_rows,
             min(l_partkey) AS x_min, max(l_partkey) AS x_max,
             min(l_suppkey) AS y_min, max(l_suppkey) AS y_max
      FROM z GROUP BY 1 ORDER BY 1"""

  // ---- x240: overlapping chunker -------------------------------------------------

  /** Fixed-size overlapping token chunks: windows of `size` tokens
    * starting every `size − overlap` tokens; any start past
    * `len − size + 1` clamps back so the LAST chunk is full-size (the
    * tail overlaps more instead of running short); docs shorter than
    * `size` yield their one (short) chunk. Output one row per chunk:
    * (doc_id, chunk_idx, start, n_toks, chunk_text).
    *
    * [[Extensions4.chunkDocuments]] is the strided sibling whose tail
    * chunks run SHORT (right before packing, where the packer absorbs
    * ragged ends); this variant is for uniform-window consumers —
    * embedding models and fixed-shape training batches — where a short
    * tail is a wasted slot.
    *
    * Scale: one projection + one explode; chunk count per doc is
    * ~len/step, so output volume is corpus × (1 + overlap/step) tokens
    * — linear, no joins, no windows.
    *
    * Thin adapter over [[Chunker.strided]] (round-14 consolidation;
    * kernel siblings: x36 [[Extensions4.chunkDocuments]] keeps raw
    * tokens and short tails, x333 [[Extensions146.chunkText]] lowercases
    * and trims fully-redundant tails — this form clamps the last start
    * so the final chunk is full-size).
    */
  def chunkDocuments(
      corpus: DataFrame, idCol: String, textCol: String,
      size: Int = 64, overlap: Int = 16): DataFrame = {
    require(size >= 1 && overlap >= 0 && overlap < size)
    Chunker.strided(corpus, idCol, textCol, size, size - overlap,
        lowercase = false, dropEmptyTokens = true, Chunker.ClampedTail)
      .select(col("doc_id"), col("chunk_idx"),
        (col("start0") + 1L).as("start"), col("n_toks"), col("chunk_text"))
  }

  /** x240: chunk the fixture corpus for embedding prep. */
  def x240Chunks(s: SparkSession, dir: String): DataFrame =
    chunkDocuments(Tables.load(s, dir, "documents"), "doc_id", "text",
      size = 64, overlap = 16)

  private val x240OracleSql: String = """
      WITH d AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        FROM documents),
      dl AS (SELECT doc_id, toks, len(toks) AS l FROM d WHERE len(toks) > 0),
      raw AS (
        SELECT doc_id, toks, l,
               least(g.s, greatest(l - 64 + 1, 1)) AS start
        FROM dl, UNNEST(generate_series(1, greatest(l - 16, 1), 48)) AS g(s)),
      st AS (SELECT DISTINCT doc_id, toks, l, start FROM raw),
      idx AS (
        SELECT doc_id, start,
               row_number() OVER (PARTITION BY doc_id ORDER BY start) - 1 AS chunk_idx,
               toks[start:start+63] AS ck
        FROM st)
      SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             CAST(start AS BIGINT) AS start,
             CAST(len(ck) AS BIGINT) AS n_toks,
             array_to_string(ck, ' ') AS chunk_text
      FROM idx ORDER BY doc_id, chunk_idx"""

  val entries: Seq[Entry] = Seq(
    Entry("x238_bloom_semi_join", x238BloomSemiJoin _, x238OracleSql),
    Entry("x239_zorder_card", x239ZOrderCard _, x239OracleSql),
    Entry("x240_chunks", x240Chunks _, x240OracleSql))
}
