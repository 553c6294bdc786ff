package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Scale-technique operators: explicit physical-join control (SMJ vs BHJ),
  * salting for skewed keys, and bucketed layouts. These are the knobs a
  * 1000-executor deployment turns; demonstrated here as first-class library
  * functions with oracle/equivalence checks.
  */
object Scale {

  /** Sort-merge join pinned via the `merge` hint — the plan Spark picks on
    * its own once both sides exceed the broadcast threshold (i.e., the plan
    * this query WILL be at 100 TB; pinning it makes the bench measure the
    * at-scale shape instead of a small-data broadcast shortcut).
    */
  def q48SortMergeJoin(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders").hint("merge")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("gross"))
  }

  /** Salted equi-join for skewed keys: the large (skewed) side gets a random-
    * free deterministic salt derived from a high-cardinality column; the
    * small side is exploded across all salt values. Result is identical to
    * the plain join (SkewSpec asserts it) while the shuffle spreads each hot
    * key over `saltBuckets` reducers.
    *
    * AQE's skew-join handling covers sort-merge joins automatically; explicit
    * salting remains necessary for skewed *aggregations* and for stateful
    * streaming keys, so the engine ships it as a reusable transform.
    */
  def saltedJoin(
      large: DataFrame, small: DataFrame, key: String,
      saltBuckets: Int, saltSource: Column): DataFrame = {
    val salted = large.withColumn("__salt", pmod(hash(saltSource), lit(saltBuckets)))
    val exploded = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(exploded, Seq(key, "__salt")).drop("__salt")
  }

  /** Heat-driven salt-bucket decision for a join/aggregation key: ONE
    * per-key count + a 1-row (max, sum, count) reduction of the key
    * table — the [[Extensions77.hotPartitionReport]] arithmetic — and
    * an O(1) driver read. Returns 1 when no key is hot (share ≤
    * `hotFactor` × the mean share — the same integer comparison as the
    * report's flag, no float threshold); otherwise
    * min(`maxBuckets`, ceil(hottest key's share / mean share)), i.e.
    * enough buckets to bring the hottest key's per-bucket load down to
    * roughly the mean key's load.
    *
    * Scale: the measurement is one hash-agg (partial+final) over the
    * large side plus a 1-row collect — the cheap pre-pass that saves
    * the straggler task; at 100 TB the skewed join it prevents costs
    * hours, the measurement costs one scan.
    */
  def saltDecision(large: DataFrame, key: String, hotFactor: Long = 3L,
      maxBuckets: Int = 64): Int = {
    val row = large.select(col(key).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("maxc"), sum(col("c")).cast("long").as("tot"),
        count(lit(1)).as("nids"))
      .head()
    if (row.isNullAt(0)) 1
    else {
      val (maxc, tot, nids) = (row.getLong(0), row.getLong(1), row.getLong(2))
      // BigInt, not Long: maxc·nids multiplies two corpus-scale counts
      // (1e12 rows × 1e8 keys wraps a signed 64-bit product negative,
      // silently disabling the salt) — the same 128-bit discipline the
      // x215 planner applies to the identical arithmetic.
      if (BigInt(maxc) * nids <= BigInt(hotFactor) * tot) 1
      else ((BigInt(maxc) * nids + tot - 1) / tot).min(BigInt(maxBuckets)).toInt
    }
  }

  /** [[saltDecision]] on a hash-deterministic row sample — the 100 TB
    * form of the pre-pass: the exact decision scans the full large side
    * to compute one integer; at a trillion rows that is a whole extra
    * pass. Sampling `sampleFraction` of rows (by a 64-bit hash of the
    * FULL row against a fixed threshold — deterministic across
    * runs/retries, no RNG/partition seeding, so the decision is
    * reproducible; bit-identical duplicate rows sample together) scales
    * every count by ~f and the decision ratio maxc·nids/tot is
    * f-invariant EXCEPT for nids: rare keys fall out of the sample, so
    * the sampled distinct count UNDERSTATES the true one and the ratio
    * reads low. `safetyPct` compensates: the hot trigger and the bucket
    * ceil both scale by (100+safetyPct)/100.
    *
    * Error bound (documented, asserted on the planted-hub fixture): for
    * the regime salting exists for — one key holding share s of N rows
    * with N·f·s ≫ 1 — the hub's sampled count concentrates within
    * O(1/sqrt(N·f·s)) of f·N·s (Chernoff), so the decision matches the
    * exact pass whenever the exact ratio is at least ~(1+ε) away from
    * the hotFactor threshold; borderline-hot keys may resolve either
    * way, which the safety margin biases toward salting (the cheap
    * error: a few extra buckets, not a straggler).
    */
  def saltDecisionSampled(
      large: DataFrame, key: String, sampleFraction: Double,
      hotFactor: Long = 3L, maxBuckets: Int = 64,
      safetyPct: Int = 25): Int = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    require(safetyPct >= 0)
    if (sampleFraction >= 1.0) return saltDecision(large, key, hotFactor, maxBuckets)
    val m = 1L << 32
    val thr = math.max(1L, (sampleFraction * m).toLong)
    val row = large
      .filter(pmod(xxhash64(large.columns.map(col): _*), lit(m)) < lit(thr))
      .select(col(key).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("maxc"), sum(col("c")).cast("long").as("tot"),
        count(lit(1)).as("nids"))
      .head()
    if (row.isNullAt(0)) 1 // empty sample: nothing measurably hot
    else {
      val (maxc, tot, nids) = (row.getLong(0), row.getLong(1), row.getLong(2))
      val num = BigInt(maxc) * nids * (100L + safetyPct)
      val den = BigInt(tot) * 100L
      if (num <= BigInt(hotFactor) * den) 1
      else ((num + den - 1) / den).min(BigInt(maxBuckets)).toInt
    }
  }

  /** Measure-then-salt equi-join: run [[saltDecision]] on the large
    * side's key distribution; a plain join when no key is hot, a
    * [[saltedJoin]] with the computed bucket count when one is — the
    * heat report wired into the decision it exists to inform. The
    * result is identical either way (ScaleSpec asserts it on a
    * planted-hub fixture); only the shuffle layout changes.
    */
  def autoSalted(large: DataFrame, small: DataFrame, key: String,
      saltSource: Column, hotFactor: Long = 3L,
      maxBuckets: Int = 64): DataFrame = {
    val buckets = saltDecision(large, key, hotFactor, maxBuckets)
    if (buckets <= 1) large.join(small, Seq(key))
    else saltedJoin(large, small, key, buckets, saltSource)
  }

  /** Salted aggregation: two-phase (salt-local partial, then final) — the
    * pattern for a groupBy where one key dominates. Phase one reduces each
    * hot key to `saltBuckets` partials; phase two folds those.
    */
  def saltedCount(df: DataFrame, key: String, saltBuckets: Int,
      saltSource: Column): DataFrame =
    df.withColumn("__salt", pmod(hash(saltSource), lit(saltBuckets)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as("n"))

  /** Measure-then-salt aggregation: [[saltDecision]] on the key
    * distribution picks the bucket count; a plain count when no key is
    * hot, the two-phase [[saltedCount]] when one is — [[autoSalted]]'s
    * sibling for the skewed-groupBy case (note: for a plain COUNT
    * Spark's partial aggregation already combines map-side, so salting
    * buys little; the shape matters for holistic aggregates — distinct
    * counts, percentile buffers, collect_list — where one hot key's
    * final-stage buffer is the straggler. Counts keep the contract
    * testable).
    */
  def autoSaltedCount(df: DataFrame, key: String, saltSource: Column,
      hotFactor: Long = 3L, maxBuckets: Int = 64): DataFrame = {
    val buckets = saltDecision(df, key, hotFactor, maxBuckets)
    if (buckets <= 1) df.groupBy(col(key)).agg(count(lit(1)).as("n"))
    else saltedCount(df, key, buckets, saltSource)
  }

  /** File-layout audit of a written store: per partition directory
    * (or the root when unpartitioned) — file count, total/min/max
    * bytes, and a small-files flag (mean file size below
    * `smallBytes`). The 100 TB failure this catches is the silent one:
    * a store appended in many micro-batches accumulates thousands of
    * KB-sized files per partition, and every downstream scan pays open
    * costs instead of bandwidth — the signal that a compaction
    * ([[PqStore.compactIndex]] / rewrite) is due.
    *
    * Driver-side by design: it reads FILESYSTEM METADATA (one listing
    * per partition dir), never data — O(files) names, zero Spark jobs.
    */
  def storeLayoutAudit(
      spark: SparkSession, path: String,
      smallBytes: Long = 8L << 20): DataFrame = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"storeLayoutAudit: no such path $path")
    val subdirs = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(p => p.getName.contains("="))
    val groups: Seq[(String, org.apache.hadoop.fs.Path)] =
      if (subdirs.nonEmpty) subdirs.map(p => p.getName -> p).toSeq
      else Seq("." -> root)
    groups.map { case (name, p) =>
      val files = fs.listStatus(p).filter(f =>
        f.isFile && !f.getPath.getName.startsWith("_"))
      val sizes = files.map(_.getLen)
      val n = sizes.length.toLong
      val tot = sizes.sum
      (name, n, tot,
        if (n > 0) sizes.min else 0L,
        if (n > 0) sizes.max else 0L,
        n > 0 && tot / n < smallBytes)
    }.toDF("partition", "n_files", "total_bytes", "min_bytes", "max_bytes",
      "small_files")
      .orderBy(col("partition"))
  }

  /** S7-style DDL + bucketed layout: register the event log as a bucketed,
    * sorted table so downstream key joins/aggregations on `user_id` are
    * co-located (no exchange). Bucket count pins the join parallelism.
    */
  def writeBucketedEvents(s: SparkSession, dir: String, table: String,
      buckets: Int = 8): Unit = {
    Tables.load(s, dir, "events")
      .write.mode("overwrite")
      .bucketBy(buckets, "user_id")
      .sortBy("user_id", "event_id")
      .format("parquet")
      .saveAsTable(table)
  }

  val entries: Seq[Entry] = Seq(
    Entry("q48_sort_merge_join", q48SortMergeJoin _, """
      SELECT o_orderpriority, count(*) AS n_items,
             round(sum(l_extendedprice), 2) AS gross
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))
}
