package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Distributed exact global ranking — row_number / rank / dense_rank /
  * ntile over a TOTAL order without ever moving the data to one
  * partition (the caveat q20 carries: a global `Window.orderBy` is a
  * single-task sort, fine for an aggregated demo, fatal on a raw fact
  * table).
  *
  * The classic parallel order-statistics shape:
  *   1. `repartitionByRange` on the sort key — Spark samples the key
  *      distribution and broadcasts range bounds, so partition i holds
  *      a contiguous key range and partitions are load-balanced. Equal
  *      keys land in ONE partition (the partitioner is a pure function
  *      of the key), which is what makes per-partition ranks globally
  *      correct for rank/dense_rank.
  *   2. One O(parts)-row stats pass: rows + distinct sort keys per
  *      range partition, collected to the driver (≤ `parts` rows — the
  *      only driver-side state).
  *   3. Per-partition local ranks via a window PARTITIONED by the
  *      range-partition id (max task = one balanced range partition,
  *      never the corpus), plus the broadcast cumulative offsets:
  *      global row_number = local + rows-before, global rank = local
  *      rank + rows-before, global dense_rank = local + distinct-keys-
  *      before.
  *   4. ntile from the exact global row_number and the driver-known
  *      total: SQL-standard distribution (first total%tiles buckets get
  *      the extra row) as a closed-form integer expression.
  *
  * Scale: two passes over the data (stats + rank), one O(parts)
  * collect, one broadcast of a parts-row table. At 100 TB this is the
  * plan a 1000-executor global rank MUST have; the single-window
  * alternative is a one-task sort of the corpus.
  */
object Rank {

  /** Append exact global `rn` (row_number), `rnk` (rank), `drk`
    * (dense_rank) and `tile` (ntile of `tiles`) columns for the total
    * order given by `keys` × `descending`. Ties beyond `keys` do not
    * exist for rank/dense_rank (they key on the full tuple); for a
    * deterministic `rn`/`tile`, pass keys that form a total order
    * (append a unique tiebreak column, as any windowed ntile needs).
    */
  def globalRank(
      df: DataFrame, keys: Seq[String], descending: Seq[Boolean],
      parts: Int = 32, tiles: Int = 4): DataFrame = {
    require(keys.nonEmpty && keys.length == descending.length,
      "globalRank: keys and descending flags must align")
    require(parts >= 1 && tiles >= 1)
    val sortCols: Seq[Column] = keys.zip(descending).map {
      case (k, true)  => col(k).desc
      case (k, false) => col(k).asc
    }
    // materialize AFTER stamping the partition id: the stats pass and
    // the rank pass must see the same layout, and the expensive range
    // shuffle must run once
    val parted = Extensions.materialized(
      df.repartitionByRange(parts, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    // countDistinct over a STRUCT of the keys, not the bare columns: a
    // multi-column countDistinct drops any tuple containing a NULL (SQL
    // semantics), while the per-partition dense_rank() window counts a
    // null key as a rank value — bare-column counting would undercount
    // __keys_before and shift every later partition's drk low. A struct
    // is non-null even when its fields are, so the tuple count matches
    // the window's distinct-ordering-value count exactly.
    val stats = parted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("c"),
        countDistinct(struct(keys.map(col): _*)).as("d"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val total = stats.map(_._2).sum
    var rowsB = 0L
    var keysB = 0L
    val offs = stats.map { case (pid, c, d) =>
      val o = (pid, rowsB, keysB); rowsB += c; keysB += d; o
    }.toSeq
    val spark = df.sparkSession
    val offDf =
      if (offs.isEmpty)
        spark.createDataFrame(Seq((0, 0L, 0L))).limit(0)
          .toDF("__pid", "__rows_before", "__keys_before")
      else spark.createDataFrame(offs)
        .toDF("__pid", "__rows_before", "__keys_before")
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    // SQL-standard ntile on the exact global row_number: with
    // q = total/tiles and r = total%tiles, the first r tiles hold q+1
    // rows. All-integer (DIV) arithmetic — no float tile boundaries.
    val q = total / tiles
    val r = total % tiles
    val cut = r * (q + 1)
    val tileCol =
      when(col("rn") <= lit(cut), expr(s"(rn - 1) DIV ${q + 1} + 1"))
        .otherwise(expr(s"$r + (rn - 1 - $cut) DIV ${math.max(q, 1L)} + 1"))
    parted
      .withColumn("__lrn", row_number().over(w).cast("long"))
      .withColumn("__lrk", rank().over(w).cast("long"))
      .withColumn("__ldr", dense_rank().over(w).cast("long"))
      .join(broadcast(offDf), Seq("__pid"))
      .withColumn("rn", col("__lrn") + col("__rows_before"))
      .withColumn("rnk", col("__lrk") + col("__rows_before"))
      .withColumn("drk", col("__ldr") + col("__keys_before"))
      .withColumn("tile", tileCol.cast("int"))
      .drop("__pid", "__lrn", "__lrk", "__ldr", "__rows_before", "__keys_before")
  }

  /** Exact global INCLUSIVE prefix sum of `valueCol` over the total
    * order given by `keys` × `descending` — the weighted sibling of
    * [[globalRank]], same two-pass order-statistics shape: range
    * partition on the sort key, one O(parts)-row per-partition-sum
    * collect, per-partition window + broadcast cumulative offsets.
    * Appends a `ps` DECIMAL(38,0) column (sums ride DECIMAL per the
    * width rule: a token-count prefix over 1e12 docs is fine in a
    * long, but a cents prefix is not). The primitive under sequence
    * packing (x322) and any "where does this row land in the global
    * accumulation" question a single-partition window cannot survive.
    */
  def globalPrefixSum(
      df: DataFrame, keys: Seq[String], descending: Seq[Boolean],
      valueCol: String, parts: Int = 32): DataFrame =
    globalPrefixSums(df, keys, descending, Seq(valueCol), parts)
      .withColumnRenamed(s"ps_$valueCol", "ps")

  /** Multi-column sibling of [[globalPrefixSum]]: ONE range shuffle and
    * ONE stats pass carrying every requested running sum (appends a
    * `ps_<col>` DECIMAL(38,0) per value column). The shape the KS
    * statistic needs (two arms' cumulative counts over one shared value
    * grid) without paying the two-pass machinery per column.
    */
  def globalPrefixSums(
      df: DataFrame, keys: Seq[String], descending: Seq[Boolean],
      valueCols: Seq[String], parts: Int = 32): DataFrame = {
    require(keys.nonEmpty && keys.length == descending.length,
      "globalPrefixSums: keys and descending flags must align")
    require(parts >= 1 && valueCols.nonEmpty)
    val sortCols: Seq[Column] = keys.zip(descending).map {
      case (k, true)  => col(k).desc
      case (k, false) => col(k).asc
    }
    val parted = Extensions.materialized(
      df.repartitionByRange(parts, sortCols: _*)
        .withColumn("__pid", spark_partition_id()))
    val stats = parted.groupBy(col("__pid"))
      .agg(sum(col(valueCols.head).cast("decimal(38,0)")).as("s0"),
        valueCols.tail.zipWithIndex.map { case (c, i) =>
          sum(col(c).cast("decimal(38,0)")).as(s"s${i + 1}")
        }: _*)
      .collect()
      .map(r => (r.getInt(0), valueCols.indices.map(i =>
        if (r.isNullAt(i + 1)) BigInt(0)
        else BigInt(r.getDecimal(i + 1).toBigInteger))))
      .sortBy(_._1)
    val accs = Array.fill(valueCols.length)(BigInt(0))
    val offs = stats.map { case (pid, ss) =>
      val o = (pid, valueCols.indices.map(i => BigDecimal(accs(i))))
      valueCols.indices.foreach(i => accs(i) += ss(i))
      o
    }.toSeq
    val spark = df.sparkSession
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType, nullable = false) +:
        valueCols.indices.map(i =>
          org.apache.spark.sql.types.StructField(s"__sb$i",
            org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0),
            nullable = false)))
    val offRows = offs.map { case (pid, bs) =>
      org.apache.spark.sql.Row.fromSeq(
        pid +: bs.map(_.underlying().setScale(0)))
    }
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1), offSchema)
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localised = valueCols.zipWithIndex.foldLeft(parted) {
      case (d, (c, i)) =>
        d.withColumn(s"__lps$i", sum(col(c).cast("decimal(38,0)")).over(w))
    }
    val joined = localised.join(broadcast(offDf), Seq("__pid"))
    val summed = valueCols.zipWithIndex.foldLeft(joined) {
      case (d, (c, i)) =>
        d.withColumn(s"ps_$c",
          (col(s"__lps$i") + col(s"__sb$i")).cast("decimal(38,0)"))
    }
    summed.drop(
      "__pid" +: valueCols.indices.flatMap(i =>
        Seq(s"__lps$i", s"__sb$i")): _*)
  }

  /** x231: q20's quartile/dense-rank card re-planned scale-safe — the
    * same per-customer spend ranking, but through [[globalRank]]'s
    * range-partitioned order statistics instead of a single-partition
    * window (PlanShape9Spec asserts every window in this plan is
    * partitioned). Same oracle as q20 modulo column names.
    */
  def x231GlobalRank(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("spend"))
    globalRank(perCust, Seq("spend", "o_custkey"), Seq(true, false),
      parts = 8, tiles = 4)
      .select(col("o_custkey"), col("spend"),
        col("tile").as("quartile"), col("drk"))
  }

  val entries: Seq[Entry] = Seq(
    Entry("x231_global_rank", x231GlobalRank _, """
      SELECT o_custkey, spend,
             ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS quartile,
             CAST(dense_rank() OVER (ORDER BY spend DESC, o_custkey) AS BIGINT) AS drk
      FROM (SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
            FROM orders GROUP BY o_custkey) sub
      ORDER BY o_custkey"""))
}
