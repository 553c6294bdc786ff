package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Rank

/** Distributed global ranking ≡ the single-partition window it replaces —
  * including tie runs large enough to be guaranteed to straddle range-
  * partition boundaries if equal keys could ever split (they can't: the
  * range partitioner is a pure function of the key — that invariant is
  * exactly what these tests would catch breaking).
  */
class RankSpec extends SparkSpec {

  test("globalRank ≡ global window on heavy ties, every parts setting") {
    import spark.implicits._
    // 400 rows over only 7 distinct values -> every value is a tie run;
    // id makes the row_number order total
    val df = (1 to 400).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "v")
    val w = Window.orderBy(col("v").desc, col("id"))
    val expect = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drk", dense_rank().over(w).cast("long"))
      .withColumn("tile", ntile(4).over(w))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5))).toSet
    for (parts <- Seq(1, 3, 8)) {
      val got = Rank.globalRank(df, Seq("v", "id"), Seq(true, false),
        parts = parts, tiles = 4)
        .select(col("id"), col("rn"), col("rnk"), col("drk"), col("tile"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getInt(4))).toSet
      assert(got == expect, s"parts=$parts must match the window reference")
    }
  }

  test("ntile distribution is SQL-standard when total % tiles != 0") {
    import spark.implicits._
    // 10 rows, 4 tiles -> sizes 3,3,2,2
    val df = (1 to 10).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    val sizes = Rank.globalRank(df, Seq("v"), Seq(false), parts = 4, tiles = 4)
      .groupBy(col("tile")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1 -> 3L, 2 -> 3L, 3 -> 2L, 4 -> 2L), s"$sizes")
  }

  test("x231 fixture ≡ q20 on sf0.001 (same card, re-planned)") {
    val q20 = SparkEntry.queries("q20_ntile_dense_rank")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2),
        r.getInt(3).toLong)).toSeq.sortBy(_._1)
    val x231 = SparkEntry.queries("x231_global_rank")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    assert(x231 == q20, "the distributed rank must reproduce q20 exactly")
  }

  test("nullable sort keys: drk offsets count the null tuple (struct countDistinct)") {
    import spark.implicits._
    // 120 rows, ~1/4 with a NULL key — nulls sort FIRST under asc, so
    // with parts > 1 the null run fills the earliest range partition and
    // every later partition's dense_rank offset depends on it being
    // counted. A bare-column countDistinct drops the null tuple and
    // shifts every later drk low by one.
    val df = (1 to 120).map { i =>
      (i.toLong, if (i % 4 == 0) None else Some((i % 9).toLong))
    }.toDF("id", "v")
    val w = Window.orderBy(col("v").asc, col("id"))
    val expect = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drk", dense_rank().over(w).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    for (parts <- Seq(2, 5)) {
      val got = Rank.globalRank(df, Seq("v", "id"), Seq(false, false),
        parts = parts)
        .select(col("id"), col("rn"), col("rnk"), col("drk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == expect,
        s"parts=$parts: null keys must count toward the dense-rank offsets")
    }
  }

  test("empty input yields empty output, no failure") {
    import spark.implicits._
    val df = Seq.empty[(Long, Long)].toDF("id", "v")
    assert(Rank.globalRank(df, Seq("v"), Seq(false)).count() == 0L)
  }
}
