package graft

import org.apache.spark.sql.functions._
import graft.ops.Extensions45

/** Batch-45 invariants: k-core peeling cascades (not a one-shot degree
  * filter) and converges on the fixture; SRM and Benford chi-squares
  * match hand computations on planted inputs and flag correctly.
  */
class Extensions45Spec extends SparkSpec {

  test("x122 planted: peeling cascades down a tail; the triangle is the 2-core") {
    import spark.implicits._
    // triangle 0-1-2 plus tail 2-3-4: node 4 (deg 1) peels first, THEN
    // node 3 drops to deg 1 and peels — a one-shot degree filter keeps it
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L))
      .toDF("a", "b")
    val out = Extensions45.kCore(edges, "a", "b", k = 2).collect().sortBy(_.getLong(0))
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L), s"2-core: ${out.toSeq}")
    assert(out.forall(_.getLong(1) == 2L))
  }

  test("x122 planted: pendant node survives nothing; K4 is its own 3-core") {
    import spark.implicits._
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val edges = (k4 :+ ((0L, 9L))).toDF("a", "b")
    val out = Extensions45.kCore(edges, "a", "b", k = 3).collect().sortBy(_.getLong(0))
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.forall(_.getLong(1) == 3L))
  }

  test("x122 fixture: six peel rounds reach the fixed point") {
    val a = SparkEntry.queries("x122_kcore")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a.nonEmpty)
    assert(a.forall(_._2 >= 3L), "every member has in-core degree >= k")
    // one more round changes nothing -> the peel converged within budget
    val cs = spark.read.parquet(s"$sf0001/orders.parquet")
      .join(spark.read.parquet(s"$sf0001/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp")).distinct()
    val shared = cs.as("x").join(cs.as("y"),
        col("x.c") === col("y.c") && col("x.sp") < col("y.sp"))
      .groupBy(col("x.sp").as("s1"), col("y.sp").as("s2"))
      .agg(count(lit(1)).as("shared"))
    val tot = shared.agg(count(lit(1)).as("np"), sum(col("shared")).as("ts"))
    val backbone = shared.crossJoin(broadcast(tot))
      .filter(col("shared") * col("np") > col("ts"))
      .select(col("s1"), col("s2"))
    val b = Extensions45.kCore(backbone, "s1", "s2", k = 3, iters = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b, "iters=6 vs iters=7 must agree once stable")
  }

  test("x123 planted: hand-computed chi-square for an 80/20 split on a 50/50 design") {
    import spark.implicits._
    val assign = ((1 to 800).map(i => (i.toLong, "a"))
      ++ (801 to 1000).map(i => (i.toLong, "b"))).toDF("unit", "arm")
    val out = Extensions45.srmCheck(assign, "arm", Seq("a" -> 500, "b" -> 500))
      .collect()
    // per arm: (1000*800 - 1000*500)^2 / (1000*1000*500) = 180; chi2 = 360
    out.foreach { r =>
      assert(r.getDouble(4) == 180.0, s"contrib: $r")
      assert(r.getDouble(5) == 360.0 && r.getBoolean(6), s"chi2/flag: $r")
    }
  }

  test("x123 planted: a perfect 50/50 split has chi2 0 and no SRM") {
    import spark.implicits._
    val assign = ((1 to 500).map(i => (i.toLong, "a"))
      ++ (501 to 1000).map(i => (i.toLong, "b"))).toDF("unit", "arm")
    val out = Extensions45.srmCheck(assign, "arm", Seq("a" -> 500, "b" -> 500))
      .collect()
    out.foreach(r => assert(r.getDouble(5) == 0.0 && !r.getBoolean(6)))
  }

  test("x123 planted: an arm missing from the data surfaces as n_obs 0, not a dropped row") {
    import spark.implicits._
    val assign = (1 to 10).map(i => (i.toLong, "a")).toDF("unit", "arm")
    val out = Extensions45.srmCheck(assign, "arm", Seq("a" -> 500, "b" -> 500))
      .collect()
    assert(out.length == 2)
    val b = out.find(_.getString(0) == "b").get
    assert(b.getLong(1) == 0L && b.getBoolean(6), "empty arm is maximal SRM")
  }

  test("x124 planted: uniform two-digit amounts violate Benford; digit spine is complete") {
    import spark.implicits._
    val amounts = (10 to 99).flatMap(v => Seq.fill(10)(v.toDouble)).toDF("amt")
    val out = Extensions45.benfordAudit(amounts, "amt").collect()
    assert(out.length == 9)
    assert(out.map(_.getLong(0)).toSeq == (1L to 9L).toSeq)
    assert(out.map(_.getLong(1)).sum == 900L)
    // uniform digits: each of 1..9 gets 100 of 900
    assert(out.forall(_.getLong(1) == 100L))
    assert(out.forall(_.getBoolean(7)), "uniform first digits are not Benford")
    val fracs = out.map(_.getDouble(3))
    assert(math.abs(fracs.sum - 1.0) < 0.001, "Benford fractions sum to 1")
  }

  test("x124 planted: an exactly-Benford sample passes the gate") {
    import spark.implicits._
    // counts proportional to log10(1+1/d) out of 1000 -> chi2 ~ rounding only
    val counts = (1 to 9).map(d => d ->
      math.round(1000.0 * math.log10(1.0 + 1.0 / d)).toInt)
    val amounts = counts.flatMap { case (d, n) => Seq.fill(n)(d.toDouble) }
      .toDF("amt")
    val out = Extensions45.benfordAudit(amounts, "amt").collect()
    assert(out.forall(!_.getBoolean(7)), s"Benford-shaped sample must pass: ${out.toSeq}")
    assert(out.head.getDouble(6) < 1.0, "chi2 is residual rounding only")
  }

  test("x123/x124 fixture: users partition into the two arms; synthetic totals flag Benford") {
    val srm = SparkEntry.queries("x123_srm_check")(spark, sf0001).collect()
    assert(srm.length == 2)
    val users = spark.read.parquet(s"$sf0001/events.parquet")
      .select(col("user_id")).distinct().count()
    assert(srm.map(_.getLong(1)).sum == users)
    val ben = SparkEntry.queries("x124_benford")(spark, sf0001).collect()
    assert(ben.length == 9)
    assert(ben.forall(_.getBoolean(7)),
      "the synthetic uniform-ish totals are exactly what the audit exists to catch")
  }
}
