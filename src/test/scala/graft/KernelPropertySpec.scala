package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import graft.functions.VectorFunctions.{intersect_count_sorted, sum_min_sorted}

/** ScalaCheck properties for the two-pointer codegen kernels on the input
  * forms their docs promise: `intersect_count_sorted` on sorted unique
  * arrays against `size(array_intersect)`, and `sum_min_sorted` on sorted
  * bags against the join-form `sum(least)`, both including empty and null
  * arrays. Each property runs twice: under whole-stage codegen (the
  * `doGenCode` path) and with codegen off plus the interpreted expression
  * factory (the `eval` path). Inputs come from an RDD, not a local Seq, so
  * the optimizer cannot fold the projection away before execution.
  */
class KernelPropertySpec extends SparkSpec {

  private val key: Gen[Long] = Gen.frequency(
    20 -> Gen.choose(-12L, 12L),
    1 -> Gen.const(Long.MinValue),
    1 -> Gen.const(Long.MaxValue))
  private val sortedSet: Gen[Seq[Long]] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, key)).map(_.distinct.sorted)
  private def nullable[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(1 -> Gen.const(None), 8 -> g.map(Some(_)))
  // a bag: sorted unique keys, each with a positive count
  private val bag: Gen[(Seq[Long], Seq[Long])] = sortedSet.flatMap { ks =>
    Gen.listOfN(ks.size, Gen.choose(1L, 6L)).map(vs => (ks, vs))
  }

  private val arr = ArrayType(LongType)

  private def frame(cols: Seq[String], rows: Seq[Seq[Option[Seq[Long]]]]): DataFrame = {
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      cols.map(StructField(_, arr)))
    val data = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.map(_.orNull)) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  /** Runs `body` under one execution mode, restoring the session after. */
  private def inMode[T](codegen: Boolean)(body: => T): T = {
    val confs = if (codegen) Seq("spark.sql.codegen.wholeStage" -> "true")
      else Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def assertMode(df: DataFrame, codegen: Boolean): Unit = {
    val fused = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
    assert(fused == codegen, s"codegen=$codegen but plan is:\n${df.queryExecution.executedPlan}")
  }

  private def check(name: String, prop: Prop, seed: Long): Unit = {
    val params = Check.Parameters.default
      .withMinSuccessfulTests(8)
      .withInitialSeed(Seed(seed))
    val res = Check.check(params, prop)
    assert(res.passed, s"$name: ${Pretty.pretty(res)}")
  }

  // rows every batch carries: empty and null arrays on either side
  private val emptyNullPairs: Seq[Seq[Option[Seq[Long]]]] = Seq(
    Seq(Some(Nil), Some(Nil)), Seq(Some(Nil), Some(Seq(1L, 2L))),
    Seq(Some(Seq(1L, 2L)), Some(Nil)), Seq(None, Some(Seq(1L))),
    Seq(Some(Seq(1L)), None), Seq(None, None))

  private def intersectProperty(codegen: Boolean): Unit = inMode(codegen) {
    def run(pairs: Seq[Seq[Option[Seq[Long]]]]): DataFrame =
      frame(Seq("a", "b"), emptyNullPairs ++ pairs).select(col("id"),
        intersect_count_sorted(col("a"), col("b")).as("got"),
        when(col("a").isNull || col("b").isNull, lit(null).cast("long"))
          .otherwise(size(array_intersect(col("a"), col("b"))).cast("long")).as("want"))
    assertMode(run(Nil), codegen)
    val pair = for { a <- nullable(sortedSet); b <- nullable(sortedSet) } yield Seq(a, b)
    val prop = Prop.forAllNoShrink(Gen.listOfN(30, pair)) { pairs =>
      val rows = run(pairs).collect()
      val bad = rows.filter(r => Option(r.get(1)) != Option(r.get(2)))
      Prop(bad.isEmpty) :| s"kernel != size(array_intersect) on ids ${bad.map(_.getLong(0)).toSeq}"
    }
    check(s"intersect_count_sorted (codegen=$codegen)", prop, 11L)
  }

  private def sumMinProperty(codegen: Boolean): Unit = inMode(codegen) {
    def run(bags: Seq[Seq[Option[Seq[Long]]]]): (DataFrame, DataFrame) = {
      def ones(keys: Option[Seq[Long]]) = keys.map(_.map(_ => 1L))
      // the key-side edge rows with unit counts, plus a null vals array
      val edge = emptyNullPairs.map { case Seq(a, b) => Seq(a, ones(a), b, ones(b)) } :+
        Seq(Some(Seq(1L)), None, Some(Seq(1L)), Some(Seq(1L)))
      val df = frame(Seq("ka", "va", "kb", "vb"), edge ++ bags)
      def exploded(k: String, v: String, tf: String) =
        df.select(col("id"), col(v).as("vs"), posexplode(col(k)).as(Seq("pos", "key")))
          .select(col("id"), col("key"), element_at(col("vs"), col("pos") + 1).as(tf))
      val joinForm = exploded("ka", "va", "tfa")
        .join(exploded("kb", "vb", "tfb"), Seq("id", "key"))
        .groupBy(col("id")).agg(sum(least(col("tfa"), col("tfb"))).as("sm"))
      val anyNull = Seq("ka", "va", "kb", "vb").map(c => col(c).isNull).reduce(_ || _)
      val kernel = df.select(col("id"), anyNull.as("any_null"),
        sum_min_sorted(col("ka"), col("va"), col("kb"), col("vb")).as("got"))
      (kernel, kernel.join(joinForm, Seq("id"), "left")
        .select(col("id"), col("got"),
          when(col("any_null"), lit(null).cast("long"))
            .otherwise(coalesce(col("sm"), lit(0L))).as("want")))
    }
    assertMode(run(Nil)._1, codegen)
    val side = nullable(bag).flatMap {
      case None => Gen.oneOf(Seq(None, None), Seq(Some(Seq(1L)), None), Seq(None, Some(Seq(1L))))
      case Some((ks, vs)) => Gen.const(Seq(Some(ks), Some(vs)))
    }
    val row = for { a <- side; b <- side } yield a ++ b
    val prop = Prop.forAllNoShrink(Gen.listOfN(30, row)) { bags =>
      val rows = run(bags)._2.collect()
      val bad = rows.filter(r => Option(r.get(1)) != Option(r.get(2)))
      Prop(bad.isEmpty) :| s"kernel != join-form sum(least) on ids ${bad.map(_.getLong(0)).toSeq}"
    }
    check(s"sum_min_sorted (codegen=$codegen)", prop, 17L)
  }

  test("property: intersect_count_sorted equals size(array_intersect) on sorted unique, empty and null arrays (whole-stage codegen)") {
    intersectProperty(codegen = true)
  }

  test("property: intersect_count_sorted equals size(array_intersect) on sorted unique, empty and null arrays (interpreted eval)") {
    intersectProperty(codegen = false)
  }

  test("property: sum_min_sorted equals the join-form sum(least) on sorted bags, empty and null arrays (whole-stage codegen)") {
    sumMinProperty(codegen = true)
  }

  test("property: sum_min_sorted equals the join-form sum(least) on sorted bags, empty and null arrays (interpreted eval)") {
    sumMinProperty(codegen = false)
  }
}
