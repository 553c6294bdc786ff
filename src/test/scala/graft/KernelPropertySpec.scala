package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import graft.functions.HashFunctions.{md5_bucket60, md5_bucket_counts}
import graft.functions.JaroWinkler.jaroWinkler
import graft.functions.VectorFunctions.{intersect_count_sorted, long_dot, sum_min_sorted}

/** ScalaCheck properties for the native codegen kernels. The two-pointer
  * kernels on the input forms their docs promise: `intersect_count_sorted`
  * on sorted unique arrays against `size(array_intersect)`, and
  * `sum_min_sorted` on sorted bags against the join-form `sum(least)`,
  * both including empty and null arrays; on input outside that contract
  * (unsorted or duplicated keys, a values array of another length) both
  * raise, naming the function. `long_dot` against
  * `aggregate(zip_with(...))`, `md5_bucket_counts` against per-token
  * `md5_bucket60` counts, and `jaro_winkler`'s range, symmetry and
  * identity, each with nulls and empty inputs. Each property runs twice:
  * under whole-stage codegen (the `doGenCode` path) and with codegen off
  * plus the interpreted expression factory (the `eval` path). Inputs come
  * from an RDD, not a local Seq, so the optimizer cannot fold the
  * projection away before execution.
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

  private def frame(cols: Seq[String], rows: Seq[Seq[Option[Any]]],
      dataType: DataType = arr): DataFrame = {
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      cols.map(StructField(_, dataType)))
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

  /** The messages of `t` and of every cause below it. */
  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq

  /** True when running `df` raises an error whose message names `fn`. */
  private def raises(fn: String, df: DataFrame): Boolean =
    try { df.collect(); false }
    catch { case e: Exception => messages(e).exists(_.contains(s"$fn: ")) }

  // keys outside the contract: at least one key not strictly greater than
  // the key before it (unsorted or duplicated)
  private val badKeys: Gen[Seq[Long]] =
    Gen.choose(2, 10).flatMap(Gen.listOfN(_, Gen.choose(-4L, 4L)))
      .suchThat(ks => ks.zip(ks.tail).exists { case (a, b) => b <= a })

  private def refusesIntersect(codegen: Boolean): Unit = inMode(codegen) {
    def run(a: Seq[Long], b: Seq[Long]): DataFrame =
      frame(Seq("a", "b"), Seq(Seq(Some(a), Some(b))))
        .select(intersect_count_sorted(col("a"), col("b")))
    assertMode(run(Seq(1L), Seq(1L)), codegen)
    // the probe cases, each on either side; the last violation lies after
    // the other array is exhausted
    Seq(Seq(3L, 1L, 2L) -> Seq(1L, 2L, 3L), Seq(3L, 1L, 2L) -> Seq(2L, 3L, 1L),
        Seq(1L, 1L, 2L) -> Seq(1L, 1L, 2L), Seq(1L, 1L, 2L) -> Seq(1L, 2L),
        Seq(1L) -> Seq(2L, 5L, 3L)).foreach { case (a, b) =>
      assert(raises("intersect_count_sorted", run(a, b)), s"$a vs $b must raise")
      assert(raises("intersect_count_sorted", run(b, a)), s"$b vs $a must raise")
    }
    val prop = Prop.forAllNoShrink(badKeys, sortedSet, Gen.oneOf(true, false)) { (bad, good, left) =>
      val df = if (left) run(bad, good) else run(good, bad)
      Prop(raises("intersect_count_sorted", df)) :| s"no error on $bad vs $good"
    }
    check(s"intersect_count_sorted refuses (codegen=$codegen)", prop, 23L)
  }

  private def refusesSumMin(codegen: Boolean): Unit = inMode(codegen) {
    def run(ka: Seq[Long], va: Seq[Long], kb: Seq[Long], vb: Seq[Long]): DataFrame =
      frame(Seq("ka", "va", "kb", "vb"), Seq(Seq(Some(ka), Some(va), Some(kb), Some(vb))))
        .select(sum_min_sorted(col("ka"), col("va"), col("kb"), col("vb")))
    assertMode(run(Seq(1L), Seq(1L), Seq(1L), Seq(1L)), codegen)
    Seq((Seq(3L, 1L, 2L), Seq(2L, 3L, 4L), Seq(1L, 2L, 3L), Seq(10L, 20L, 30L)),
        (Seq(1L, 1L, 2L), Seq(2L, 3L, 4L), Seq(1L, 2L), Seq(10L, 20L)),
        (Seq(1L), Seq(2L), Seq(1L, 1L, 1L), Seq(10L, 20L, 30L)),
        // a values array of another length than its keys
        (Seq(1L, 2L), Seq(5L), Seq(1L, 2L), Seq(5L, 6L)),
        (Seq(1L, 2L), Seq(5L, 6L), Seq(1L), Seq(5L, 6L))).foreach { case (ka, va, kb, vb) =>
      assert(raises("sum_min_sorted", run(ka, va, kb, vb)), s"$ka/$va vs $kb/$vb must raise")
      assert(raises("sum_min_sorted", run(kb, vb, ka, va)), s"$kb/$vb vs $ka/$va must raise")
    }
    val prop = Prop.forAllNoShrink(badKeys, bag, Gen.oneOf(true, false)) { case (bad, (ks, vs), left) =>
      val ones = bad.map(_ => 1L)
      val df = if (left) run(bad, ones, ks, vs) else run(ks, vs, bad, ones)
      Prop(raises("sum_min_sorted", df)) :| s"no error on $bad vs $ks"
    }
    check(s"sum_min_sorted refuses (codegen=$codegen)", prop, 29L)
  }

  private def longDotProperty(codegen: Boolean): Unit = inMode(codegen) {
    // zip_with pads a shorter side with nulls, so the reference only holds
    // on equal lengths; long_dot's min(n) convention is not under test
    val edge: Seq[Seq[Option[Seq[Long]]]] = Seq(Seq(Some(Nil), Some(Nil)),
      Seq(None, Some(Seq(1L))), Seq(Some(Seq(1L)), None), Seq(None, None))
    def run(pairs: Seq[Seq[Option[Seq[Long]]]]): DataFrame =
      frame(Seq("a", "b"), edge ++ pairs).select(col("id"),
        long_dot(col("a"), col("b")).as("got"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L),
          (acc, x) => acc + x).as("want"))
    assertMode(run(Nil), codegen)
    val pair = Gen.choose(0, 12).flatMap { n =>
      val vec = nullable(Gen.listOfN(n, Gen.choose(-1000L, 1000L)))
      for { a <- vec; b <- vec } yield Seq(a, b)
    }
    val prop = Prop.forAllNoShrink(Gen.listOfN(30, pair)) { pairs =>
      val bad = run(pairs).collect().filter(r => Option(r.get(1)) != Option(r.get(2)))
      Prop(bad.isEmpty) :| s"long_dot != aggregate(zip_with) on ids ${bad.map(_.getLong(0)).toSeq}"
    }
    check(s"long_dot (codegen=$codegen)", prop, 31L)
  }

  private def bucketCountsProperty(codegen: Boolean): Unit = inMode(codegen) {
    val F = 8
    val tokens = ArrayType(StringType)
    val token: Gen[String] = Gen.frequency(1 -> Gen.const(null: String), 1 -> Gen.const(""),
      8 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf('a', 'b', 'é'))).map(_.mkString))
    def run(rows: Seq[Option[Seq[String]]]): (DataFrame, DataFrame) = {
      val df = frame(Seq("tk"), (Seq(Some(Nil), None, Some(Seq(null, ""))) ++ rows).map(Seq(_)), tokens)
      val perToken = df.select(col("id"), explode(col("tk")).as("t"))
        .filter(col("t").isNotNull)
        .groupBy(col("id"), pmod(md5_bucket60(col("t")), lit(F.toLong)).as("b"))
        .count()
      (df.select(col("id"), col("tk").isNull.as("null_in"),
        md5_bucket_counts(col("tk"), F).as("got")), perToken)
    }
    assertMode(run(Nil)._1, codegen)
    val prop = Prop.forAllNoShrink(Gen.listOfN(30, nullable(Gen.choose(0, 10).flatMap(Gen.listOfN(_, token))))) { rows =>
      val (kernel, perToken) = run(rows)
      val counts = perToken.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val bad = kernel.collect().filter { r =>
        val id = r.getLong(0)
        val want = if (r.getBoolean(1)) None
          else Some((0 until F).map(j => counts.getOrElse((id, j.toLong), 0L)) :+ 1L)
        Option(r.getSeq[Long](2)).map(_.toSeq) != want
      }
      Prop(bad.isEmpty) :| s"md5_bucket_counts != per-token counts on ids ${bad.map(_.getLong(0)).toSeq}"
    }
    check(s"md5_bucket_counts (codegen=$codegen)", prop, 37L)
  }

  private def jaroWinklerProperty(codegen: Boolean): Unit = inMode(codegen) {
    val text: Gen[String] = Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.oneOf('a', 'b', 'c', 'ß')))
      .map(_.mkString)
    def run(pairs: Seq[Seq[Option[String]]]): DataFrame =
      frame(Seq("a", "b"), Seq(Seq(Some(""), Some("")), Seq(Some(""), Some("ab")),
          Seq(None, Some("ab")), Seq(Some("ab"), None), Seq(None, None)) ++ pairs, StringType)
        .select(col("id"), col("a"), col("b"), jaroWinkler(col("a"), col("b")).as("ab"),
          jaroWinkler(col("b"), col("a")).as("ba"), jaroWinkler(col("a"), col("a")).as("aa"))
    assertMode(run(Nil), codegen)
    val pair = for { a <- nullable(text); b <- nullable(text) } yield Seq(a, b)
    val prop = Prop.forAllNoShrink(Gen.listOfN(30, pair)) { pairs =>
      val bad = run(pairs).collect().filter { r =>
        val (a, b) = (Option(r.getString(1)), Option(r.getString(2)))
        val (ab, ba, aa) = (Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))
        val inRange = ab.forall { case d: Double => d >= 0.0 && d <= 1.0 }
        val nulls = ab.isEmpty == (a.isEmpty || b.isEmpty) && aa.isEmpty == a.isEmpty
        val identity = a.forall(s => aa.contains(if (s.isEmpty) 0.0 else 1.0))
        !(inRange && nulls && ab == ba && identity)
      }
      Prop(bad.isEmpty) :| s"jaro_winkler range/symmetry/identity fails on ids ${bad.map(_.getLong(0)).toSeq}"
    }
    check(s"jaro_winkler (codegen=$codegen)", prop, 41L)
  }

  Seq(true -> "whole-stage codegen", false -> "interpreted eval").foreach { case (codegen, mode) =>
    test(s"property: intersect_count_sorted raises on unsorted or duplicated keys, naming itself ($mode)") {
      refusesIntersect(codegen)
    }
    test(s"property: sum_min_sorted raises on unsorted or duplicated keys and on misaligned values ($mode)") {
      refusesSumMin(codegen)
    }
    test(s"property: long_dot equals aggregate(zip_with) on equal-length, empty and null arrays ($mode)") {
      longDotProperty(codegen)
    }
    test(s"property: md5_bucket_counts equals per-token md5_bucket60 counts, with null tokens, empty and null arrays ($mode)") {
      bucketCountsProperty(codegen)
    }
    test(s"property: jaro_winkler is in [0, 1], symmetric and 1.0 on identical non-empty strings, with nulls and empties ($mode)") {
      jaroWinklerProperty(codegen)
    }
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
