package graftbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.model.Event

/** The benchmark's self-tests. Run with
  * `python3 graftbench/run.py --self-test`; exits non-zero on a failure.
  */
object SelfTest {

  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable =>
      failures += 1
      println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def eq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, expected $want")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

    check("same seed gives a byte-identical cqrs_rw event stream") {
      def stream(seed: Long): Array[Byte] = {
        val g = new CqrsGen(seed, 2000)
        val evs = g.history(20000) ++ (1 to 50).flatMap(_ => g.step())
        CqrsGen.serialize(evs)
      }
      val a = stream(7L)
      assert(java.util.Arrays.equals(a, stream(7L)), "two streams from seed 7 differ")
      assert(!java.util.Arrays.equals(a, stream(8L)), "seeds 7 and 8 gave the same stream")
    }

    check("generator mix: creates, updates, deletes, redeliveries, ghost deletes") {
      val g = new CqrsGen(3L, 2000)
      val evs = g.history(20000)
      val byName = evs.groupBy(_.name).view.mapValues(_.size).toMap
      val dups = evs.size - evs.distinct.size
      assert(byName(CqrsGen.Created) > 0 && byName(CqrsGen.Updated) > 0, s"mix $byName")
      val delShare = byName(CqrsGen.Deleted).toDouble / evs.size
      assert(delShare > 0.02 && delShare < 0.08, s"delete share $delShare")
      val dupShare = dups.toDouble / evs.size
      assert(dupShare > 0.01 && dupShare < 0.03, s"redelivery share $dupShare")
      assert(evs.forall(_.id >= 0), "negative id")
      val step = g.step()
      assert(step.size >= 1 && step.size <= CqrsGen.MaxBatch, s"batch size ${step.size}")
      assert(step.last.name == CqrsGen.Deleted && step.last.id > CqrsGen.GhostBase,
        "batch does not end with a delete of a never-created id")
    }

    check("step k has the same batch size on every seed") {
      def sizes(seed: Long): Seq[Int] = {
        val g = new CqrsGen(seed, 2000)
        g.history(1000)
        Seq.fill(8)(g.step().size)
      }
      val a = sizes(1L)
      eq(sizes(2L), a, "batch sizes of seeds 1 and 2")
      assert(a.min < 16 && a.max > 48, s"sizes $a do not spread over 1..${CqrsGen.MaxBatch}")
    }

    check("fold follows the reference CRUD semantics") {
      def ev(id: Long, name: String, v: Long, data: String) =
        Event(id, name, v, new Timestamp(v * 1000L), data)
      val created = ev(1, "PlayerCreated", 0, """{"firstName":"Robert","lastName":"Brem"}""")
      val updated = ev(1, "PlayerUpdated", 1, """{"firstName":"Robertupdated","lastName":"Bremupdated"}""")
      val other = ev(2, "PlayerCreated", 0, """{"firstName":"Other","lastName":"Player"}""")
      val f = new Fold
      Seq(created, updated, other, updated).foreach(f(_))
      eq(f.live(1), Some((1L, "Robertupdated", "Bremupdated")), "after update")
      eq(f.live(2), Some((0L, "Other", "Player")), "control aggregate")
      f(ev(1, "PlayerDeleted", 2, "{}"))
      f(ev(42, "PlayerDeleted", 0, "{}"))
      f(created)
      eq(f.live(1), None, "after delete and a stale redelivery")
      eq(f.live(42), None, "delete of an absent id")
      eq(f.liveIds.toSet, Set(2L), "live ids")
    }

    check("percentile needs at least 10 samples beyond it") {
      val xs = (1 to 99).map(_.toDouble)
      eq(Stats.percentile(xs, 90), None, "p90 of 99 samples")
      eq(Stats.tail(xs), None, "tail of 99 samples")
      val ys = (1 to 100).map(_.toDouble)
      eq(Stats.percentile(ys, 90), Some(90.0), "p90 of 100 samples")
      eq(ys.count(_ > 90.0), 10, "samples beyond p90 of 100")
      eq(Stats.tail(ys), Some((90.0, 90.0)), "tail of 100 samples")
      eq(Stats.tail((1 to 999).map(_.toDouble)).map(_._1), Some(90.0), "tail of 999")
      eq(Stats.tail((1 to 1000).map(_.toDouble)), Some((99.0, 990.0)), "tail of 1000")
      eq(Stats.tail((1 to 10000).map(_.toDouble)).map(_._1), Some(99.9), "tail of 10000")
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0, "odd median")
      eq(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5, "even median")
    }

    check("digest ignores row order and canonicalizes -0.0, NaN and null") {
      val schema = StructType(Seq(StructField("k", StringType), StructField("x", DoubleType),
        StructField("a", ArrayType(DoubleType))))
      val a = Seq(Row("a", 1.0, Seq(0.1 + 0.2)), Row("b", -0.0, null), Row(null, Double.NaN, Seq()))
      val b = Seq(Row(null, java.lang.Double.longBitsToDouble(0x7ff8000000000123L), Seq()),
        Row("b", 0.0, null), Row("a", 1.0000000000001, Seq(0.3)))
      eq(Digest.of(schema, a), Digest.of(schema, b), "digest of reordered equal rows")
      val nullVsString = Seq(Row("null", 1.0, null))
      val nullVsNull = Seq(Row(null, 1.0, null))
      assert(Digest.of(schema, nullVsString) != Digest.of(schema, nullVsNull), "null equals \"null\"")
      assert(Digest.canonical(null) != Digest.canonical(Double.NaN), "null equals NaN")
      assert(Digest.of(schema, a) != Digest.of(schema, a.take(2)), "a missing row went unseen")
      assert(Digest.canonicalDouble(1.0) != Digest.canonicalDouble(1.00001), "1.00001 rounded away")
    }

    check("self time subtracts the union of child spans") {
      val spans = Seq(Span(0, -1, "query", "q", 0, 100), Span(1, 0, "ops.build", "q", 10, 40),
        Span(2, 0, "query.collect", "q", 30, 90), Span(3, 2, "x", "q", 50, 60))
      val self = Layers.selfTimes(spans)
      eq(self("query"), 0.02, "query self time")
      eq(self("ops.build"), 0.03, "ops.build self time")
      eq(self("query.collect"), 0.05, "collect self time")
      assert(Layers.within(spans, 55, Set("query.collect")), "ancestor lookup")
      assert(!Layers.within(spans, 95, Set("query.collect")), "outside span")
    }

    check("BENCHMARK.json lists the metrics the benchmark prints") {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val tree = mapper.readTree(Files.readAllBytes(Paths.get(opts("root"), "BENCHMARK.json")))
      def names(k: String) = tree.get(k).elements.asScala.map(_.get("name").asText).toSeq
      def units(k: String) = tree.get(k).elements.asScala
        .map(n => n.get("name").asText -> n.get("unit").asText).toMap
      eq(names("end_to_end").toSet, Main.EndToEnd.toSet, "end_to_end names")
      eq(names("per_layer"), Main.LayerNames, "per_layer names")
      (units("end_to_end") ++ units("per_layer")).foreach { case (n, u) =>
        eq(u, Main.unitOf(n), s"unit of $n")
      }
      val unknown = names("workloads").filterNot(Main.Workloads.contains)
      eq(unknown, Nil, "workloads the benchmark does not have")
    }

    check("ops_fixedcost digests do not depend on the seeded query order") {
      val work = opts("work")
      val spark = Main.session(work)
      try {
        val qs = Main.fixedCostQueries.take(6)
        val expected = DigestFile.read(Paths.get(opts("digests"), "sf0.01.tsv"))
        val w = new OpsWorkload("self-test", qs, opts("data"), expected)
        assert(w.order(1L, 0) != w.order(2L, 0), "seeds 1 and 2 gave the same order")
        Seq(1L, 2L).foreach { seed =>
          val ctx = new Ctx(spark, seed, work)
          w.pass(ctx, 0, timed = true)
          eq(ctx.failures.toList, Nil, s"failures with seed $seed")
        }
      } finally spark.stop()
    }

    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
