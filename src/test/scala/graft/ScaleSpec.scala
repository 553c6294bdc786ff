package graft

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ops.{Extensions, Extensions3, Extensions4, Scale}
import graft.plans.AsOfJoinOp

class ScaleSpec extends SparkSpec {

  test("salted join result is identical to the plain join") {
    val li = Tables.load(spark, sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
    val o = Tables.load(spark, sf0001, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(o, Seq("l_orderkey"))
    val salted = Scale.saltedJoin(li, o, "l_orderkey",
      saltBuckets = 7, saltSource = col("l_partkey") * 31 + col("l_linenumber"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salted aggregation equals plain groupBy count") {
    val e = Tables.load(spark, sf0001, "events")
    val plain = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Scale.saltedCount(e, "event_type", 7, col("event_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("saltDecision: cold keys -> 1 (plain join); planted hub -> buckets ~ share/mean, capped") {
    import spark.implicits._
    // uniform: 100 keys x 10 rows — nobody hot at factor 3
    val uniform = (1 to 1000).map(i => (i % 100).toLong).toDF("k")
    assert(Scale.saltDecision(uniform, "k") == 1)
    // hub: key 0 owns 5000 of 5990 rows over 100 keys
    //   share/mean = maxc*nids/tot = 5000*100/5990 = 83.4 -> ceil 84, cap 64
    val hub = ((1 to 5000).map(_ => 0L) ++ (1 to 990).map(i => (i % 99 + 1).toLong)).toDF("k")
    assert(Scale.saltDecision(hub, "k") == 64)
    assert(Scale.saltDecision(hub, "k", maxBuckets = 16) == 16)
    // empty input: no keys, no salting
    assert(Scale.saltDecision(uniform.filter(col("k") < 0), "k") == 1)
  }

  test("saltDecisionSampled matches the exact decision on the planted hub and the cold keys") {
    import spark.implicits._
    // payload column matters: the sample hashes the FULL row, so the
    // hub key's rows sample independently (a key-only table would put
    // all its bit-identical duplicates in or out together)
    val large = ((1 to 4000).map(i => (0L, i.toLong)) ++
      (1 to 1000).map(i => ((i % 100 + 1).toLong, i.toLong)))
      .toDF("k", "payload")
    val exact = Scale.saltDecision(large, "k", maxBuckets = 8)
    assert(exact == 8, s"hub must cap at 8, got $exact")
    for (f <- Seq(0.5, 0.25, 0.1)) {
      val sampled = Scale.saltDecisionSampled(large, "k", f, maxBuckets = 8)
      assert(sampled == exact, s"f=$f: sampled $sampled != exact $exact")
      // deterministic: the hash-threshold sample gives the same integer
      // on every run
      assert(Scale.saltDecisionSampled(large, "k", f, maxBuckets = 8) == sampled)
    }
    val uniform = (1 to 2000).map(i => ((i % 100).toLong, i.toLong)).toDF("k", "payload")
    assert(Scale.saltDecision(uniform, "k") == 1)
    for (f <- Seq(0.5, 0.25))
      assert(Scale.saltDecisionSampled(uniform, "k", f) == 1,
        s"f=$f: cold keys must stay unsalted under sampling")
    // f = 1 routes to the exact pass
    assert(Scale.saltDecisionSampled(large, "k", 1.0, maxBuckets = 8) == exact)
    // empty sample: no measurable heat
    assert(Scale.saltDecisionSampled(large.filter(col("k") < 0L), "k", 0.5) == 1)
  }

  test("autoSalted on a planted hub equals the plain join and flattens the hot key's per-task load") {
    import spark.implicits._
    val large = ((1 to 4000).map(i => (0L, i.toLong)) ++
      (1 to 1000).map(i => ((i % 100 + 1).toLong, i.toLong)))
      .toDF("k", "payload")
    val small = (0 to 100).map(i => (i.toLong, s"dim_$i")).toDF("k", "attr")
    val plain = large.join(small, Seq("k"))
    val auto = Scale.autoSalted(large, small, "k",
      saltSource = col("payload"), maxBuckets = 8)
    assert(auto.count() == plain.count())
    assert(auto.exceptAll(plain).isEmpty && plain.exceptAll(auto).isEmpty)
    // the decision actually salted (hub share/mean >> 3), and the largest
    // single shuffle-key load dropped by ~the bucket count: the hot key's
    // 4000 rows split across 8 (k, salt) groups of ~500
    val buckets = Scale.saltDecision(large, "k", maxBuckets = 8)
    assert(buckets == 8)
    val maxPlain = large.groupBy(col("k")).count()
      .agg(max("count")).head().getLong(0)
    val maxSalted = large
      .withColumn("__salt", pmod(hash(col("payload")), lit(buckets)))
      .groupBy(col("k"), col("__salt")).count()
      .agg(max("count")).head().getLong(0)
    assert(maxPlain == 4000L)
    assert(maxSalted <= maxPlain / buckets + 200,
      s"hot-key load should split ~evenly: $maxSalted vs $maxPlain/$buckets")
  }

  test("autoSaltedCount equals the plain groupBy count on hub and uniform inputs") {
    import spark.implicits._
    val hub = ((1 to 4000).map(i => (0L, i.toLong)) ++
      (1 to 1000).map(i => ((i % 100 + 1).toLong, i.toLong)))
      .toDF("k", "payload")
    val plain = hub.groupBy(col("k")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val auto = Scale.autoSaltedCount(hub, "k", col("payload"), maxBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto == plain)
    val uniform = (1 to 1000).map(i => ((i % 100).toLong, i.toLong)).toDF("k", "payload")
    val u = Scale.autoSaltedCount(uniform, "k", col("payload"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(u.values.forall(_ == 10L) && u.size == 100)
  }

  test("storeLayoutAudit: per-partition file counts/bytes; micro-batch appends trip the small-files flag") {
    import spark.implicits._
    val dir = tmpDir("layout")
    // 5 single-row appends into one partition -> 5 tiny files there
    (1 to 5).foreach { i =>
      Seq((i.toLong, "a"), (i.toLong, "b")).toDF("v", "p")
        .coalesce(1).write.mode("append").partitionBy("p").parquet(dir)
    }
    val out = graft.ops.Scale.storeLayoutAudit(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("p=a", "p=b"))
    assert(out("p=a").getLong(1) == 5L, s"5 appended files: ${out("p=a")}")
    assert(out("p=a").getBoolean(5), "KB-sized files must flag small_files")
    assert(out("p=a").getLong(2) ==
      out("p=a").getLong(1) * out("p=a").getLong(3) ||
      out("p=a").getLong(2) >= out("p=a").getLong(4))
    // unpartitioned store audits at the root
    val flat = tmpDir("layoutflat")
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(flat)
    val f = graft.ops.Scale.storeLayoutAudit(spark, flat).collect()
    assert(f.length == 1 && f.head.getString(0) == "." && f.head.getLong(1) == 1L)
  }

  test("x187 hot-partition report: totals via 1-row agg broadcast, no Window node in the plan") {
    val df = graft.ops.Extensions77.x187HotPartitions(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"totals must come from a broadcast 1-row agg, not a global window:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected the totals row broadcast back:\n$plan")
  }

  test("q48 is planned as SortMergeJoin (the at-scale join shape)") {
    val plan = Scale.q48SortMergeJoin(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
  }

  test("partitioned parquet layout: partition filter prunes directories at plan time") {
    val dir = tmpDir("partlayout")
    Tables.load(spark, sf0001, "events")
      .write.partitionBy("event_type").parquet(s"$dir/events_by_type")
    val scan = spark.read.parquet(s"$dir/events_by_type")
      .filter(col("event_type") === "purchase")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"partition filter not pushed:\n$plan")
    val expected = Tables.load(spark, sf0001, "events")
      .filter(col("event_type") === "purchase").count()
    assert(scan.count() == expected)
  }

  test("x02 shingle self-join plans as ShuffledHashJoin on the 8-byte key (no broadcast of the exploded index, no sort)") {
    // inspect the pair operator itself: the r15 pre-sort barrier in the
    // x02 ENTRY truncates that frame's plan to Scan ExistingRDD, hiding
    // the join machinery this contract is about
    val plan = graft.ops.Extensions.jaccardPairs(
        Tables.load(spark, sf0001, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected SHJ in:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"exploded index must not be broadcast (size misestimate):\n$plan")
  }

  test("x16 IVF cell assignment broadcasts the centroid table") {
    val plan = graft.ops.Extensions2.x16IvfAnn(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin")
      || plan.contains("BroadcastNestedLoopJoin"),
      s"centroids should broadcast:\n$plan")
  }

  test("q54 bitwise agg plans with map-side partial aggregation") {
    val plan = graft.ops.Relational3.q54BitwiseAgg(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_bit_and") || plan.contains("partial"),
      s"expected partial aggregation before the exchange:\n$plan")
  }

  test("S7 DDL + bucketed table: co-located aggregation plans without exchange") {
    Scale.writeBucketedEvents(spark, sf0001, "events_bucketed", buckets = 4)
    val agg = spark.table("events_bucketed")
      .groupBy(col("user_id")).agg(max(col("event_id")))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed agg should not reshuffle on the bucket key:\n$plan")
    // and the result matches the unbucketed fold
    val a = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Tables.load(spark, sf0001, "events")
      .groupBy(col("user_id")).agg(max(col("event_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    spark.sql("DROP TABLE IF EXISTS events_bucketed")
  }

  test("hot boilerplate shingle: AQE splits the skewed join partition and runtime stays bounded") {
    import spark.implicits._
    // Half the docs share a boilerplate prefix -> its shingles are hot
    // join keys; the rest are unique. This is the skew shape x02's comment
    // claims AQE covers — prove it: the final adaptive plan must carry a
    // skew=true shuffle read on the pair join.
    // A 10-word boilerplate -> six hot shingle keys each shared by 50%
    // of docs; every other shingle is unique. With 64 shuffle partitions
    // the median partition is a few hundred rows while the hot keys'
    // partitions carry thousands — the classic boilerplate skew profile
    // (measured: >2.3x the median partition bytes, vs factor 2.0).
    val boiler = "all rights reserved by megacorp incorporated until further notice as specified"
    val corpus = (1 to 5000).map { i =>
      val tail = (1 to 10).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, if (i % 2 == 0) s"$boiler $tail" else tail)
    }.toDF("doc_id", "text")
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> "64",
      // the self-join reuses one exchange for both sides; disable reuse so
      // AQE sees two independent shuffle stages it can skew-split
      "spark.sql.exchange.reuse" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pairs = graft.ops.Extensions.jaccardPairs(corpus, "doc_id", "text", threshold = 0.9)
      // collect() drives THIS Dataset's QueryExecution so the adaptive plan
      // below is the final one (count() would plan a separate query)
      val n = pairs.collect().length // completes: candidates are bucketed, never n^2
      assert(n == 0, s"0.9-threshold pairs on unique tails, got $n")
      val finalPlan = pairs.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split shuffle read in the adaptive plan:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("x02 self-join computes the shingle index ONCE (AQE stage reuse on the shk exchange)") {
    // inspect the pair operator directly: the r15 pre-sort barrier in the
    // x02 entry truncates that frame's plan to Scan ExistingRDD
    val df = graft.ops.Extensions.jaccardPairs(
      Tables.load(spark, sf0001, "documents"), "doc_id", "text")
    df.collect() // drives THIS QueryExecution so the adaptive plan is final
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"the y side must reuse the x side's index exchange:\n$plan")
  }

  test("repetitionMetrics is map-only: zero exchanges in the physical plan") {
    val docs = Tables.load(spark, sf0001, "documents")
    val plan = Extensions3.repetitionMetrics(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"every metric (incl. top-n-gram) must stay inside the row:\n$plan")
  }

  test("q78 lateral LIMIT decorrelates to WindowGroupLimit + broadcast join, no per-row subquery") {
    val df = graft.ops.Relational4.q78LateralTopN(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected map-side partial top-k pushdown:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"lateral must not go cartesian:\n$plan")
  }

  test("native as-of join plans as AsOfJoinExec: one exchange per side, single-pass merge") {
    val e = Tables.load(spark, sf0001, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val df = AsOfJoinOp(purchases, clicks, Seq("user_id"), "ts", "ts")
    df.collect()
    // look only at the final adaptive plan (the string repeats the initial)
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("AsOfJoin "), s"custom exec missing:\n$plan")
    val shuffles = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 2, s"expected exactly 2 hash exchanges (one per side), got $shuffles:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      "the as-of must run on the custom operator, not a rewritten join")
  }

  test("IVF cell assignment is a partial min_by aggregate, not a window (map-side, no n×k shuffle+sort)") {
    val e = Tables.load(spark, sf0001, "embeddings")
    val base = e.select(col("vec_id"), col("embedding"))
    val cents = broadcast(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec")))
    val df = graft.ops.Extensions2.assignCells(base, cents)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min_by"),
      s"assignment must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("Window"),
      s"assignment must not shuffle+sort the n×k expansion through a window:\n$plan")
    // and the aggregate picks the same cells the window form would
    val viaWindow = base.join(cents)
      .withColumn("csim", round(
        graft.functions.VectorFunctions.cosine_similarity(col("embedding"), col("cvec")), 6))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("csim").desc, col("cell"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = df.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg == viaWindow)
  }

  test("x27 dup-gram coverage scans the corpus once (index materialized before its two consumers)") {
    val df = graft.ops.Extensions3.x27DupGramCoverage(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val parquetScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(parquetScans == 0,
      s"the shingle index must be materialized (checkpointed) once — the final plan " +
        s"should read the checkpoint, not re-scan parquet $parquetScans times:\n$plan")
  }

  test("vocabTopK plans the cut as TakeOrderedAndProject (per-partition heaps, no global sort)") {
    val d = Tables.load(spark, sf0001, "documents")
    val df = Extensions4.vocabTopK(d, "doc_id", "text", k = 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not range-partition a full sort:\n$plan")
    // and the doc-frequency comes from the pre-agg, not a second scan
    val parquetScans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(parquetScans == 1, s"expected one documents scan, got $parquetScans:\n$plan")
  }

  test("signBitsFor scales the quantizer with the corpus; parameterized signBucketTopK agrees with x06 at 6 bits") {
    assert(Extensions.signBitsFor(1000L) == 4)              // clamp floor
    assert(Extensions.signBitsFor(1L << 30, 1L << 20) == 10) // 1024 cells -> 10 bits
    assert(Extensions.signBitsFor(Long.MaxValue / 2) == 30)  // clamp ceiling
    val e = Tables.load(spark, sf0001, "embeddings")
    val got = Extensions.signBucketTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, signBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val x06 = graft.ops.Extensions.x06AnnSignBucket(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got == x06)
  }
}
