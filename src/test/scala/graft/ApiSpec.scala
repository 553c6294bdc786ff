package graft

import org.apache.spark.sql.functions._
import graft.log.EventLog
import graft.ops.{Extensions, Extensions2, Extensions3, Extensions5, Extensions6, Extensions9,
  Extensions10, Extensions16, Extensions17, Extensions18, Extensions19, Extensions20,
  Extensions106, Extensions120, Extensions121, Extensions122, Extensions123, Extensions124,
  Extensions125, Extensions126, Extensions127, Extensions128, Extensions129}
import graft.plans.AsOfJoinOp
import graft.state.Materialize
import graft.stream.Materializer

/** The public operator functions must work over ARBITRARY schemas — these
  * fixtures use column names that appear nowhere in the standard test
  * tables, proving the operators are genuinely parameterized and not bound
  * to the fixtures.
  */
class ApiSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog today"),
      (12L, "an entirely different document about spark engines"),
      (13L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 10
      (14L, "an entirely different document about spark engines")   // exact dup of 12
    ).toDF("item_id", "body")
  }

  test("exactDedup keeps the lowest id per distinct body") {
    val kept = Extensions.exactDedup(corpus, "item_id", "body")
      .select("item_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 11L, 12L))
  }

  test("jaccard pairs finds the near-dup and the exact dups, clusters collapse them") {
    val pairs = Extensions.jaccardPairs(corpus, "item_id", "body", threshold = 0.5)
    val got = pairs.select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((10L, 13L)) && got.contains((12L, 14L)), s"got $got")
    assert(got.contains((10L, 11L)), s"near-dup 10-11 missed: $got")
    val comps = Extensions2.connectedComponents(pairs, aCol = "doc_a", bCol = "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(13L) == 10L && comps(11L) == 10L && comps(14L) == 12L)
  }

  test("connected components: driver union-find and distributed label propagation agree") {
    import spark.implicits._
    // two chains and a triangle: 1-2-3-4, 20-21, 30-31-32-30
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (20L, 21L), (30L, 31L), (31L, 32L), (30L, 32L))
      .toDF("doc_a", "doc_b")
    val viaDriver = graft.ops.Extensions2.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = graft.ops.Extensions2.connectedComponents(pairs, "doc_a", "doc_b",
        driverMaxEdges = 0) // force the distributed path
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaLoop, s"$viaDriver != $viaLoop")
    assert(viaDriver(4L) == 1L && viaDriver(21L) == 20L && viaDriver(32L) == 30L)
  }

  test("minhash and simhash pair finders agree with jaccard on the obvious dups") {
    val mh = Extensions.minhashLshPairs(corpus, "item_id", "body")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.contains((10L, 13L)), s"minhash missed exact dup: $mh")
    val sh = Extensions.simhashPairs(corpus, "item_id", "body")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.contains((10L, 13L)) && sh.contains((12L, 14L)), s"simhash missed exact dup: $sh")
  }

  test("stratifiedSample rates are honored deterministically") {
    import spark.implicits._
    val rows = (0L until 2000L).map(i => (i, if (i % 2 == 0) "big" else "small")).toDF("uid", "tier")
    val sampled = Extensions2.stratifiedSample(rows, "tier", "uid",
      rates = Map("big" -> 0.1), default = 0.9)
    val byTier = sampled.groupBy("tier").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTier("big") > 50 && byTier("big") < 150, s"big ~10% of 1000: $byTier")
    assert(byTier("small") > 800 && byTier("small") < 950, s"small ~90% of 1000: $byTier")
    // deterministic: same input → identical sample
    val again = Extensions2.stratifiedSample(rows, "tier", "uid",
      rates = Map("big" -> 0.1), default = 0.9)
    assert(sampled.exceptAll(again).isEmpty && again.exceptAll(sampled).isEmpty)
  }

  test("ivfTopK returns ranked neighbors from probed cells on a custom embedding table") {
    import spark.implicits._
    // 3 clusters along different axes; centroids = one vector per cluster
    def vec(axis: Int, mag: Float): Array[Float] = {
      val a = Array.fill(4)(0.0f); a(axis) = mag; a
    }
    val vecs = (0 until 30).map { i =>
      (i.toLong, vec(i % 3, 1.0f + (i / 3) * 0.1f))
    }.toDF("eid", "feat")
    val cents = Seq((0L, vec(0, 1.0f)), (1L, vec(1, 1.0f)), (2L, vec(2, 1.0f)))
      .toDF("cell", "cvec")
    val res = Extensions2.ivfTopK(vecs, vecs.filter(col("eid") < 3), cents,
      "eid", "feat", k = 3, probes = 1)
    val rows = res.collect()
    assert(rows.nonEmpty)
    // every neighbor of query q lies on q's axis (same cell, cosine 1.0)
    rows.foreach { r =>
      val q = r.getLong(0); val c = r.getLong(1); val sim = r.getDouble(2)
      assert(c % 3 == q % 3, s"neighbor $c not in query $q's cell")
      assert(math.abs(sim - 1.0) < 1e-6, s"same-axis cosine must be 1.0, got $sim")
    }
  }

  test("latestState facade folds by arbitrary key/order columns") {
    import spark.implicits._
    val log = Seq(
      (7L, 0L, "v0"), (7L, 2L, "v2"), (7L, 1L, "v1"),
      (8L, 5L, "w5"), (8L, 3L, "w3")
    ).toDF("agg_id", "ver", "payload")
    val st = Materialize.latestState(log, "agg_id", "ver").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(st == Map(7L -> "v2", 8L -> "w5"))
  }

  test("authorizedView restricts rows and columns (P5 token-split analog)") {
    import spark.implicits._
    val accounts = Seq((1L, "alice", 100L), (2L, "bob", 250L), (3L, "carol", 75L))
      .toDF("acct_id", "owner", "balance")
    val v = Materialize.authorizedView(accounts, col("owner") === "bob", Seq("acct_id", "balance"))
    assert(v.columns.toSeq == Seq("acct_id", "balance"))
    assert(v.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 250L)))
    // no-column-restriction form keeps the full schema
    val rowsOnly = Materialize.authorizedView(accounts, col("balance") >= 100L)
    assert(rowsOnly.columns.toSeq == accounts.columns.toSeq)
    assert(rowsOnly.count() == 2L)
  }

  test("distributed CC converges on a chain deeper than the old round cap (pointer doubling)") {
    import spark.implicits._
    val n = 200
    val pairs = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val comps = graft.ops.Extensions2.connectedComponents(pairs, "doc_a", "doc_b",
        driverMaxEdges = 0) // force the distributed path
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == n && comps.values.forall(_ == 1L),
      s"chain did not collapse to component 1: ${comps.values.toSet}")
  }

  test("reliable-checkpoint mode yields identical near-dup pairs (cluster-safe lineage)") {
    spark.sparkContext.setCheckpointDir(tmpDir("reliable_ckpt"))
    def run() = Extensions.minhashLshPairs(corpus, "item_id", "body")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = run()
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try assert(run() == default)
    finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  test("repetitionMetrics: hand-checkable fractions on a known-repetitive doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),             // 4 tokens, 1 distinct; 2-grams: "a a" x3
      (2L, "u v w x y z"),         // all unique; 2 five-grams, both distinct
      (3L, "solo")                 // too short for any gram
    ).toDF("doc_id", "text")
    val m = Extensions3.repetitionMetrics(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(m(1L) == ((4L, 0.75, 0.0, 1.0)))   // dup_tok 3/4; <5 tok; top 2-gram 3/3
    assert(m(2L) == ((6L, 0.0, 0.0, 0.2)))    // unique; 2 distinct 5-grams; top 2-gram 1/5
    assert(m(3L) == ((1L, 0.0, 0.0, 0.0)))    // guards, not sequence(0,-n) garbage
  }

  test("packSequences: chunk assignment follows the first token's offset") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", 300), (2L, "en", 300), (3L, "en", 300), (4L, "de", 10)
    ).map { case (id, lang, n) => (id, lang, (1 to n).map(_ => "w").mkString(" ")) }
      .toDF("doc_id", "lang", "text")
    val chunks = Extensions3.packSequences(docs, "lang", "doc_id", "text", budget = 512)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // en: doc1 starts at 0 -> chunk 0, doc2 at 300 -> chunk 0, doc3 at 600 -> chunk 1
    assert(chunks(("en", 0L)) == ((2L, 600L, 1L, 2L)))
    assert(chunks(("en", 1L)) == ((1L, 300L, 3L, 3L)))
    assert(chunks(("de", 0L)) == ((1L, 10L, 4L, 4L)))
  }

  test("trainCentroids: k cells, right dimensionality, and IVF over them finds true neighbors") {
    val e = graft.model.Tables.load(spark, sf0001, "embeddings")
    val cents = Extensions3.trainCentroids(e, "vec_id", "embedding", k = 8, iters = 2)
    val rows = cents.collect()
    assert(rows.map(_.getInt(0)).toSet == (0 until 8).toSet, "cells must be 0..k-1")
    assert(rows.forall(_.getSeq[Float](1).size == 64), "centroid dim must match input")
    val q = e.filter(col("vec_id") < 10)
    val ivf = Extensions2.ivfTopK(e, q, cents, "vec_id", "embedding", k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = graft.ops.Extensions.x05CosineTopk(spark, sf0001)
      .filter(col("rk") <= 3).select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.2, s"trained-centroid IVF recall vs brute too low: $recall")
  }

  test("temperatureMix upweights minority groups (alpha<1) and is deterministic") {
    val docs = graft.model.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val total = docs.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mixed = Extensions3.temperatureMix(docs, "lang", "doc_id", alpha = 0.5, targetRows = 200L)
    val kept = mixed.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rate = total.keys.map(l => l -> kept.getOrElse(l, 0L).toDouble / total(l)).toMap
    val (maj, min_) = (total.maxBy(_._2)._1, total.minBy(_._2)._1)
    assert(rate(min_) > rate(maj),
      s"alpha=0.5 must keep a larger fraction of $min_ (${rate(min_)}) than $maj (${rate(maj)})")
    val n = mixed.count()
    assert(n > 100 && n < 300, s"expected ~200 sampled rows, got $n")
    assert(mixed.collect().map(_.getLong(0)).toSet ==
      Extensions3.temperatureMix(docs, "lang", "doc_id", 0.5, 200L).collect().map(_.getLong(0)).toSet)
  }

  test("native asOfJoin equals the brute-force argmax truth, including no-match lefts") {
    import spark.implicits._
    val e = graft.model.Tables.load(spark, sf0001, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("click_id"))
    val got = AsOfJoinOp(purchases, clicks, Seq("user_id"), "ts", "ts")
      .select(col("event_id"), col("click_id"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // brute truth: latest click with ts <= purchase ts, per purchase;
    // purchases with no eligible click keep a null (-1) slot
    val truth = purchases.join(
        clicks.select(col("user_id"), col("ts").as("c_ts"), col("click_id")),
        Seq("user_id"), "left")
      .groupBy(col("event_id"))
      .agg(max(when(col("c_ts") <= col("ts"),
        struct(col("c_ts"), col("click_id")))).as("best"))
      .select(col("event_id"), col("best.click_id").as("click_id"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got.size == purchases.count(), "left outer: every purchase must emit")
    assert(got == truth)
  }

  test("asOfJoin null path: unmatched lefts emit nulls and right columns are truly nullable") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 100L), (2L, 50L)).toDF("k", "t")
    val right = Seq((1L, 20L, 7L)).toDF("k", "t", "v") // eligible only for (1, 100)
    val out = AsOfJoinOp(left, right, Seq("k"), "t", "t")
    assert(out.schema("v").nullable && out.schema("t_r").nullable,
      "left-outer as-of must report right columns nullable — a non-nullable " +
        "schema lets NullPropagation fold isNull() to false")
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(rows == Set((1L, 10L, -1L), (1L, 100L, 7L), (2L, 50L, -1L)))
    // and the nullability is real at plan time: isNull finds the unmatched lefts
    assert(out.filter(col("v").isNull).count() == 2)
    // tolerance bounds the lookback (inclusive): the (1,100)->(1,20) match
    // has gap 80 in the time column's native unit
    def matched(tol: Long) =
      AsOfJoinOp(left, right, Seq("k"), "t", "t", tolerance = Some(tol))
        .filter(col("v").isNotNull).count()
    assert(matched(80L) == 1 && matched(79L) == 0)
  }

  test("asOfJoin rejects mismatched key/time types instead of comparing them wrong") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val rightIntKey = Seq((1, 5L, 7L)).toDF("k", "t", "v")
    intercept[IllegalArgumentException] {
      AsOfJoinOp(left, rightIntKey, Seq("k"), "t", "t")
    }
    val rightIntTime = Seq((1L, 5, 7L)).toDF("k", "t", "v")
    intercept[IllegalArgumentException] {
      AsOfJoinOp(left, rightIntTime, Seq("k"), "t", "t")
    }
  }

  test("multi-table LSH recall >= single-table recall vs brute-force truth") {
    val e = graft.model.Tables.load(spark, sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = hits(graft.ops.Extensions.x05CosineTopk(spark, sf0001)
      .filter(col("rk") <= 3).select("q_id", "c_id"))
    val single = hits(Extensions.signBucketTopK(e, q, "vec_id", "embedding", k = 3, signBits = 6)
      .select("q_id", "c_id"))
    val multi = hits(Extensions3.multiTableSignTopK(e, q, "vec_id", "embedding", k = 3)
      .select("q_id", "c_id"))
    val (rSingle, rMulti) =
      ((brute & single).size.toDouble / brute.size, (brute & multi).size.toDouble / brute.size)
    assert(rMulti >= rSingle,
      s"OR-amplification must not lose recall: multi $rMulti vs single $rSingle")
    assert(rMulti > 0.0, "multi-table found none of the true top-3")
  }

  test("round-4 facade surface drives a mini curation flow end to end") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // quality -> normalize -> funnel -> order over the fixture
    val scored = Extensions5.hashedLinearScore(docs, "doc_id", "text")
    val normed = Extensions9.quantileNormalize(
      scored.join(docs.select("doc_id", "source"), Seq("doc_id")),
      "source", "doc_id", "score")
    assert(normed.filter(col("q_norm") < 0 || col("q_norm") > 1).count() == 0)
    val funnel = Extensions6.filterFunnel(docs, Seq(
      "nonempty" -> (col("n_chars") > 0))).collect()
    assert(funnel.head.getAs[Long]("n_survive") == docs.count())
    val ordered = Extensions6.trainingOrder(docs, "doc_id", nShards = 4)
    assert(ordered.count() == docs.count())
    val overlap = Extensions10.sourceOverlapSketch(docs, "source", "text")
    assert(overlap.count() > 0)
    val validated = Extensions10.embeddingValidation(
      spark.read.parquet(s"$sf0001/embeddings.parquet"), "embedding", "label")
    assert(validated.filter(col("min_dim") =!= col("max_dim")).count() == 0)
  }

  test("round-5 facade surface drives the dedup-resolve-split-budget flow end to end") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // rule gate -> substring scrub -> near-dup pairs -> resolve -> safe
    // split -> budget over the fixture
    val card = Extensions20.gopherRuleCard(docs, "doc_id", "text")
    val kept = docs.join(card.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    assert(kept.count() > 0 && kept.count() < docs.count())
    val scrubbed = Extensions16.stripDuplicateSpans(kept, "doc_id", "text", n = 5)
    assert(scrubbed.count() == kept.count())
    val pairs = Extensions.jaccardPairs(docs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b"))
    val resolved = Extensions17.resolveDuplicates(docs, "doc_id", "n_chars",
      pairs, "doc_a", "doc_b")
    assert(resolved.filter(col("keep")).count() < docs.count())
    val split = Extensions19.clusterSafeSplit(docs, "doc_id", pairs, "doc_a", "doc_b")
    assert(split.select("split").distinct().count() == 3)
    val budget = Extensions20.waterfillBudget(docs, "source", "text", budgetFrac = 0.5)
    assert(budget.count() == 20)
    val merges = Extensions16.trainBpe(docs, "text", numMerges = 4)
    assert(Extensions17.applyBpe(docs, "doc_id", "text",
      merges.orderBy("rank").collect()
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq)
      .count() == docs.count())
    val buckets = Extensions18.perplexityBuckets(docs, "doc_id", "text", "lang")
    assert(buckets.select("bucket").distinct().count() == 3)
    val up = Extensions18.epochUpsample(docs, "doc_id", "source", Map("src0" -> 2))
    assert(up.count() > docs.count())
  }

  test("round-10/11 facade surface: planners, causal tier, interchange cards, exactly-once merge") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val events = graft.model.Tables.load(spark, sf0001, "events")
    // blocking planner: prices three families, marks exactly one chosen;
    // refuses over-cap input loudly; the sampled mode handles it
    val parts = spark.read.parquet(s"$sf0001/part.parquet")
    val plan = Extensions120.blockingPlan(parts, "p_name").collect()
    assert(plan.length == 3 && plan.count(_.getBoolean(5)) == 1)
    intercept[IllegalArgumentException] {
      Extensions120.blockingPlan(parts, "p_name", maxSample = 5L)
    }
    assert(Extensions120.blockingPlanSampled(parts, "p_name", maxSample = 5L)
      .collect().length == 3)
    // winnowing fingerprint overlap finds the corpus near-dups
    assert(Extensions121.winnowingPairs(docs, "doc_id", "text").count() > 0)
    // temperature mix: the per-source quotas sum EXACTLY to the target
    // (largest-remainder) and every quota was actually selected
    val mix = Extensions121.temperatureMix(docs, "doc_id", "source", 100L).collect()
    assert(mix.map(_.getAs[Long]("n_selected")).sum == 100L)
    assert(mix.forall(r => r.getAs[Long]("n_selected") == r.getAs[Long]("quota")))
    // bootstrap CI brackets the group mean
    val ci = Extensions122.bootstrapMeanCi(events, "event_type", "value", "event_id")
    ci.collect().foreach { r =>
      val (lo, mean, hi) = (r.getAs[Long]("ci_lo_micro"),
        r.getAs[Long]("mean_micro"), r.getAs[Long]("ci_hi_micro"))
      assert(lo <= mean && mean <= hi, s"CI must bracket the mean: $r")
    }
    // causal/eval tier over an arbitrary labeled schema
    val labeled = docs.selectExpr("doc_id AS rid", "text AS body",
      "CAST(doc_id % 2 AS INT) AS flag", "CAST(n_chars AS LONG) AS outcome")
    assert(Extensions123.ipwAtt(labeled, "rid", "body", "flag", "outcome", iters = 2)
      .count() == 1L)
    val woe = Extensions124.woeIvCard(
      docs.selectExpr("CAST(n_chars % 4 AS LONG) AS bkt", "CAST(doc_id % 2 AS INT) AS y"),
      "bkt", "y")
    assert(woe.count() == 4L)
    val cv = Extensions125.kFoldCv(labeled.withColumnRenamed("flag", "y"),
      "rid", "body", "y", k = 3, iters = 2).collect()
    assert(cv.nonEmpty)
    // interchange fidelity: both cards equal the same aggregate on the
    // ORIGINAL table
    val orig = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        sum(col("event_id")).as("sum_ids"),
        max(unix_micros(col("ts"))).as("last_us"))
      .orderBy(col("event_type")).collect().map(_.toSeq).toSeq
    assert(Extensions126.xmlRoundTripCard(events).collect().sortBy(_.getString(0)).map(_.toSeq).toSeq == orig)
    assert(Extensions127.orcRoundTripCard(events).collect().sortBy(_.getString(0)).map(_.toSeq).toSeq == orig)
    // exactly-once merge: redelivery is a no-op
    val snap = tmpDir("api_merge_once") + "/snap"
    val aggs = Seq(("n", "v", "count"), ("total", "v", "sum"))
    val b = Seq((1L, 5L), (2L, 7L)).toDF("uid", "v")
    assert(EventLog.mergeAggregateOnce(b, snap, "uid", aggs, 0L).isDefined)
    assert(EventLog.mergeAggregateOnce(b, snap, "uid", aggs, 0L).isEmpty)
    // planned watermark picks from the offered bounds
    val hist = events.selectExpr(
      "CAST(unix_micros(ts) / 1000000 AS LONG) AS arr", "ts AS evt_ts")
    val (delay, _) = Materializer.plannedWatermark(hist, "arr", "evt_ts",
      batchSize = 3600L, boundsMinutes = Seq(1L, 5L, 30L), targetDropShare = 0.5)
    assert(Seq(1L, 5L, 30L).contains(delay))
  }

  test("round-11 facade surface: fidelity, link scores, phonetic key, forecast, centrality") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    assert(Extensions128.stripFidelityCard(docs, "doc_id", "text").count() == docs.count())
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("l", "r")
    val lp = Extensions128.linkPredictionScores(edges, "l", "r").collect()
    assert(lp.length == 1 && lp.head.getAs[Long]("common") == 2L)
    assert(Seq("smith").toDF("w")
      .select(Extensions128.phoneticKey(col("w"))).head().getString(0) == "s53" + "0")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    assert(Extensions106.knnClassifierEvalBudgeted(emb, "vec_id", "embedding", "label",
      maxQueries = 100L).count() > 0)
    val ev = graft.model.Tables.load(spark, sf0001, "events")
    val fc = Extensions129.holtDampedForecast(ev, "ts", horizon = 3).collect()
    assert(fc.length == 3 && fc.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val hc = Extensions129.harmonicCentrality(edges, "l", "r", nPivots = 2)
    assert(hc.count() > 0)
  }
}
