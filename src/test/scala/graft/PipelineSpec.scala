package graft

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ops.{Extensions, Extensions2, Extensions3, Extensions4}

/** End-to-end training-data pipeline over the documents fixture, driven
  * entirely through the public operator functions — the flow a 100 TB
  * corpus-prep job runs, with the invariants each stage must preserve:
  *
  *   raw corpus → exact dedup → near-dup pairs → clusters →
  *   one representative per cluster → stratified sample → quality/token stats
  */
class PipelineSpec extends SparkSpec {

  test("dedup -> cluster -> representative -> sample -> stats composes and shrinks monotonically") {
    val raw = Tables.load(spark, sf0001, "documents")
    val n0 = raw.count()

    // 1. exact dedup (byte-identical copies out)
    val exact = Extensions.exactDedup(raw, "doc_id", "text").cache()
    val n1 = exact.count()
    assert(n1 <= n0 && n1 > 0)

    // 2. near-dup pairs over the survivors, then clusters
    val pairs = Extensions.jaccardPairs(exact, "doc_id", "text", threshold = 0.5)
    val clusters = Extensions2.connectedComponents(pairs, aCol = "doc_a", bCol = "doc_b")

    // 3. keep one representative per near-dup cluster (min doc_id), plus
    //    every doc that is in no cluster at all
    val drop = clusters.filter(col("doc_id") =!= col("component")).select("doc_id")
    val reps = exact.join(drop, Seq("doc_id"), "left_anti").cache()
    val n2 = reps.count()
    assert(n2 <= n1 && n2 > 0)
    // every cluster still has exactly one surviving member
    val survivorsPerCluster = clusters
      .join(reps.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .groupBy("component").count()
    assert(survivorsPerCluster.filter(col("count") =!= 1).count() == 0)
    // and no two surviving docs are still near-dups
    assert(Extensions.jaccardPairs(reps, "doc_id", "text", threshold = 0.5).count() == 0)

    // 4. deterministic stratified sample of the clean corpus
    val sampled = Extensions2.stratifiedSample(reps, "lang", "doc_id",
      rates = Map("en" -> 0.5), default = 0.8)
    val n3 = sampled.count()
    assert(n3 <= n2 && n3 > 0)

    // 5. downstream stats still run on the final cut (tokens per doc > 0)
    val stats = sampled.select(
      col("doc_id"),
      size(split(lower(col("text")), " ")).as("n_tokens"))
    assert(stats.filter(col("n_tokens") <= 0).count() == 0)

    // the funnel is reported for the record
    info(s"corpus funnel: raw=$n0 -> exact=$n1 -> reps=$n2 -> sampled=$n3")
  }

  test("hygiene -> cap -> mix -> pack: the round-3 stages compose into the full prep flow") {
    val raw = Tables.load(spark, sf0001, "documents")
    val n0 = raw.count()

    // 1. repetition hygiene: drop boilerplate-heavy docs (fixture docs are
    //    synthetic-clean, so assert the gate passes rather than bites)
    val metrics = Extensions3.repetitionMetrics(raw, "doc_id", "text")
    val clean = raw.join(
      metrics.filter(col("dup_5gram_frac") < 0.5 && col("top_2gram_frac") < 0.5)
        .select("doc_id"),
      Seq("doc_id"), "left_semi").cache()
    val n1 = clean.count()
    assert(n1 <= n0 && n1 > 0)

    // 2. cross-doc duplication signal exists for every surviving doc
    val cov = Extensions3.dupGramCoverage(clean, "doc_id", "text", n = 10)
    assert(cov.count() == n1)
    assert(cov.filter(col("dup_frac") < 0 || col("dup_frac") > 1).count() == 0)

    // 3. domain capping, then temperature mixing over the capped corpus
    val capped = Extensions3.domainCap(clean, "source", "n_chars", "doc_id", cap = 10)
    val n2 = capped.count()
    assert(n2 <= n1 && n2 > 0)
    val mixed = Extensions3.temperatureMix(capped.drop("rk"), "lang", "doc_id",
      alpha = 0.5, targetRows = n2 / 2)
    val n3 = mixed.count()
    assert(n3 <= n2 && n3 > 0)

    // 4. pack the final cut into 256-token chunks per language; packing
    //    must conserve every token of its input
    val packed = Extensions3.packSequences(mixed, "lang", "doc_id", "text", budget = 256)
    val packedTokens = packed.agg(sum(col("chunk_tokens"))).collect()(0).getLong(0)
    val inputTokens = mixed.select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(packedTokens == inputTokens,
      s"packing must conserve tokens: $packedTokens vs $inputTokens")
    assert(packed.filter(col("n_docs") <= 0).count() == 0)

    info(s"prep funnel: raw=$n0 -> clean=$n1 -> capped=$n2 -> mixed=$n3 " +
      s"-> ${packed.count()} chunks / $packedTokens tokens")
  }

  test("incremental ingest -> dedup decision -> corpus growth -> vocab refresh -> retrieval") {
    val raw = Tables.load(spark, sf0001, "documents")
    val corpus = raw.filter(col("doc_id") < 400).cache()
    val nCorpus = corpus.count()

    // new crawl batch: the tail docs plus a PLANTED byte-identical copy of
    // corpus doc 7 so the dedup decision provably bites
    val planted = corpus.filter(col("doc_id") === 7)
      .withColumn("doc_id", lit(100007L))
    val batch = raw.filter(col("doc_id") >= 400).unionByName(planted).cache()
    val nBatch = batch.count()

    // 1. one decision row per batch doc; the planted dup maps to its survivor
    val decisions = Extensions4.incrementalDedup(corpus, batch, "doc_id", "text").cache()
    assert(decisions.count() == nBatch)
    val dup = decisions.filter(col("b_id") === 100007L).collect()(0)
    assert(!dup.getBoolean(1) && dup.getLong(2) == 7L && dup.getDouble(3) == 1.0,
      s"planted copy must be dropped in favor of corpus doc 7: $dup")

    // 2. grow the corpus with the kept docs only
    val kept = batch.join(
      decisions.filter(col("keep")).select(col("b_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val grown = corpus.unionByName(kept).cache()
    val nGrown = grown.count()
    assert(nGrown < nCorpus + nBatch && nGrown >= nCorpus,
      s"growth must exclude at least the planted dup: $nCorpus + $nBatch -> $nGrown")

    // 3. vocabulary refresh over the grown corpus: counts are internally
    //    consistent (df <= corpus size, total >= df, deterministic cut)
    val vocab = Extensions4.vocabTopK(grown, "doc_id", "text", k = 50).collect()
    // the synthetic fixture has a ~31-token vocabulary; k caps, not pads
    assert(vocab.nonEmpty && vocab.length <= 50)
    assert(vocab.forall(r => r.getLong(2) <= nGrown && r.getLong(1) >= r.getLong(2)))

    // 4. retrieval over the grown corpus: top-2 per query, never a self-match
    val hits = Extensions4.jaccardTopK(grown, grown.filter(col("doc_id") < 5),
        "doc_id", "text", k = 2, shingleSize = 3)
      .collect()
    assert(hits.nonEmpty)
    assert(hits.forall(r => r.getLong(0) != r.getLong(1) && r.getLong(3) <= 2L))

    info(s"incremental flow: corpus=$nCorpus + batch=$nBatch -> grown=$nGrown " +
      s"(dropped ${nCorpus + nBatch - nGrown} dups), vocab head=" +
      vocab.take(3).map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(","))
  }

  test("semantic dedup: embedding near-dup pairs -> clusters -> representatives") {
    val e = Tables.load(spark, sf0001, "embeddings")
    val n0 = e.count()
    // pairs at a threshold that bites on this fixture (cell max ~0.6)
    val pairs = Extensions.embeddingNearDupPairs(e, "vec_id", "embedding",
      threshold = 0.45)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val nPairs = pairs.count()
    assert(nPairs > 0, "threshold must bite for the test to mean anything")
    val clusters = Extensions2.connectedComponents(pairs, aCol = "doc_a", bCol = "doc_b")
    val drop = clusters.filter(col("doc_id") =!= col("component")).select("doc_id")
    val reps = e.join(drop.withColumnRenamed("doc_id", "vec_id"),
      Seq("vec_id"), "left_anti")
    val n1 = reps.count()
    assert(n1 < n0 && n1 > 0)
    // no surviving pair is still a near-dup at the same threshold/cells
    val residual = Extensions.embeddingNearDupPairs(reps, "vec_id", "embedding",
      threshold = 0.45).count()
    assert(residual == 0,
      s"representatives must not contain same-cell near-dups, found $residual")
    info(s"semantic dedup: $n0 vectors, $nPairs near-dup pairs -> $n1 representatives")
  }

  test("audit -> gate -> normalize -> order: the round-4 stages compose into the full prep flow") {
    import graft.ops.{Extensions5, Extensions6, Extensions7, Extensions8, Extensions9}
    val raw = Tables.load(spark, sf0001, "documents")
    val n0 = raw.count()

    // 1. funnel audit over the raw corpus: the last stage's survivor count
    //    is the size of the gated corpus built below
    val tk = split(lower(col("text")), " ")
    val gates = Seq(
      "min_tokens" -> (size(tk) >= 5),
      "uniq_ratio" -> (size(array_distinct(tk)) * 10L >= size(tk) * 3L))
    val funnel = Extensions6.filterFunnel(raw, gates)
      .orderBy(col("stage_no")).collect()
    val gated = raw.filter(gates.map(_._2).reduce(_ && _)).cache()
    val n1 = gated.count()
    assert(n1 == funnel.last.getAs[Long]("n_survive"),
      "the funnel report must agree with the materialized gate")

    // 2. robust length-outlier pass on the survivors
    val clean = Extensions5.robustOutliers(gated, "source", "n_chars")
      .filter(!col("is_outlier"))
      .select(gated.columns.map(col): _*).cache()
    val n2 = clean.count()
    assert(n2 <= n1 && n2 > 0)

    // 3. cross-source-comparable quality: raw score -> within-source rank
    val scored = Extensions5.hashedLinearScore(clean, "doc_id", "text")
      .join(clean.select(col("doc_id"), col("source")), Seq("doc_id"))
    val normed = Extensions9.quantileNormalize(scored, "source", "doc_id", "score")
    val kept = normed.filter(col("q_norm") >= 0.2) // drop each source's worst 20%
    val n3 = kept.count()
    assert(n3 < n2 && n3 > 0)

    // 4. curriculum deciles + deterministic shard/order for the trainer
    val curriculum = Extensions8.curriculumDeciles(
      clean.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"),
      "doc_id", "n_chars")
    val ordered = Extensions6.trainingOrder(curriculum, "doc_id", nShards = 4)
    assert(ordered.count() == n3)
    // every (shard, ord) slot is unique — the trainer's read contract
    assert(ordered.groupBy("shard", "ord").count()
      .filter(col("count") > 1).count() == 0)

    // 5. padding report on the final corpus parameterizes the batcher
    val pad = Extensions7.paddingReport(
      ordered.join(raw.select("doc_id", "text"), Seq("doc_id")), "doc_id", "text")
    val globalRow = pad.filter(col("len_bucket") === -1L).collect()(0)
    assert(globalRow.getAs[Long]("n_docs") == n3)

    info(s"round-4 funnel: raw=$n0 -> gated=$n1 -> clean=$n2 -> kept=$n3")
  }

  test("signature-store lifecycle: sign -> store -> batch dedup -> store grows with kept docs") {
    import graft.ops.Extensions15
    val root = tmpDir("sigstore")
    val d = Tables.load(spark, sf0001, "documents")
    // 1. sign the seed corpus and WRITE the store (text discarded)
    Extensions15.minhashSignatures(d.filter(col("doc_id") < 400), "doc_id", "text")
      .write.mode("overwrite").parquet(root)
    // 2. a batch arrives: one near-copy of a stored doc + the rest novel
    val copied = d.filter(col("doc_id") === 7)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val batch = d.filter(col("doc_id") >= 400 && col("doc_id") < 420)
      .select("doc_id", "text").unionByName(copied)
    val store = spark.read.parquet(root)
    val verdicts = Extensions15.incrementalSignatureDedup(
      store, Extensions15.minhashSignatures(batch, "doc_id", "text"))
    val dropped = verdicts.filter(!col("keep")).collect()
    assert(dropped.exists(r => r.getLong(0) == 1007L && r.getLong(2) == 7L),
      s"the copy must be dropped against stored doc 7: ${dropped.mkString(",")}")
    // 3. kept docs' signatures append; the store grows without any text
    val keptSigs = Extensions15.minhashSignatures(batch, "doc_id", "text")
      .join(verdicts.filter(col("keep")).select(col("b_id").as("doc_id")), Seq("doc_id"))
    keptSigs.write.mode("append").parquet(root)
    val grown = spark.read.parquet(root)
    assert(grown.count() == 400 + keptSigs.count())
    // 4. a re-delivery of the same batch now dedups against the GROWN store
    val redelivered = Extensions15.incrementalSignatureDedup(
      grown, Extensions15.minhashSignatures(batch, "doc_id", "text"))
    assert(redelivered.filter(col("keep")).count() == 0,
      "every re-delivered doc must now match its own stored signature")
  }

  test("a shared shingleIndex handle reproduces the standalone pair results") {
    val raw = Tables.load(spark, sf0001, "documents")
    val idx = Extensions.shingleIndexOf(raw, "doc_id", "text")
    val viaIndex = Extensions.exactJaccardFromIndex(idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val standalone = Extensions.jaccardPairs(raw, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex == standalone)
    // the handle is materialized: consuming it twice must not re-scan parquet
    val plan = Extensions.exactJaccardFromIndex(idx, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet") && !plan.contains("FileScan parquet"),
      s"index consumers must read the checkpoint, not re-shingle the corpus:\n$plan")
  }
}
