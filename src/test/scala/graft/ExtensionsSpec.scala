package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.ops.{Extensions, Extensions4, Multimodal}

class ExtensionsSpec extends SparkSpec {

  test("native CosineSimilarity expression is bit-identical to the HOF formulation") {
    val e = graft.model.Tables.load(spark, sf0001, "embeddings")
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id")).limit(2000)
    val diff = pairs.select(
        (VectorFunctions.cosine_similarity(col("a"), col("b")) -
          Extensions.cosineHof(col("a"), col("b"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    assert(diff == 0.0, s"native vs HOF max abs diff: $diff")
  }

  test("native Md5Bucket60 is bit-identical to the conv(substring(md5)) form") {
    import spark.implicits._
    // every distinct shingle of the fixture corpus + adversarial edges:
    // empty string, unicode, long strings, digits that look hexish
    val d = graft.model.Tables.load(spark, sf0001, "documents")
    val shingled = d.select(explode(split(lower(col("text")), " ")).as("s"))
    val edges = Seq("", "0", "f" * 64, "é中文", "deadbeef", " ", "a b").toDF("s")
    val diff = shingled.unionByName(edges)
      .select((Extensions.md5Hash60Native(col("s")) -
        Extensions.md5Hash60Reference(col("s"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getLong(0)
    assert(diff == 0L, s"native vs conv form diverged by $diff")
    // non-negative by construction (60 bits in a signed long)
    val neg = shingled.select(Extensions.md5Hash60Native(col("s")).as("v"))
      .filter(col("v") < 0).count()
    assert(neg == 0)
  }

  test("md5_bucket60 is callable from SQL and codegen-fused") {
    GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT md5_bucket60('hello')").collect().head.getLong(0)
    val viaRef = spark.sql(
      "SELECT CAST(conv(substring(md5('hello'), 1, 15), 16, 10) AS LONG)")
      .collect().head.getLong(0)
    assert(viaSql == viaRef)
    val plan = spark.sql("SELECT md5_bucket60(lower(text)) FROM parquet.`" +
      s"$sf0001/documents.parquet`").queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("Project") && l.trim.startsWith("*")),
      s"md5_bucket60 not codegen-fused:\n$plan")
  }

  test("native CosineSimilarity stays inside whole-stage codegen") {
    val e = graft.model.Tables.load(spark, sf0001, "embeddings")
    val plan = e.select(VectorFunctions.cosine_similarity(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen span
    assert(plan.linesIterator.exists(l => l.contains("Project") && l.trim.startsWith("*")),
      s"Project with cosine_similarity not codegen-fused:\n$plan")
  }

  test("self-similarity is 1.0") {
    val e = graft.model.Tables.load(spark, sf0001, "embeddings")
    val sims = e.select(
        round(VectorFunctions.cosine_similarity(col("embedding"), col("embedding")), 9).as("s"))
      .distinct().collect().map(_.getDouble(0))
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("multimodal: feature extraction runs per-partition and is deterministic") {
    val assets = Multimodal.syntheticAssets(spark, sf0001)
    val feats = Multimodal.extractFeatures(assets).collect()
    assert(feats.length == assets.count())
    // video samples fewer frames than image for the same byte length
    val byId = feats.map(f => f.asset_id -> f).toMap
    assert(feats.forall(_.n_bytes > 0))
    assert(feats.forall(f => f.n_frames_sampled > 0))
    val again = Multimodal.extractFeatures(assets).collect()
    assert(feats.sortBy(_.asset_id).toSeq == again.sortBy(_.asset_id).toSeq)
    // brightness is a mean byte value: printable ASCII text => between 32 and 127
    assert(feats.forall(f => f.brightness >= 32 && f.brightness <= 127), s"${byId.take(3)}")
  }

  test("cosine_similarity is callable from SQL after GraftExtensions registration") {
    GraftExtensions.register(spark)
    graft.model.Tables.load(spark, sf0001, "embeddings").createOrReplaceTempView("emb_sql")
    val n = spark.sql(
      """SELECT vec_id, cosine_similarity(embedding, embedding) AS s
         FROM emb_sql WHERE cosine_similarity(embedding, embedding) > 0.999""").count()
    assert(n == spark.table("emb_sql").count())
  }

  test("repetition_metrics is callable from SQL and agrees with the DataFrame form") {
    GraftExtensions.register(spark)
    graft.model.Tables.load(spark, sf0001, "documents").createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql(
      """SELECT doc_id, repetition_metrics(text).n_tok AS n_tok,
                repetition_metrics(text, 5, 2).dup_gram_frac AS d5
         FROM docs_sql""")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val viaDf = graft.ops.Extensions3.repetitionMetricsNative(
        spark.table("docs_sql"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(viaSql == viaDf)
  }

  test("multimodal: stride sampling reduces frames for video vs image of equal size") {
    import Multimodal.StubCodec
    val bytes = Array.fill[Byte](1024)(42)
    assert(StubCodec.sampleFrames(bytes, 4).length < StubCodec.sampleFrames(bytes, 1).length)
    assert(StubCodec.sampleFrames(Array.emptyByteArray, 1).isEmpty)
  }

  test("multimodal: resize caps payload size and is a no-op under target") {
    import Multimodal.StubCodec
    val big = Array.tabulate[Byte](1000)(i => (i % 127).toByte)
    val r = StubCodec.resize(big, 100)
    assert(r.length <= 100 && r.length > 0)
    assert(r.head == big.head, "downsampling must keep the first byte")
    assert(StubCodec.resize(big, 2000).sameElements(big))
    // distributed stage preserves row count and caps every payload
    val resized = Multimodal.resizeAssets(
      Multimodal.syntheticAssets(spark, sf0001), targetBytes = 64).collect()
    assert(resized.length == 500 && resized.forall(_.bytes.length <= 64))
  }

  test("native RepetitionMetrics expression is bit-identical to the HOF formulation") {
    val d = graft.model.Tables.load(spark, sf0001, "documents")
    val hof = graft.ops.Extensions3.repetitionMetrics(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val native = graft.ops.Extensions3.repetitionMetricsNative(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(native.keySet == hof.keySet)
    val diffs = native.collect { case (k, v) if hof(k) != v => k -> (hof(k), v) }
    assert(diffs.isEmpty, s"native vs HOF mismatches: ${diffs.take(5)}")
    // degenerate shapes: short doc (no 5-grams), single token, empty tokens
    import spark.implicits._
    val edge = Seq((1L, "one two three"), (2L, "solo"), (3L, "a  a  a"), (4L, "x x x x x x"))
      .toDF("doc_id", "text")
    val eh = graft.ops.Extensions3.repetitionMetrics(edge, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val en = graft.ops.Extensions3.repetitionMetricsNative(edge, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(en == eh, s"edge-case mismatch: $en vs $eh")
  }

  test("native RepetitionMetrics stays inside whole-stage codegen") {
    val d = graft.model.Tables.load(spark, sf0001, "documents")
    val plan = graft.ops.Extensions3.repetitionMetricsNative(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("Project") && l.trim.startsWith("*")),
      s"Project with repetition_metrics not codegen-fused:\n$plan")
  }

  test("jaccardTopK retrieves an exact duplicate at rank 1 with jaccard 1.0") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (3L, "the quick brown fox jumps over a sleeping cat today"), // near 1
      (4L, "completely unrelated text about spark query planning engines")
    ).toDF("doc_id", "text")
    val got = graft.ops.Extensions4.jaccardTopK(
        corpus, corpus.filter(col("doc_id") === 1), "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.length == 2)
    assert(got.contains((2L, 1.0, 1L)), s"exact dup must rank first: ${got.toSeq}")
    assert(got.exists { case (id, j, rk) => id == 3L && rk == 2L && j > 0 && j < 1 },
      s"near-dup must rank second with partial jaccard: ${got.toSeq}")
  }

  test("bm25TopK ranks rare-term matches above common-term matches") {
    import spark.implicits._
    // "zebra" appears in exactly one corpus doc (rare, high idf); "the"
    // appears everywhere (low idf). The query shares "zebra the" with doc 2
    // and only "the" with the rest — doc 2 must win decisively.
    val corpus = Seq(
      (1L, "the cat sat on the mat near the door"),
      (2L, "the zebra grazed quietly beside the river bank"),
      (3L, "the dog barked at the mailman again today"),
      (4L, "the bird flew over the tall green tree")
    ).toDF("doc_id", "text")
    val query = Seq((99L, "zebra the")).toDF("doc_id", "text")
    val got = Extensions4.bm25TopK(corpus, query, "doc_id", "text", k = 4)
      .orderBy(col("rk")).collect()
    assert(got.head.getLong(1) == 2L, s"rare-term doc must rank first: ${got.toSeq}")
    assert(got.head.getDouble(2) > got(1).getDouble(2) * 2,
      s"rare term must dominate common-term scores: ${got.toSeq}")
  }

  test("semanticDedup marks every corpus row and keeps exactly the cluster representatives") {
    import spark.implicits._
    // vectors 1 and 2 are identical (cosine 1.0); 3 is their opposite
    // (same |coords| flipped sign -> different sign bucket, never a
    // candidate); 4 is unrelated but bucket-mates with nobody at >= 0.9
    val corpus = Seq(
      (1L, Array(0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f)),
      (2L, Array(0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f)),
      (3L, Array(-0.5f, -0.5f, -0.5f, -0.5f, -0.5f, -0.5f)),
      (4L, Array(0.9f, 0.1f, 0.1f, 0.1f, 0.1f, 0.1f))
    ).toDF("vec_id", "embedding")
    val got = Extensions4.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"every row needs a decision: $got")
    assert(got(1L) == (1L, true) && got(2L) == (1L, false),
      s"identical pair must collapse to min id: $got")
    assert(got(3L) == (3L, true) && got(4L) == (4L, true),
      s"singletons keep themselves: $got")
  }

  test("tfidfTopTerms ranks a doc's rare term above its ubiquitous term") {
    import spark.implicits._
    // "the" is in all 4 docs (idf = ln(1) = 0); "zebra" only in doc 1
    val corpus = Seq(
      (1L, "the zebra the the"),
      (2L, "the cat sat"),
      (3L, "the dog ran"),
      (4L, "the bird flew")
    ).toDF("doc_id", "text")
    val got = Extensions4.tfidfTopTerms(corpus, "doc_id", "text", k = 2)
      .filter(col("doc_id") === 1).orderBy(col("rk")).collect()
    assert(got.head.getString(1) == "zebra",
      s"rare term must top doc 1: ${got.toSeq}")
    assert(got.head.getDouble(4) > 0 && got(1).getDouble(4) == 0.0,
      s"tf=3 'the' must score ln(4/4)=0 despite its count: ${got.toSeq}")
  }

  test("chunkDocuments covers every token with the declared overlap and tail") {
    import spark.implicits._
    val corpus = Seq((1L, (1 to 12).map(i => s"t$i").mkString(" ")),
      (2L, "short doc")).toDF("doc_id", "text")
    val got = Extensions4.chunkDocuments(corpus, "doc_id", "text",
        window = 5, stride = 4)
      .orderBy(col("doc_id"), col("chunk_id")).collect()
    val d1 = got.filter(_.getLong(0) == 1L)
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(d1.toSeq == Seq(
      (0L, 5L, "t1 t2 t3 t4 t5"),
      (1L, 5L, "t5 t6 t7 t8 t9"),
      (2L, 4L, "t9 t10 t11 t12")), s"strided windows wrong: ${d1.toSeq}")
    val d2 = got.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getLong(2) == 2L &&
      d2.head.getString(3) == "short doc", s"sub-window doc: ${d2.toSeq}")
  }

  test("unigramScore gives the rare-token doc higher cross-entropy than the typical doc") {
    import spark.implicits._
    // docs 1-3 are all common tokens; doc 4 is one-off gibberish
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the mat"),
      (3L, "the cat ran on the mat"),
      (4L, "zxqv wkjh qpzm xbvn")
    ).toDF("doc_id", "text")
    val got = Extensions4.unigramScore(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L)._1 == 6 && got(4L)._1 == 4, s"token counts: $got")
    assert(got(4L)._2 > got(1L)._2 && got(4L)._2 > got(2L)._2 && got(4L)._2 > got(3L)._2,
      s"gibberish doc must score highest cross-entropy: $got")
    // every token of doc 4 is unique in the corpus: H = ln(N) - ln(1) = ln(22)
    assert(math.abs(got(4L)._2 - math.round(math.log(22.0) * 1e4) / 1e4) < 1e-9,
      s"all-singleton doc must score exactly ln(N): $got")
  }

  test("incrementalDedup keeps novel batch docs and maps dups to their corpus survivor") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),  // dup of 1
      (11L, "totally novel content that matches nothing else here")
    ).toDF("doc_id", "text")
    val got = graft.ops.Extensions4.incrementalDedup(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got(10L) == (false, 1L), s"batch dup must map to corpus survivor: $got")
    assert(got(11L) == (true, -1L), s"novel doc must be kept: $got")
  }
}
