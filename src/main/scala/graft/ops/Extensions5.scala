package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Fifth extension batch — model-shaped corpus preparation: hashed linear
  * quality classification (the fasttext-style bag-of-words filter every
  * large pretraining pipeline runs), Johnson–Lindenstrauss random
  * projection (embedding dimensionality reduction ahead of ANN), and
  * symmetric int8 embedding quantization (4× storage cut for a 100 TB
  * vector store).
  *
  * All three operators are MAP-ONLY over their input — zero shuffles,
  * zero joins, fully inside whole-stage codegen. At 100 TB that is the
  * whole story: they scale with scan bandwidth and nothing else.
  *
  * Everything is deterministic and engine-portable: classifier weights
  * and projection signs derive from md5 (bit-identical in any engine),
  * and every per-document reduction is either an exact integer sum or a
  * short fixed-order float sum rounded well above accumulation noise —
  * so the DuckDB oracle replays the arithmetic literally.
  */
object Extensions5 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // ---- hashed linear quality classifier ------------------------------------

  /** Bag-of-words linear classifier with hashed weights — the shape of a
    * fasttext-style quality filter (score a document, keep it iff the
    * score clears a threshold). The "trained model" here is a hash-derived
    * weight table w(token) ∈ [-1, 1] so the operator is self-contained and
    * oracle-replayable; swapping in real learned weights is a one-line
    * change (join a broadcast weight table instead of hashing).
    *
    * Determinism: the per-document reduction is an exact INTEGER sum of
    * per-token milli-weights (md5-derived, so any engine reproduces it);
    * the float division happens once per document on that exact sum. No
    * aggregation-order sensitivity anywhere.
    *
    * Scale: map-only — tokenize, fold, divide, all inside one codegen
    * stage. No shuffle, no weight-table join (the "model" is pure
    * arithmetic); 100 TB costs exactly one scan.
    */
  def hashedLinearScore(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.0): DataFrame = {
    // milli-weight(token) = md5-uniform integer in [-1000, 1000]
    def milliWeight(t: Column): Column =
      graft.functions.HashFunctions.md5_bucket60(t) % 2001L - 1000L
    val toks = split(lower(col(textCol)), " ")
    // score = si / (n·1000) rounded to 4 decimals — computed as an exact
    // INTEGER half-away-from-zero rounding of si·10/n (the 10^4-scaled
    // value), then one exact division by 10^4. `round(double, 4)` here
    // is a cross-engine trap: quotients landing on a .xxxx5 boundary
    // round differently under BigDecimal-of-double (Spark) vs
    // multiply-round (DuckDB) — ~1 in 10^3 rows at corpus scale.
    val num = col("si") * 10L
    val scaled = ((abs(num) * 2L + col("n_tokens"))
      / (col("n_tokens") * 2L)).cast("long")
    corpus.select(
        col(idCol),
        size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0L), (acc, t) => acc + milliWeight(t)).as("si"))
      .select(
        col(idCol),
        col("n_tokens"),
        (signum(col("si")) * scaled / 10000.0d).as("score"),
        // keep iff score > threshold, i.e. si/(1000·n) > threshold —
        // compare on the exact integer side: si > threshold·1000·n.
        // (Comparing si against a length-independent constant would make
        // the effective cutoff threshold/n_tokens: long low-score docs
        // pass, short high-score docs fail.)
        (col("si") > lit(threshold * 1000.0) * col("n_tokens")).as("keep"))
  }

  /** x38: [[hashedLinearScore]] over the documents fixture at the
    * zero-score keep threshold.
    */
  def x38QualityClassifier(s: SparkSession, dir: String): DataFrame =
    hashedLinearScore(docs(s, dir), "doc_id", "text")

  // ---- Johnson–Lindenstrauss random projection ------------------------------

  /** Deterministic ±1 sign for projection cell (outDim j, inDim i):
    * parity of the portable 60-bit md5 hash of "j:i". Computed once on
    * the driver (k·d entries — 1024 for 64→16), never per row.
    */
  private[graft] def jlSign(j: Int, i: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random projection: embed d-dim vectors into
    * k < d dims as out[j] = Σ_i sign(j,i)·v[i] / √k with a deterministic
    * ±1 sign matrix (md5 parity — any engine rebuilds the same matrix, no
    * RNG state to ship). JL guarantees pairwise distances survive within
    * (1±ε) for k = O(log n / ε²); the projected space then feeds the ANN
    * operators (x05/x06/x13/x16) at k/d of the compute and storage.
    *
    * Scale: the sign matrix is a k·d literal baked into the plan (bytes,
    * not a join); the transform is map-only HOF arithmetic inside
    * whole-stage codegen. Returns one row per (vec_id, dim) so results
    * are exactly comparable across engines.
    */
  def jlProject(vectors: DataFrame, idCol: String, vecCol: String,
      outDims: Int, inDims: Int): DataFrame = {
    val signs: Seq[Seq[Double]] =
      (0 until outDims).map(j => (0 until inDims).map(i => jlSign(j, i)))
    val sm = typedLit(signs)
    // 1/√k normalizer makes the projection norm-preserving in
    // expectation: E[out_j²] = |v|²/k per output dim, k dims sum to |v|²
    val scale = math.sqrt(outDims.toDouble)
    // `+ 0.0` folds IEEE -0.0 to +0.0 (a sum rounding to zero keeps its
    // sign otherwise, and the two engines disagree on which zero they hit)
    val proj = transform(sequence(lit(0), lit(outDims - 1)), j =>
      round(
        aggregate(
          zip_with(col(vecCol).cast("array<double>"), element_at(sm, j + 1),
            (x, sg) => x * sg),
          lit(0.0d), (acc, x) => acc + x) / scale,
        4) + lit(0.0d))
    vectors
      .select(col(idCol), posexplode(proj).as(Seq("dim", "value")))
      .select(col(idCol), col("dim").cast("long").as("dim"), col("value"))
  }

  /** x39: [[jlProject]] of the 64-dim fixture embeddings into 16 dims. */
  def x39JlProject(s: SparkSession, dir: String): DataFrame =
    jlProject(emb(s, dir), "vec_id", "embedding", outDims = 16, inDims = 64)

  // ---- int8 symmetric quantization ------------------------------------------

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * = max |v_i|, q_i = round(v_i · 127 / scale) ∈ [-127, 127]. 4 bytes →
    * 1 byte per coordinate; dequantized cosine stays within ~1% (asserted
    * in the spec), which is inside the noise floor of every ANN stage —
    * the standard storage layout for a 100 TB vector corpus.
    *
    * The all-zero vector (scale 0) quantizes to zeros rather than
    * dividing by zero. Map-only; integer output compares exactly across
    * engines.
    */
  def int8Quantize(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scaleC = aggregate(v, lit(0.0d), (m, x) => greatest(m, abs(x)))
    val q = transform(col("v"), x =>
      when(col("scale") === 0.0d, lit(0))
        .otherwise(round(x * 127.0d / col("scale"), 0).cast("int")))
    vectors
      .select(col(idCol), v.as("v"), scaleC.as("scale"))
      .select(col(idCol), col("scale"), posexplode(q).as(Seq("dim", "q")))
      .select(col(idCol), col("dim").cast("long").as("dim"), col("q"),
        round(col("scale"), 4).as("scale"))
  }

  /** x40: [[int8Quantize]] of the fixture embeddings. */
  def x40Int8Quantize(s: SparkSession, dir: String): DataFrame =
    int8Quantize(emb(s, dir), "vec_id", "embedding")

  // ---- mixture concentration stats -------------------------------------------

  /** Training-mixture concentration report: per source, document and
    * token counts, token share, and the cumulative share in descending
    * share order (the "top-p sources own q% of the corpus" curve that
    * drives mixture rebalancing and domain-cap decisions — compose with
    * [[Extensions3.domainCap]] / [[Extensions3.temperatureMix]]).
    *
    * Scale: one partial-aggregating groupBy over the corpus; the ranking
    * window runs on the AGGREGATED table (one row per source), so its
    * single-partition sort is over #sources rows — noise next to the
    * corpus scan even at millions of domains. Integer token counts sum
    * exactly; shares divide those exact longs once.
    */
  def sourceMixtureStats(
      corpus: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens").desc, col(sourceCol))
    val agg = corpus
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(lower(col(textCol)), " ")).cast("long")).as("n_tokens"))
    agg
      .withColumn("total", sum(col("n_tokens")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("share", Extensions.round4o(col("n_tokens") / col("total")))
      .withColumn("cum_share",
        Extensions.round4o(sum(col("n_tokens")).over(w) / col("total")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        col("share"), col("cum_share"), col("rk"))
  }

  /** x41: [[sourceMixtureStats]] over the documents fixture. */
  def x41MixtureStats(s: SparkSession, dir: String): DataFrame =
    sourceMixtureStats(docs(s, dir), "source", "text")

  // ---- deterministic shard assignment ----------------------------------------

  /** Deterministic training-shard assignment: shard(id) = 60-bit md5
    * bucket of the id, mod `nShards` — the writer layout step before a
    * training run (shard files must be reproducible across retries and
    * engines, so no RNG and no round-robin, which depends on partition
    * order). Returns the per-shard balance report; the same expression
    * assigns the rows themselves.
    *
    * Scale: map-side hash + one nShards-cardinality agg. An md5 of the
    * key distributes adversarial id patterns (sequential ids, stride
    * artifacts) uniformly, so shard sizes concentrate at n/nShards.
    */
  def shardAssign(
      corpus: DataFrame, idCol: String, textCol: String, nShards: Int): DataFrame =
    corpus
      .withColumn("shard",
        pmod(graft.functions.HashFunctions.md5_bucket60(col(idCol).cast("string")),
          lit(nShards.toLong)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(lower(col(textCol)), " ")).cast("long")).as("n_tokens"))

  /** x42: [[shardAssign]] of the documents fixture into 8 shards. */
  def x42ShardAssign(s: SparkSession, dir: String): DataFrame =
    shardAssign(docs(s, dir), "doc_id", "text", nShards = 8)

  // ---- robust length-outlier detection ---------------------------------------

  /** Robust per-group outlier flagging on a numeric column: median and
    * MAD (median absolute deviation) per group, flag rows where
    * |x − median| > cutoff·1.4826·MAD (1.4826 scales MAD to the stddev
    * of a normal distribution). The robust pair survives exactly the
    * heavy-tailed length distributions that break mean/stddev filtering —
    * this is the standard "drop truncated and run-on documents" hygiene
    * pass keyed by source.
    *
    * A zero MAD (over half the group identical) flags every deviating
    * row — strictness is the right default for a degenerate group;
    * callers wanting leniency can pre-filter such groups.
    *
    * Scale: two grouped exact percentiles (sort-based within group) plus
    * one broadcast join of the O(groups) stats table back onto the
    * corpus. Percentile groups are per-source — skew-prone only if one
    * source dominates, the same profile every grouped exact quantile has.
    */
  def robustOutliers(
      df: DataFrame, groupCol: String, valCol: String,
      cutoff: Double = 3.0): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(median(col(valCol)).as("med"))
    val mad = df.join(broadcast(med), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(max(col("med")).as("med"),
        median(abs(col(valCol) - col("med"))).as("mad"))
    df.join(broadcast(mad), Seq(groupCol))
      .withColumn("is_outlier",
        abs(col(valCol) - col("med")) > lit(cutoff) * lit(1.4826) * col("mad"))
      .withColumn("med", round(col("med"), 4))
      .withColumn("mad", round(col("mad"), 4))
  }

  /** x43: [[robustOutliers]] on document length per source. */
  def x43LengthOutliers(s: SparkSession, dir: String): DataFrame =
    robustOutliers(docs(s, dir), "source", "n_chars")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("med"), col("mad"), col("is_outlier"))

  // ---- interpolated bigram language-model scoring -----------------------------

  /** Bigram language-model scoring — the next quality signal up from
    * [[Extensions4.unigramScore]]: train corpus bigram statistics, score
    * each document by its per-position cross-entropy under an
    * interpolated model
    * `P(w2|w1) = λ·cb(w1,w2)/cl(w1) + (1−λ)·cr(w2)/B`
    * (cb = corpus bigram count, cl/cr = the bigram's left/right marginal
    * counts, B = total bigrams; the unigram backoff term keeps P > 0 for
    * every observed pair). High entropy = locally incoherent token
    * sequences that a unigram model cannot see (shuffled text, id dumps
    * with plausible vocabulary).
    *
    * All model tables derive from ONE materialized (doc, w1, w2, tf)
    * pass — the corpus is tokenized exactly once. The bigram model join
    * is a key-partitioned equi-join on (w1, w2) (the model can exceed
    * broadcast size at corpus scale); the O(vocab) marginals broadcast.
    */
  def bigramScore(
      corpus: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.9): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val pairs = zip_with(
      slice(col("tk"), lit(1), size(col("tk")) - 1),
      slice(col("tk"), lit(2), size(col("tk")) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val bg = Extensions.materialized(corpus
      .select(col(idCol).as("doc_id"), toks.as("tk"))
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf")))
    val model = Extensions.materialized(
      bg.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("cb")))
    val cl = model.groupBy(col("w1")).agg(sum(col("cb")).as("cl"))
    val cr = model.groupBy(col("w2")).agg(sum(col("cb")).as("cr"))
    val b = model.agg(sum(col("cb")).as("btot"))
    bg.join(model, Seq("w1", "w2"))
      .join(broadcast(cl), Seq("w1"))
      .join(broadcast(cr), Seq("w2"))
      .crossJoin(broadcast(b))
      .withColumn("lp",
        log(lit(lambda) * col("cb") / col("cl")
          + lit(1.0 - lambda) * col("cr") / col("btot")))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("lp")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        (round(-col("s") / col("n_bigrams"), 4) + lit(0.0d)).as("cross_entropy"))
  }

  /** x44: [[bigramScore]] over the documents fixture at λ = 0.9. */
  def x44BigramScore(s: SparkSession, dir: String): DataFrame =
    bigramScore(docs(s, dir), "doc_id", "text")

  /** x38's oracle. Extensions39 embeds it as x115's rater A. */
  val x38QualityClassifierSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      t AS (SELECT doc_id, len(tk) AS n_tokens, u.tok FROM d, UNNEST(tk) AS u(tok)),
      s AS (SELECT doc_id, max(n_tokens) AS n_tokens,
                   sum(('0x' || substr(md5(tok), 1, 15))::BIGINT % 2001 - 1000) AS si
            FROM t GROUP BY doc_id)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             sign(si) * ((abs(si * 10) * 2 + n_tokens) // (n_tokens * 2)) / 10000.0 AS score,
             si > 0 AS keep
      FROM s ORDER BY doc_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x44_bigram_score", x44BigramScore _, """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      bg0 AS (SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2
              FROM d, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)),
      bg AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg0 GROUP BY 1, 2, 3),
      model AS (SELECT w1, w2, sum(tf) AS cb FROM bg GROUP BY 1, 2),
      cl AS (SELECT w1, sum(cb) AS cl FROM model GROUP BY 1),
      cr AS (SELECT w2, sum(cb) AS cr FROM model GROUP BY 1),
      b AS (SELECT sum(cb) AS btot FROM model)
      SELECT bg.doc_id, CAST(sum(bg.tf) AS BIGINT) AS n_bigrams,
             round(-sum(bg.tf * ln(0.9 * model.cb / cl.cl
                                   + 0.1 * cr.cr / b.btot)) / sum(bg.tf), 4)
               + 0.0 AS cross_entropy
      FROM bg JOIN model USING (w1, w2) JOIN cl USING (w1)
              JOIN cr USING (w2) CROSS JOIN b
      GROUP BY 1 ORDER BY 1"""),
    Entry("x41_mixture_stats", x41MixtureStats _, """
      WITH a AS (SELECT source, count(*) AS n_docs,
                        sum(len(string_split(lower(text), ' '))) AS n_tokens
                 FROM documents GROUP BY source),
      t AS (SELECT sum(n_tokens) AS total FROM a)
      SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
             round(n_tokens / (1.0 * t.total), 4) AS share,
             round(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source)
                   / (1.0 * t.total), 4) AS cum_share,
             row_number() OVER (ORDER BY n_tokens DESC, source) AS rk
      FROM a, t ORDER BY rk"""),
    Entry("x42_shard_assign", x42ShardAssign _, """
      SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard,
             count(*) AS n_docs,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1 ORDER BY shard"""),
    Entry("x43_length_outliers", x43LengthOutliers _, """
      WITH med AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
                   FROM documents GROUP BY source),
      mad AS (SELECT d.source, max(med.med) AS med,
                     quantile_cont(abs(d.n_chars - med.med), 0.5) AS mad
              FROM documents d JOIN med USING (source) GROUP BY d.source)
      SELECT d.doc_id, d.source, d.n_chars,
             round(mad.med, 4) AS med, round(mad.mad, 4) AS mad,
             abs(d.n_chars - mad.med) > 3.0 * 1.4826 * mad.mad AS is_outlier
      FROM documents d JOIN mad USING (source)
      ORDER BY d.doc_id"""),
    Entry("x38_quality_classifier", x38QualityClassifier _, x38QualityClassifierSql),
    Entry("x39_jl_project", x39JlProject _, """
      WITH s AS (SELECT j.j, i.i,
                        CASE WHEN ('0x' || substr(md5(j.j || ':' || i.i), 1, 15))::BIGINT % 2 = 0
                             THEN 1.0 ELSE -1.0 END AS sg
                 FROM generate_series(0, 15) j(j), generate_series(0, 63) i(i)),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      p AS (SELECT e.vec_id, s.j AS dim, sum(v[s.i + 1] * s.sg) AS raw
            FROM e, s GROUP BY 1, 2)
      SELECT vec_id, CAST(dim AS BIGINT) AS dim,
             round(raw / 4.0, 4) + 0.0 AS value
      FROM p ORDER BY vec_id, dim"""),
    Entry("x40_int8_quantize", x40Int8Quantize _, """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sc AS (SELECT vec_id, v, (SELECT max(abs(x)) FROM UNNEST(v) AS u(x)) AS scale FROM e)
      SELECT vec_id, CAST(g.i - 1 AS BIGINT) AS dim,
             CASE WHEN scale = 0 THEN 0
                  ELSE CAST(round(v[g.i] * 127.0 / scale, 0) AS INT) END AS q,
             round(scale, 4) AS scale
      FROM sc, UNNEST(generate_series(1, len(v))) AS g(i)
      ORDER BY vec_id, dim"""))
}
