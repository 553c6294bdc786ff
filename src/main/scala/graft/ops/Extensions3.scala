package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Third extension batch — LLM-training-pipeline operators beyond the
  * dedup/ANN/quality families of Extensions/Extensions2: intra-document
  * repetition metrics (the Gopher-style repetition filters), deterministic
  * sequence packing (concat-and-chunk into fixed token budgets), and
  * OR-amplified multi-table LSH ANN (recall amplification by unioning
  * independent hash tables).
  *
  * Scale notes: x22 is map-only — every metric, including the
  * most-frequent-2-gram fraction, is computed inside the row via
  * sort + linear-run-scan HOFs, so a 100 TB corpus needs zero shuffles.
  * x23 shuffles once on the shard key and packs within sorted shards
  * (the global order a single window would need does not exist at scale;
  * per-shard packing is what a real pipeline does). x24 joins queries to
  * candidates on (table, bucket) equi-keys — 3x the candidate volume of
  * one table, never all-pairs.
  */
object Extensions3 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Word n-grams as space-joined strings; empty array when the document
    * is shorter than `n` (sequence() would otherwise count backwards).
    */
  private def grams(tk: Column, n: Int): Column =
    when(size(tk) >= n,
      transform(sequence(lit(0), size(tk) - n),
        i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Longest run of equal adjacent values in a pre-sorted string array —
    * i.e. the count of the most frequent element — as a single linear
    * fold. Keeps the most-frequent-n-gram metric map-only: no per-doc
    * explode+groupBy shuffle, no O(n^2) per-row counting.
    */
  private def maxRunSorted(sorted: Column): Column =
    aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Gopher-style intra-document repetition metrics over any (id, text)
    * corpus — duplicate-token fraction, duplicate-`dupN`-gram fraction,
    * and the fraction of `topN`-gram slots taken by the single most
    * frequent one. High values flag the boilerplate/spam documents a
    * training pipeline drops before dedup. Map-only at any scale.
    */
  def repetitionMetrics(
      df: DataFrame, idCol: String, textCol: String,
      dupN: Int = 5, topN: Int = 2): DataFrame = {
    // token array bound BEFORE the gram lambdas (an inline split inside a
    // HOF lambda re-tokenizes per element — the O(n²/doc) trap; see
    // Extensions.shinglesFromToks)
    val tk = col("tk_")
    val gd = grams(tk, dupN)
    val gt = grams(tk, topN)
    df.select(col(idCol), split(lower(col(textCol)), " ").as("tk_"))
      .select(
      col(idCol),
      size(tk).cast("long").as("n_tok"),
      Extensions.round4o(lit(1.0) - size(array_distinct(tk)) / size(tk).cast("double"))
        .as("dup_tok_frac"),
      when(size(gd) > 0,
        Extensions.round4o(lit(1.0) - size(array_distinct(gd)) / size(gd).cast("double")))
        .otherwise(lit(0.0)).as(s"dup_${dupN}gram_frac"),
      when(size(gt) > 0,
        Extensions.round4o(maxRunSorted(array_sort(gt)) / size(gt).cast("double")))
        .otherwise(lit(0.0)).as(s"top_${topN}gram_frac"))
  }

  /** [[repetitionMetrics]] via the native codegen'd expression
    * ([[graft.functions.RepetitionMetrics]]): one pass per document, one
    * hash map, no interpreted lambda evaluation and no materialized gram
    * arrays. Output contract (names, types, rounding) is identical to the
    * HOF form — ExtensionsSpec asserts the two bit-identical; the honest
    * bench put the HOF form at 20.7s for sf0.1 (the suite's most expensive
    * query), the native form replaces it in x22.
    */
  def repetitionMetricsNative(
      df: DataFrame, idCol: String, textCol: String,
      dupN: Int = 5, topN: Int = 2): DataFrame =
    df.select(col(idCol),
        graft.functions.TextFunctions.repetition_metrics(col(textCol), dupN, topN).as("m"))
      .select(col(idCol),
        col("m.n_tok").as("n_tok"),
        col("m.dup_tok_frac").as("dup_tok_frac"),
        col("m.dup_gram_frac").as(s"dup_${dupN}gram_frac"),
        col("m.top_gram_frac").as(s"top_${topN}gram_frac"))

  /** x22: repetition metrics (native expression) on the documents fixture. */
  def x22Repetition(s: SparkSession, dir: String): DataFrame =
    repetitionMetricsNative(docs(s, dir), "doc_id", "text")

  /** Deterministic sequence packing — concatenate documents in id order
    * within each shard and split at a fixed token budget (a chunk is the
    * context window a trainer fills; a document belongs to the chunk
    * holding its first token). Per-shard windows keep the sort
    * distributed; there is no global order at 100 TB.
    */
  def packSequences(
      df: DataFrame, shardCol: String, idCol: String, textCol: String,
      budget: Int): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(shardCol),
        size(split(col(textCol), " ")).cast("long").as("n_tok"))
      .withColumn("chunk_id",
        floor((sum(col("n_tok")).over(w) - col("n_tok")) / budget))
      .groupBy(col(shardCol), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("chunk_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
  }

  /** x23: [[packSequences]] bound to the documents fixture, 512-token
    * chunks sharded by language.
    */
  def x23SequencePacking(s: SparkSession, dir: String): DataFrame =
    packSequences(docs(s, dir), "lang", "doc_id", "text", budget = 512)

  /** x24: OR-amplified LSH ANN — three independent sign-hash tables over
    * disjoint coordinate blocks; a candidate matches if it shares a bucket
    * with the query in ANY table (union → distinct → exact rerank). Each
    * extra table multiplies recall against an unlucky single quantizer at
    * linear candidate cost — the standard L-table LSH trade, still an
    * equi-join per table and never all-pairs.
    */
  def multiTableSignTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nTables: Int = 3, bitsPerTable: Int = 6): DataFrame = {
    // guard the coordinate budget up front: past the vector length,
    // element_at returns null, `> 0f` is null, and the high tables would
    // silently degenerate to bucket 0 — collapsing all vectors into one
    // bucket per table (candidate blow-up, recall distortion) with no
    // error. One sampled row pins the dim (fixed-dim embedding columns
    // are the contract here, as in ivfTopK).
    corpus.select(size(col(vecCol)).as("d")).head(1).foreach { r =>
      require(r.getInt(0) >= nTables * bitsPerTable,
        s"multiTableSignTopK needs vector dim >= nTables*bitsPerTable = " +
          s"${nTables * bitsPerTable}, corpus has dim ${r.getInt(0)}")
    }
    def bucket(v: Column, t: Column): Column =
      (0 until bitsPerTable).map(d =>
        when(element_at(v, (t * bitsPerTable + lit(d + 1)).cast("int")) > 0f, lit(1 << d))
          .otherwise(lit(0)))
        .reduce(_ + _)
    def tabled(df: DataFrame, id: String, vec: String) = df
      .select(col(idCol).as(id), col(vecCol).as(vec),
        explode(array((0 until nTables).map(lit(_)): _*)).as("t"))
      .withColumn("bkt", bucket(col(vec), col("t")))
    val cand = tabled(corpus, "c_id", "cv")
      .join(broadcast(tabled(queries, "q_id", "qv")), Seq("t", "bkt"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("qv"), col("c_id"), col("cv"))
      .dropDuplicates("q_id", "c_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    cand
      .withColumn("sim",
        round(graft.functions.VectorFunctions.cosine_similarity(col("qv"), col("cv")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rk").cast("long").as("rk"))
  }

  /** x24: [[multiTableSignTopK]] bound to the embeddings fixture — 3
    * tables over disjoint 6-bit coordinate blocks, top-3.
    */
  def x24AnnMultiTable(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    multiTableSignTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
  }

  /** Domain capping: keep at most `cap` rows per domain, preferring the
    * highest `orderCol` (ties broken by id) — the C4/RefinedWeb-style
    * guard against any single site dominating the corpus. One window
    * shuffle on the domain key; `WindowGroupLimit` trims each partition
    * map-side before the exchange.
    */
  def domainCap(
      df: DataFrame, domainCol: String, orderCol: String, idCol: String,
      cap: Int): DataFrame = {
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col(orderCol).desc, col(idCol))
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .withColumn("rk", col("rk").cast("long"))
  }

  /** x25: [[domainCap]] on the documents fixture — 5 longest docs per
    * source.
    */
  def x25DomainCap(s: SparkSession, dir: String): DataFrame =
    domainCap(docs(s, dir), "source", "n_chars", "doc_id", cap = 5)
      .select(col("doc_id"), col("source"), col("n_chars"), col("rk"))

  /** Temperature-based mixture sampling: per-group sampling rates
    * proportional to n_g^alpha (alpha < 1 upweights small groups — the
    * standard multilingual rebalancing), scaled to an expected
    * `targetRows` total and applied via a deterministic md5 threshold
    * (no RNG state: retries, re-partitioning, and engine choice all
    * reproduce the same sample). The group-weight table is O(groups) and
    * broadcasts; the corpus is filtered map-side.
    *
    * Fully deterministic arithmetic: per-group weights are quantized to
    * integers BEFORE the normalizer sums them (an exact long sum has no
    * aggregation-order sensitivity, unlike a sum of doubles), the rate
    * derives from those integers in one fixed expression shape, and the
    * keep test compares integers — no step can disagree across plans,
    * retries, or engines. A null group is a stratum like any other
    * (null-safe join), not silently dropped.
    */
  def temperatureMix(
      df: DataFrame, groupCol: String, keyCol: String,
      alpha: Double, targetRows: Long): DataFrame = {
    val weights = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_g"))
      .withColumn("w_g", floor(pow(col("n_g"), alpha) * (1L << 20)).cast("long"))
    val z = weights.agg(sum(col("w_g")).as("z"))
    val rates = weights.crossJoin(broadcast(z))
      .withColumn("thr",
        floor(least(lit(1.0), col("w_g") / col("z") * targetRows / col("n_g"))
          * (1L << 20)).cast("long"))
      .select(col(groupCol).as("__grp"), col("thr"))
    // coalesce the sample key to a sentinel BEFORE hashing: md5(null) is
    // null, so `bucket < thr` would be null and a null-keyed row silently
    // filtered — contradicting the null-group contract above. The sentinel
    // (NUL prefix) cannot collide with a real key's own string form.
    val bucket = graft.functions.HashFunctions.md5_bucket60(
        coalesce(col(keyCol).cast("string"), lit("\u0000null"))) % (1L << 20)
    df.join(broadcast(rates), col(groupCol) <=> col("__grp"))
      .filter(bucket < col("thr"))
      .select(df.columns.map(col): _*) // keep the caller's column order
  }

  /** x26: [[temperatureMix]] on the documents fixture — alpha 0.5 over
    * the skewed language distribution, expected 200 rows.
    */
  def x26TemperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMix(docs(s, dir), "lang", "doc_id", alpha = 0.5, targetRows = 200L)
      .select(col("doc_id"), col("lang"), col("source"))

  /** Cross-document duplicated-n-gram coverage: per document, the
    * fraction of its distinct n-grams that also appear in at least one
    * OTHER document — the Lee-et-al substring-dedup signal at n-gram
    * granularity. Grams live as 8-byte xxhash64 keys end to end: the
    * doc-frequency agg and the back-join shuffle hashes, never text.
    */
  def dupGramCoverage(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // materialize: the index feeds BOTH the doc-frequency agg and the
    // back-join below — without this point the tokenize+n-gram+hash work
    // (the dominant, CPU-bound cost) runs twice, once per consumer
    // (executed plan showed 2 parquet scans, 0 reused exchanges). Same
    // pattern as minhashLshPairs.
    val idx = Extensions.materialized(
      Extensions.shingleIndexFastOf(df, idCol, textCol, n))
    // the index is distinct per (doc, gram) — shingles() dedups inside the
    // doc — so doc-frequency is a plain count, not count_distinct (which
    // would pay the two-phase distinct-agg expand for nothing)
    val docFreq = idx.groupBy(col("shk"))
      .agg(count(lit(1)).as("df_docs"))
    idx.join(docFreq, Seq("shk"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df_docs") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_frac", Extensions.round4o(col("n_dup_grams") / col("n_grams")))
  }

  /** x27: [[dupGramCoverage]] at 10-gram granularity on the documents
    * fixture.
    */
  def x27DupGramCoverage(s: SparkSession, dir: String): DataFrame =
    dupGramCoverage(docs(s, dir), "doc_id", "text", n = 10)

  /** Text canonicalization — the normalize-before-exact-dedup step: lower,
    * strip non-alphanumerics to spaces, squish runs of spaces, trim. Two
    * byte-identical documents that differ only in case/punct/whitespace
    * then share an md5 and collapse in [[Extensions.exactDedup]]. Map-only.
    */
  def normalizeText(df: DataFrame, textCol: String): Column =
    trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "), " +", " "))

  /** x28: [[normalizeText]] over the documents fixture with the dedup-key
    * digest and before/after lengths.
    */
  def x28Normalize(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val norm = normalizeText(d, "text")
    d.select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_raw"),
        length(norm).cast("long").as("len_norm"),
        md5(norm).as("norm_key"))
  }

  /** Distributed Lloyd's k-means over an embedding column — builds the
    * (cell, cvec) centroid table [[Extensions2.ivfTopK]] consumes, making
    * the IVF path self-contained. Deterministic: seeds are the k
    * lowest-id vectors; each iteration is one broadcast-assign (k
    * distances per row, map-side) + one dimension-exploded mean
    * (groupBy (cell, dim) partial-agg — never a per-cell collect). At
    * 100 TB: k and dim are small; every stage is a narrow hash-agg.
    */
  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    var centroids = vecs.orderBy(col("id")).limit(k)
      .orderBy(col("id"))
      .select((row_number().over(Window.orderBy(col("id"))) - 1).cast("int").as("cell"),
        col("v").as("cvec"))
    for (_ <- 0 until iters) {
      // nearest centroid by min_by on the (d2, cell) struct — same "d2 asc,
      // cell asc" rank-1 semantics as a window, but partial-aggregated
      // map-side: one row per vector per partition, no shuffle+sort of the
      // full n×k expansion.
      val assigned = vecs.crossJoin(broadcast(centroids))
        .withColumn("d2", aggregate(
          zip_with(col("v"), col("cvec"), (a, b) => (a - b) * (a - b)),
          lit(0.0d), (acc, x) => acc + x))
        .groupBy(col("id"))
        .agg(min_by(struct(col("cell"), col("v")),
          struct(col("d2"), col("cell"))).as("best"))
        .select(col("id"), col("best.cell").as("cell"), col("best.v").as("v"))
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(avg(col("x")).cast("float").as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("ps"))
        .select(col("cell"), transform(col("ps"), p => p.getField("m")).as("cvec"))
      // a cell that lost every member would vanish from the groupBy; keep
      // its previous centroid so the table always has exactly k cells
      centroids = Extensions.materialized( // also bounds lineage across iters
        means.unionByName(
          centroids.join(means.select(col("cell")), Seq("cell"), "left_anti")))
    }
    centroids
  }

  val entries: Seq[Entry] = Seq(
    Entry("x28_normalize", x28Normalize _, """
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS len_raw,
             CAST(length(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS len_norm,
             md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_key
      FROM documents
      ORDER BY doc_id"""),
    Entry("x25_domain_cap", x25DomainCap _, """
      SELECT doc_id, source, n_chars, rk FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM documents)
      WHERE rk <= 5
      ORDER BY doc_id"""),
    Entry("x26_temperature_mix", x26TemperatureMix _, """
      WITH cnt AS (
        SELECT lang, count(*) AS n_g,
               CAST(floor(pow(count(*), 0.5) * 1048576) AS BIGINT) AS w_g
        FROM documents GROUP BY lang),
      rates AS (
        SELECT lang,
               CAST(floor(least(1.0, w_g / (SELECT sum(w_g) FROM cnt) * 200 / n_g)
                          * 1048576) AS BIGINT) AS thr
        FROM cnt)
      SELECT d.doc_id, d.lang, d.source
      FROM documents d JOIN rates r ON d.lang = r.lang
      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1048576 < r.thr
      ORDER BY d.doc_id"""),
    Entry("x27_dupgram_coverage", x27DupGramCoverage _, """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id,
                     CASE WHEN len(toks) >= 10 THEN array_to_string(toks[i:i+9], ' ')
                          ELSE array_to_string(toks, ' ') END AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 10 THEN len(toks)-9 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      freq AS (SELECT sh, count(DISTINCT doc_id) AS df_docs FROM sh GROUP BY sh)
      SELECT s.doc_id,
             count(*) AS n_grams,
             CAST(sum(CASE WHEN f.df_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
             round(sum(CASE WHEN f.df_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_frac
      FROM sh s JOIN freq f ON s.sh = f.sh
      GROUP BY s.doc_id
      ORDER BY s.doc_id"""),
    Entry("x22_repetition", x22Repetition _, """
      WITH tok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      feat AS (
        SELECT doc_id, tk,
               CASE WHEN len(tk) >= 5
                    THEN list_transform(generate_series(1, len(tk) - 4),
                                        i -> array_to_string(tk[i:i+4], ' '))
                    ELSE [] END AS g5,
               CASE WHEN len(tk) >= 2
                    THEN list_transform(generate_series(1, len(tk) - 1),
                                        i -> array_to_string(tk[i:i+1], ' '))
                    ELSE [] END AS g2
        FROM tok),
      g2cnt AS (
        SELECT doc_id, g, count(*) AS c
        FROM feat, UNNEST(g2) AS u(g)
        GROUP BY doc_id, g),
      top2 AS (
        SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS tot
        FROM g2cnt GROUP BY doc_id)
      SELECT f.doc_id,
             CAST(len(f.tk) AS BIGINT) AS n_tok,
             round(1.0 - len(list_distinct(f.tk)) * 1.0 / len(f.tk), 4) AS dup_tok_frac,
             CASE WHEN len(f.g5) > 0
                  THEN round(1.0 - len(list_distinct(f.g5)) * 1.0 / len(f.g5), 4)
                  ELSE 0.0 END AS dup_5gram_frac,
             coalesce(round(t.mx * 1.0 / t.tot, 4), 0.0) AS top_2gram_frac
      FROM feat f LEFT JOIN top2 t ON f.doc_id = t.doc_id
      ORDER BY f.doc_id"""),
    Entry("x23_sequence_packing", x23SequencePacking _, """
      WITH tok AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      packed AS (
        SELECT doc_id, lang, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_tok) / 512) AS BIGINT) AS chunk_id
        FROM tok)
      SELECT lang, chunk_id, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS chunk_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM packed
      GROUP BY lang, chunk_id
      ORDER BY lang, chunk_id"""),
    Entry("x24_ann_multitable", x24AnnMultiTable _, """
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, t,
               (CASE WHEN embedding[t*6+1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[t*6+2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[t*6+3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[t*6+4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN embedding[t*6+5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN embedding[t*6+6] > 0 THEN 32 ELSE 0 END) AS bkt
        FROM embeddings, UNNEST([0, 1, 2]) AS u(t)),
      q AS (SELECT vec_id AS q_id, v AS qv, t, bkt FROM base WHERE vec_id < 10),
      cand AS (
        SELECT DISTINCT q.q_id, c.vec_id AS c_id
        FROM base c JOIN q ON c.t = q.t AND c.bkt = q.bkt
        WHERE c.vec_id <> q.q_id),
      scored AS (
        SELECT cand.q_id, cand.c_id,
               round(list_cosine_similarity(
                 (SELECT v FROM base b WHERE b.vec_id = cand.q_id AND b.t = 0),
                 (SELECT v FROM base b WHERE b.vec_id = cand.c_id AND b.t = 0)), 4) AS sim
        FROM cand),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk
        FROM scored)
      SELECT q_id, c_id, sim, rk FROM ranked WHERE rk <= 3
      ORDER BY q_id, rk"""))
}
