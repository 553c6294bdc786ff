package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import graft.model.Event
import graft.ops.{Extensions, Extensions2, Extensions3, Extensions4, Extensions5, Extensions6, Extensions7, Extensions8, Extensions9, Extensions10, Extensions11, Extensions12, Extensions13, Extensions14, Extensions15, Extensions16, Extensions17, Extensions18, Extensions19, Extensions20, Extensions22, Extensions23, Extensions24, Extensions25, Extensions26, Extensions27, Extensions28, Extensions29, Extensions30, Extensions31, Extensions32, Extensions33, Extensions35, Extensions36, Extensions37, Extensions38, Extensions39, Extensions40, Extensions41, Extensions42, Extensions43, Extensions44, Extensions45, Extensions46, Extensions47, Extensions48, Extensions49, Extensions50, Extensions51, Extensions52, Extensions53, Extensions54, Extensions55, Extensions56, Extensions57, Extensions58, Extensions59, Extensions60, Extensions61, Extensions62, Extensions63, Extensions64, Extensions65, Extensions66, Extensions67, Extensions68, Extensions69, Extensions70, Extensions71, Extensions72, Extensions73, Extensions74, Extensions75, Extensions76, Extensions77, Extensions78, Extensions79, Extensions80, Extensions81, Extensions82, Extensions83, Extensions84, Extensions85, Extensions86, Extensions87, Extensions88, Extensions89, Extensions90, Extensions91, Extensions92, Extensions93, Extensions94, Extensions95, Extensions96, Extensions97, Extensions98, Extensions99, Extensions100, Extensions101, Extensions102, Extensions103, Extensions104, Extensions105, Extensions106, Extensions107, Extensions108, Extensions109, Extensions110, Extensions111, Extensions112, Extensions113, Extensions114, Extensions115, Extensions116, Extensions117, Extensions118, Extensions120, Extensions121, Extensions122, Extensions123, Extensions124, Extensions125, Extensions126, Extensions127, Extensions128, Extensions129, Extensions130, Extensions131, Extensions132, Extensions133, Extensions134, Extensions135, Extensions136, Extensions137, Extensions138, Extensions139, Extensions140, Extensions141, Extensions142, Extensions143, Extensions144, Extensions145, Extensions146, GraphStore, IvfStore, ModelStore, Multimodal, PostingStore, PqStore, SignatureStore, TrainStore}
import graft.ops.{MediaAsset, MediaFeatures, SketchStore}
import graft.state.Materialize
import graft.stream.Materializer

/** The user-facing surface of the graft library: every operator the
  * oracle-checked query inventory exercises, exposed with real parameters
  * so it runs over arbitrary DataFrames (the `SparkEntry.queries` entries
  * are these same operators bound to the driver's test tables).
  *
  * All operators follow the engine's 100 TB design rules: shuffles carry
  * reduced/narrow data, candidate generation never goes all-pairs, small
  * sides broadcast, similarity scores round before ranking, and every
  * pipeline is deterministic under retries and re-partitioning.
  *
  * Null policy for text operators: id and shard/order operators are
  * null-safe on payloads; explode-based per-doc text reports treat a
  * null/empty text as "no tokens" where they are total ([[stopwordRatio]])
  * and otherwise null-propagate into their score columns (a null `keep`
  * is dropped by `filter(keep)` — run [[filterFunnel]] with an explicit
  * `isNotNull` first stage to count such rows instead of losing them).
  */
object Graft {

  // ---- deduplication -------------------------------------------------------

  /** Keep the lowest-id row per distinct `textCol` value (deterministic
    * keeper; only md5 digests shuffle).
    */
  def exactDedup(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    Extensions.exactDedup(corpus, idCol, textCol)

  /** Exact n-gram Jaccard near-duplicate pairs (inverted-index candidate
    * join). Output (doc_a, doc_b, jaccard), doc_a < doc_b.
    */
  def jaccardNearDupPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleSize: Int = 5): DataFrame =
    Extensions.jaccardPairs(corpus, idCol, textCol, threshold, shingleSize)

  /** Hard-negative mining for contrastive training: BM25's top
    * candidates with the near-duplicate positives anti-joined away —
    * the lexically-confusable non-matches that actually teach.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, k: Int = 5, candK: Int = 10,
      dupThreshold: Double = 0.3, shingleSize: Int = 5): DataFrame =
    Extensions43.hardNegatives(corpus, queries, idCol, textCol, k, candK, dupThreshold, shingleSize)

  /** Top-weighted ranking agreement (RBO_EXT) between two (q_id, c_id,
    * rk) rankings of the same queries — identical lists read 1.0,
    * rank-1 disagreement costs most.
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, k: Int = 5,
      p: Double = 0.9): DataFrame =
    Extensions50.rankBiasedOverlap(a, b, k, p)

  /** Expected-recall table for every (bands x rows) LSH geometry of a
    * signature budget, measured over THIS corpus's observed near-dup
    * pair mass — price the miss rate before committing a signing run.
    */
  def lshRecallPlanner(corpus: DataFrame, idCol: String, textCol: String,
      nPerms: Int = 32, pairThreshold: Double = 0.3,
      shingleSize: Int = 5): DataFrame =
    Extensions42.lshRecallPlanner(corpus, idCol, textCol, nPerms, pairThreshold, shingleSize)

  /** MinHash+LSH near-duplicate pairs (banded signatures for candidates,
    * exact Jaccard verification). Same contract as [[jaccardNearDupPairs]]
    * minus LSH's bounded miss probability; use when the corpus is too large
    * for the full inverted-index join.
    */
  def minhashNearDupPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleSize: Int = 5): DataFrame =
    Extensions.minhashLshPairs(corpus, idCol, textCol, threshold, shingleSize)

  /** SimHash near-duplicate pairs: (doc_a, doc_b, hamming), hamming <=
    * maxHamming (<= 3; pigeonhole-exact candidate join).
    */
  def simhashNearDupPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    Extensions.simhashPairs(corpus, idCol, textCol, maxHamming)

  /** Cluster near-duplicate pairs into components: (doc_id, component) with
    * component = min reachable id — feed [[jaccardNearDupPairs]] (or the
    * MinHash/SimHash variants) in, keep `doc_id === component` rows of the
    * corpus to retain one representative per duplicate cluster.
    */
  def dupClusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame =
    Extensions2.connectedComponents(pairs, aCol, bCol)

  /** Benchmark-contamination detection: per training doc, the best shingle
    * overlap against any eval doc (inverted-index join, never train×eval);
    * rows with overlap >= minOverlap. Output (train_id, matched_eval_id,
    * overlap).
    */
  def contaminationPairs(
      train: DataFrame, eval_ : DataFrame, idCol: String, textCol: String,
      minOverlap: Double = 0.3): DataFrame =
    Extensions2.contaminationPairs(train, eval_, idCol, textCol, minOverlap)

  // ---- similarity search ---------------------------------------------------

  /** Codegen'd cosine similarity over two array<float|double> columns. */
  def cosineSimilarity(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_similarity(a, b)

  /** IVF approximate nearest neighbors: `centroids` (cell, cvec) is the
    * broadcast coarse quantizer; each query probes its best `probes` cells
    * and reranks members by exact cosine. Output (q_id, c_id, sim, rk).
    * The preferred ANN shape at 100 TB — the centroid table comes from an
    * offline k-means and the cell count scales with the corpus.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int = 5, probes: Int = 2): DataFrame =
    Extensions2.ivfTopK(corpus, queries, centroids, idCol, vecCol, k, probes)

  /** Sign-bucket ANN with a parameterized quantizer width: 2^signBits
    * cells. Size `signBits` with [[signBitsFor]] so cells stay
    * executor-sized as the corpus grows — a fixed width turns every cell
    * into a skew hotspot at scale.
    */
  def signBucketTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, signBits: Int = 6): DataFrame =
    Extensions.signBucketTopK(corpus, queries, idCol, vecCol, k, signBits)

  /** Quantizer width giving ~targetCellSize candidates per average cell. */
  def signBitsFor(corpusCount: Long, targetCellSize: Long = 100000L): Int =
    Extensions.signBitsFor(corpusCount, targetCellSize)

  /** Embedding-cosine near-duplicate pairs (SemDeDup-shaped candidates:
    * shared sign-bucket cells only, never n²): (vec_a, vec_b, sim) with
    * sim >= threshold. Feed into [[dupClusters]] for semantic dedup.
    */
  def embeddingNearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.9, signBits: Int = 6): DataFrame =
    Extensions.embeddingNearDupPairs(corpus, idCol, vecCol, threshold, signBits)

  /** OR-amplified LSH ANN: `nTables` independent sign-hash tables over
    * disjoint coordinate blocks; candidates matching in ANY table are
    * exact-reranked. More tables buy recall at linear candidate cost —
    * still bucketed equi-joins, never all-pairs.
    */
  def multiTableSignTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, nTables: Int = 3, bitsPerTable: Int = 6): DataFrame =
    Extensions3.multiTableSignTopK(corpus, queries, idCol, vecCol, k, nTables, bitsPerTable)

  /** Train a product-quantization codebook (per-subspace k-means, exact
    * integer arithmetic, deterministic seeding) — the ANN compression
    * layer: 64 floats → 32 4-bit codes. Compose with [[ivfTopK]] for
    * IVF-PQ.
    */
  def pqTrain(
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = Extensions27.CodebookK, iters: Int = 4): Array[Array[Array[Long]]] =
    Extensions27.pqTrain(vectors, idCol, vecCol, k, iters)

  /** Encode vectors to PQ codes (map-only; codebook rides as literals). */
  def pqEncode(
      vectors: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Long]]]): DataFrame =
    Extensions27.pqEncode(vectors, idCol, vecCol, codebook)

  /** ADC top-k over PQ codes: per-query distance tables broadcast-joined
    * to the compressed corpus — the PQ serving path.
    */
  def pqAdcTopK(
      codes: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Long]]], k: Int = 5): DataFrame =
    Extensions27.pqAdcTopK(codes, queries, idCol, vecCol, codebook, k)

  /** Native backward-inclusive left-outer as-of join (custom logical node +
    * Strategy + physical exec): each left row picks the latest right row of
    * the same key with right time <= left time. One exchange per side, then
    * a single streaming merge pass with O(1) state per partition —
    * memory-independent of key group size, unlike the union+window idiom.
    *
    * `tolerance` (optional) bounds the lookback INCLUSIVELY, expressed in
    * the time column's NATIVE unit: microseconds for timestamps, days for
    * dates, raw values for integral columns — `Some(5000000L)` is 5
    * seconds on a timestamp column, not 5000 seconds.
    */
  def asOfJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      rightSuffix: String = "_r",
      tolerance: Option[Long] = None): DataFrame =
    graft.plans.AsOfJoinOp(left, right, keys, leftTimeCol, rightTimeCol,
      rightSuffix, tolerance)

  /** Query-by-document text retrieval: top-k most similar corpus docs per
    * query doc by exact n-gram Jaccard through the inverted index (only
    * docs sharing a shingle are scored; the query index broadcasts, so the
    * corpus index never shuffles).
    */
  def jaccardTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      k: Int = 5, shingleSize: Int = 5): DataFrame =
    Extensions4.jaccardTopK(corpus, queries, idCol, textCol, k, shingleSize)

  /** Incremental batch-vs-corpus dedup: one row per batch doc with
    * `keep` plus the best-matching corpus survivor when a duplicate
    * (Jaccard >= threshold). Linear in the batch through the inverted
    * index — the corpus is never self-joined.
    */
  def incrementalDedup(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleSize: Int = 5): DataFrame =
    Extensions4.incrementalDedup(corpus, batch, idCol, textCol, threshold, shingleSize)

  /** Build the corpus's shingle inverted index ONCE as a materialized
    * handle — (doc_id, n_sh, shk), one row per distinct n-gram per doc.
    * Feed it to the `...FromIndex` variants when composing several
    * index-shaped stages over the same corpus; each standalone operator
    * otherwise re-tokenizes per call.
    */
  def shingleIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame =
    Extensions.shingleIndexOf(corpus, idCol, textCol, shingleSize)

  /** [[jaccardNearDupPairs]] over a prebuilt [[shingleIndex]] handle. */
  def jaccardPairsFromIndex(index: DataFrame, threshold: Double = 0.5): DataFrame =
    Extensions.exactJaccardFromIndex(index, threshold)

  /** BM25 lexical retrieval: top-k corpus docs per query doc under the
    * Okapi BM25 weight (broadcast stats + inverted-index term join;
    * scores rounded before ranking, ties by candidate id).
    */
  def bm25TopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      k: Int = 5, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    Extensions4.bm25TopK(corpus, queries, idCol, textCol, k, k1, b)

  /** Corpus vocabulary: top-k tokens with corpus counts and document
    * frequencies in one scan (two-level aggregate, no join, top-k via
    * per-partition heaps).
    */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String, k: Int = 1000): DataFrame =
    Extensions4.vocabTopK(df, idCol, textCol, k)

  /** Per-query recall of an ANN result table against a ground-truth result
    * table (both `(q_id, c_id, ...)`); zero-hit queries kept at recall 0.
    */
  def recallAtK(ann: DataFrame, truth: DataFrame): DataFrame =
    Extensions4.recallAtK(ann, truth)

  /** End-to-end semantic dedup over an embedding corpus: sign-bucket
    * near-dup pairs → connected components → per-row (id, component, keep)
    * decision table; keep = cluster representative (min id). Anti-join
    * `keep = false` to drop semantic duplicates.
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.9, signBits: Int = 6): DataFrame =
    Extensions4.semanticDedup(corpus, idCol, vecCol, threshold, signBits)

  /** Each document's `k` most distinctive terms by tf·ln(N/df) —
    * round-before-rank, lexicographic ties.
    */
  def tfidfTopTerms(
      corpus: DataFrame, idCol: String, textCol: String, k: Int = 10): DataFrame =
    Extensions4.tfidfTopTerms(corpus, idCol, textCol, k)

  /** Per-doc cross-entropy against the corpus unigram distribution
    * (CCNet-style LM quality signal): low = typical, high = rare-token
    * noise. Rank and cut a tail percentile to filter.
    */
  def unigramScore(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    Extensions4.unigramScore(corpus, idCol, textCol)

  /** Strided token-window chunking (window/stride, overlap = window -
    * stride): every token covered, tail chunks shorter, map-only. Run
    * before [[packSequences]] — chunk splits long docs, packing
    * concatenates short ones.
    */
  def chunkDocuments(
      corpus: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame =
    Extensions4.chunkDocuments(corpus, idCol, textCol, window, stride)

  // ---- document hygiene ----------------------------------------------------

  /** Gopher-style intra-document repetition metrics (duplicate-token,
    * duplicate-n-gram, top-n-gram fractions) over any (id, text) corpus.
    * Map-only: the most-frequent-gram count is a sort + linear-run HOF
    * inside the row, so no shuffle at any corpus size.
    */
  def repetitionMetrics(
      df: DataFrame, idCol: String, textCol: String,
      dupN: Int = 5, topN: Int = 2): DataFrame =
    Extensions3.repetitionMetrics(df, idCol, textCol, dupN, topN)

  /** Deterministic concat-and-chunk sequence packing: documents in id
    * order within each shard, split at `budget` tokens. One shuffle on the
    * shard key; no global order required at scale.
    */
  def packSequences(
      df: DataFrame, shardCol: String, idCol: String, textCol: String,
      budget: Int = 2048): DataFrame =
    Extensions3.packSequences(df, shardCol, idCol, textCol, budget)

  /** Keep at most `cap` rows per domain, preferring the highest `orderCol`
    * (C4/RefinedWeb-style anti-monopoly guard). Map-side WindowGroupLimit
    * trims before the shuffle.
    */
  def domainCap(
      df: DataFrame, domainCol: String, orderCol: String, idCol: String,
      cap: Int): DataFrame =
    Extensions3.domainCap(df, domainCol, orderCol, idCol, cap)

  /** Temperature-based mixture sampling: per-group rates ∝ count^alpha,
    * scaled to ~targetRows expected output, applied via a deterministic
    * md5 threshold (integer-quantized — engine- and retry-stable).
    */
  def temperatureMix(
      df: DataFrame, groupCol: String, keyCol: String,
      alpha: Double, targetRows: Long): DataFrame =
    Extensions3.temperatureMix(df, groupCol, keyCol, alpha, targetRows)

  /** Per-document fraction of distinct n-grams shared with any other
    * document (cross-doc duplication signal, Lee et al. substring-dedup
    * at n-gram granularity). Hash-keyed end to end.
    */
  def dupGramCoverage(df: DataFrame, idCol: String, textCol: String, n: Int = 10): DataFrame =
    Extensions3.dupGramCoverage(df, idCol, textCol, n)

  /** Distributed deterministic Lloyd's k-means over an embedding column —
    * builds the (cell, cvec) table [[ivfTopK]] consumes, completing the
    * production ANN path (train once offline, broadcast at query time).
    */
  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): DataFrame =
    Extensions3.trainCentroids(corpus, idCol, vecCol, k, iters)

  // ---- quality scoring & curation (round-4 batches) ------------------------

  /** Hashed bag-of-words linear quality score (fasttext-filter shape):
    * map-only, integer-exact; swap hash weights for learned ones via a
    * broadcast join when a trained model exists.
    */
  def qualityScore(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.0): DataFrame =
    Extensions5.hashedLinearScore(corpus, idCol, textCol, threshold)

  /** TRAIN the quality classifier [[qualityScore]] only mimics: batch-GD
    * logistic regression over hashed bag-of-words features (integer-exact
    * iterations, no MLlib/RNG). Returns the micro-unit weight vector;
    * pair with [[logregWeights]]/[[trainAndScoreQuality]].
    */
  def trainQualityClassifier(
      labeled: DataFrame, idCol: String, textCol: String, labelCol: String,
      numBuckets: Int = Extensions26.NumBuckets, iters: Int = 8,
      lrDen: Long = 20L): Array[Long] =
    Extensions26.trainFromText(labeled, idCol, textCol, labelCol, numBuckets, iters, lrDen)

  /** Trained weights as a shippable (feature, w_micro) artifact table. */
  def logregWeights(spark: SparkSession, weights: Array[Long]): DataFrame =
    Extensions26.logregWeights(spark, weights)

  /** Train on labels and score every document (exact integer margins). */
  def trainAndScoreQuality(
      labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame =
    Extensions26.trainAndScore(labeled, idCol, textCol, labelCol)

  /** T5-style span-corruption (input, target) pair generation with
    * deterministic md5 span selection — reproducible denoising data
    * with no RNG state; fixed blocks keep spans non-overlapping with
    * no sequential scan. */
  def spanCorruptionPairs(corpus: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 3, maskPermille: Int = 150): DataFrame =
    Extensions41.spanCorruptionPairs(corpus, idCol, textCol, spanLen, maskPermille)

  /** Top-k PMI word collocations (ln-sum form — corpus-scale counts
    * never multiply; rounded before ranking). */
  def pmiBigrams(corpus: DataFrame, textCol: String, k: Int = 20,
      minCount: Long = 5L): DataFrame =
    Extensions39.pmiBigrams(corpus, textCol, k, minCount)

  /** Cohen's kappa between two boolean raters: one exact confusion-
    * matrix agg + chance-corrected agreement on the single row. */
  def raterAgreement(a: DataFrame, b: DataFrame, idCol: String,
      aKeepCol: String, bKeepCol: String): DataFrame =
    Extensions39.raterAgreement(a, b, idCol, aKeepCol, bKeepCol)

  /** Batch-means 95% CI for the mean of an integer per-row metric:
    * deterministic md5 batches, exact integer sums, t-interval from the
    * micro-quantized batch means — error bars in one aggregation.
    */
  def batchMeansCi(rel: DataFrame, keyCol: String,
      metric: Column, s: Int = 20): DataFrame =
    Extensions40.batchMeansCi(rel, keyCol, metric, s)

  /** Mann–Whitney rank AUC of a scored table against binary labels. */
  def rankAuc(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    Extensions26.rankAuc(scored, scoreCol, labelCol)

  /** Label-free serving scorer: exact micro-margins for an unlabeled
    * corpus under a given weight vector (the per-micro-batch crawl gate,
    * fed by [[modelStore]]-loaded weights + a [[calibrateThreshold]]
    * cutoff).
    */
  def scoreText(rel: DataFrame, idCol: String, textCol: String,
      weights: Array[Long],
      numBuckets: Int = Extensions26.NumBuckets): DataFrame =
    Extensions26.scoreText(rel, idCol, textCol, weights, numBuckets)

  /** Per-group BPE tokenizer-fit report: subwords-per-word and single-
    * symbol fraction under a given merge list — the go/no-go table for a
    * tokenizer trained on a mixture.
    */
  def bpeFitReport(corpus: DataFrame, groupCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    Extensions32.bpeFitReport(corpus, groupCol, textCol, merges)

  /** Precision-targeted keep-threshold calibration over scored+labeled
    * rows: the maximum-recall operating point at the precision target —
    * turns [[trainAndScoreQuality]]'s margins into a deployable gate.
    */
  def calibrateThreshold(scored: DataFrame, marginCol: String,
      labelCol: String, targetPermille: Int = 900): DataFrame =
    Extensions32.calibrateThreshold(scored, marginCol, labelCol, targetPermille)

  /** Reliability table + expected calibration error over scored+labeled
    * rows (equal-width confidence bins): does "0.9 keep-probability"
    * actually keep 90% right? The companion diagnostic to
    * [[calibrateThreshold]] before trusting scores as probabilities.
    */
  def calibrationReport(scored: DataFrame, marginCol: String,
      labelCol: String, bins: Int = 10): DataFrame =
    Extensions44.calibrationReport(scored, marginCol, labelCol, bins)

  /** Bradley–Terry strengths from pairwise comparison counts (fixed MM
    * rounds, ghost-game regularization) — the preference model behind
    * RLHF reward data and arena-style leaderboards. `games` has one row
    * per ordered (player, opponent) with games played and games won.
    */
  def bradleyTerry(games: DataFrame, playerCol: String, oppCol: String,
      nCol: String, wCol: String, iters: Int = 6): DataFrame =
    Extensions44.bradleyTerry(games, playerCol, oppCol, nCol, wCol, iters)

  /** Per-doc cross-entropy under an interpolated corpus bigram LM —
    * catches locally-incoherent text a unigram model scores as normal.
    */
  def bigramScore(
      corpus: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.9): DataFrame =
    Extensions5.bigramScore(corpus, idCol, textCol, lambda)

  /** Corpus-inferred stopword-ratio quality feature (top-df tokens are
    * the stopword list — no hand-curated list, language-agnostic).
    */
  def stopwordRatio(
      corpus: DataFrame, idCol: String, textCol: String,
      topK: Int = 20): DataFrame =
    Extensions9.stopwordRatio(corpus, idCol, textCol, topK)

  /** Per-group robust outlier flags via median/MAD — the heavy-tail-safe
    * length/score hygiene gate.
    */
  def robustOutliers(
      df: DataFrame, groupCol: String, valCol: String,
      cutoff: Double = 3.0): DataFrame =
    Extensions5.robustOutliers(df, groupCol, valCol, cutoff)

  /** Ordered multi-stage keep-predicate funnel: per-stage pass and
    * cumulative-survival counts in ONE corpus scan — the attrition
    * report every corpus release publishes.
    */
  def filterFunnel(df: DataFrame, stages: Seq[(String, Column)]): DataFrame =
    Extensions6.filterFunnel(df, stages)

  /** Within-group percent_rank of a score (deterministic tie-break) —
    * makes a quality signal comparable across heterogeneous sources
    * before one global threshold.
    */
  def quantileNormalize(
      df: DataFrame, groupCol: String, idCol: String, valCol: String): DataFrame =
    Extensions9.quantileNormalize(df, groupCol, idCol, valCol)

  /** Difficulty-decile curriculum assignment via broadcast exact decile
    * boundaries — the scale-safe replacement for global ntile.
    */
  def curriculumDeciles(
      corpus: DataFrame, idCol: String, valCol: String): DataFrame =
    Extensions8.curriculumDeciles(corpus, idCol, valCol)

  // ---- corpus topology & composition ---------------------------------------

  /** Exact pairwise source Jaccard overlap (deduped inverted-index join);
    * for source cardinalities past ~10^5 use [[sourceOverlapSketch]].
    */
  def sourceOverlap(
      corpus: DataFrame, sourceCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame =
    Extensions6.sourceOverlap(corpus, sourceCol, textCol, shingleSize)

  /** MinHash-signature estimate of pairwise source overlap — constant
    * space per source, one corpus pass; the scale path of
    * [[sourceOverlap]].
    */
  def sourceOverlapSketch(
      corpus: DataFrame, sourceCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame =
    Extensions10.sourceOverlapSketch(corpus, sourceCol, textCol, shingleSize)

  /** Per-source doc/token counts, token share, and cumulative
    * concentration curve — the mixture-rebalancing report.
    */
  def sourceMixtureStats(
      corpus: DataFrame, sourceCol: String, textCol: String): DataFrame =
    Extensions5.sourceMixtureStats(corpus, sourceCol, textCol)

  /** Per-source language-distribution entropy + majority language — the
    * composition-diversity audit.
    */
  def sourceLangEntropy(
      corpus: DataFrame, sourceCol: String, langCol: String): DataFrame =
    Extensions9.sourceLangEntropy(corpus, sourceCol, langCol)

  /** Per-source approximate vocabulary (HLL) + exact token counts — the
    * lexical-diversity profile at sketch cost.
    */
  def sourceVocabSketch(
      corpus: DataFrame, sourceCol: String, textCol: String,
      rsd: Double = 0.05): DataFrame =
    Extensions10.sourceVocabSketch(corpus, sourceCol, textCol, rsd)

  /** Per-eval-doc fraction of shingles unseen in a training corpus —
    * the per-doc form of the contamination check.
    */
  def noveltyScore(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame =
    Extensions7.noveltyScore(train, eval, idCol, textCol, shingleSize)

  /** Document pairs where one doc's trailing k tokens are another's
    * leading k — chunked-crawl split-document reassembly candidates.
    */
  def stitchCandidates(
      corpus: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    Extensions8.stitchCandidates(corpus, idCol, textCol, k)

  // ---- embeddings & training layout ----------------------------------------

  /** Johnson-Lindenstrauss sign-random projection to `outDim` dims —
    * map-only embedding compression ahead of ANN.
    */
  def jlProject(
      corpus: DataFrame, idCol: String, vecCol: String,
      outDim: Int, inDim: Int): DataFrame =
    Extensions5.jlProject(corpus, idCol, vecCol, outDim, inDim)

  /** Symmetric per-vector int8 quantization (4x storage cut). */
  def int8Quantize(
      corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    Extensions5.int8Quantize(corpus, idCol, vecCol)

  /** SemDeDup/D4-shaped density pruning: drop the most-central
    * `dropNum/dropDen` of each sign-bucket cell (exact rational, no
    * float threshold).
    */
  def densityPrune(
      corpus: DataFrame, idCol: String, vecCol: String,
      signBits: Int, dropNum: Int = 1, dropDen: Int = 4): DataFrame =
    Extensions7.densityPrune(corpus, idCol, vecCol, signBits, dropNum, dropDen)

  /** Embedding-table pre-flight validation: ragged dims, zero norms,
    * non-finite coordinates per group — run before any ANN build.
    */
  def embeddingValidation(
      corpus: DataFrame, vecCol: String, groupCol: String): DataFrame =
    Extensions10.embeddingValidation(corpus, vecCol, groupCol)

  /** Deterministic md5 shard assignment + balance report. */
  def shardAssign(
      corpus: DataFrame, idCol: String, textCol: String, nShards: Int): DataFrame =
    Extensions5.shardAssign(corpus, idCol, textCol, nShards)

  /** Reproducible corpus-wide pseudo-random training order: md5 shards,
    * salted within-shard order, per-shard windows only.
    */
  def trainingOrder(
      corpus: DataFrame, idCol: String, nShards: Int): DataFrame =
    Extensions6.trainingOrder(corpus, idCol, nShards)

  /** Length-bucketed padding-waste report vs the global-max baseline —
    * parameterizes the batcher.
    */
  def paddingReport(
      corpus: DataFrame, idCol: String, textCol: String,
      bucketWidth: Int = 64): DataFrame =
    Extensions7.paddingReport(corpus, idCol, textCol, bucketWidth)

  /** Corpus-level adjacent char-pair counts — one BPE merge round's
    * statistics.
    */
  def bpePairStats(corpus: DataFrame, textCol: String, topK: Int): DataFrame =
    Extensions8.bpePairStats(corpus, textCol, topK)

  /** Write the IVF index partitioned by centroid cell (+ centroid
    * sidecar): the ANN serving layout — query batches read only their
    * probed cell directories.
    */
  def writeIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, path: String): Unit =
    IvfStore.writeIndex(corpus, idCol, vecCol, centroids, path)

  /** Top-k cosine neighbors from a written IVF index, reading only the
    * probed cells (static partition pruning; equals the in-memory
    * [[ivfTopK]] bit for bit).
    */
  def ivfTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, probes: Int): DataFrame =
    IvfStore.topKFromIndex(spark, path, queries, idCol, vecCol, k, probes)

  /** Append vectors to a written IVF index using its stored centroids —
    * the steady-state ingest path (no rewrite).
    */
  def appendToIvfIndex(
      newVecs: DataFrame, idCol: String, vecCol: String, path: String): Unit =
    IvfStore.appendToIndex(newVecs, idCol, vecCol, path)

  /** Write the IVF-PQ index: PQ codes partitioned by coarse cell with
    * centroid + codebook sidecars — 16 bytes/vector at rest, the
    * billion-scale ANN serving layout ([[ivfPqTopK]] persisted).
    */
  def writePqIndex(
      vectors: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Long]]], path: String): Unit =
    PqStore.writeIndex(vectors, idCol, vecCol, codebook, path)

  /** ADC top-k from a written PQ index, reading only the probed cell
    * directories' codes (never raw vectors); equals [[ivfPqTopK]].
    */
  def pqTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 5): DataFrame =
    PqStore.topKFromIndex(spark, path, queries, idCol, vecCol, k)

  /** Append vectors to a written PQ index (stored codebook + centroids
    * keep old and new rows on one geometry).
    */
  def appendToPqIndex(
      newVecs: DataFrame, idCol: String, vecCol: String, path: String): Unit =
    PqStore.appendToIndex(newVecs, idCol, vecCol, path)

  /** Compact removed vectors out of a written PQ index: only their cells
    * are read and rewritten; emptied cell dirs are deleted.
    */
  def compactPqIndex(
      removeVecs: DataFrame, idCol: String, vecCol: String, path: String): Set[Int] =
    PqStore.compactIndex(removeVecs, idCol, vecCol, path)

  /** Persist / load trained model artifacts (logreg weights, BPE merge
    * tables, PQ codebooks) as config-carrying parquet: a load under a
    * mismatched training configuration fails loudly. See [[graft.ops.ModelStore]]
    * for the per-artifact writers/loaders; exposed here as the facade
    * entry point.
    */
  def modelStore: ModelStore.type = ModelStore

  /** Bucketed edge store for iterative graph operators: write edges
    * bucketed by src once, and every [[pageRank]]/[[labelPropagation]]
    * iteration joins against the co-located scan with no edge-side
    * exchange. See [[graft.ops.GraphStore]].
    */
  def graphStore: GraphStore.type = GraphStore

  /** Deterministic exhaustive train/val/test split (integer permille,
    * md5 bucket — no RNG, map-only, stratification by hash uniformity).
    */
  def stratifiedSplit(
      df: DataFrame, idCol: String,
      valPermille: Int = 50, testPermille: Int = 50): DataFrame =
    Extensions11.stratifiedSplit(df, idCol, valPermille, testPermille)

  /** Token-budget-constrained selection: best-scored docs until ~budget
    * tokens, shard-local prefix sums (no global sort).
    */
  def budgetSelect(
      df: DataFrame, idCol: String, scoreCol: String, tokenCol: String,
      budgetTokens: Long, nShards: Int): DataFrame =
    Extensions11.budgetSelect(df, idCol, scoreCol, tokenCol, budgetTokens, nShards)

  /** Reciprocal-rank fusion of any ranked lists (q_id, c_id, rk) — the
    * calibration-free hybrid-retrieval combiner (BM25 + cosine, or any
    * mix). Costs O(queries x k), never touches the corpus.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame =
    Extensions12.rrfFuse(rankings, k, c)

  /** Average-overlap agreement between two rankings at depth k — the
    * order-aware companion to [[recallAtK]] (disjoint prefixes report 0,
    * not absence).
    */
  def rankingAgreement(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    Extensions12.rankingAgreement(a, b, k)

  /** Corpus-version churn report: added/removed/changed/same counts
    * between two snapshots (ids + digests shuffle, never bodies).
    */
  def corpusDiff(
      prev: DataFrame, next: DataFrame, idCol: String, textCol: String): DataFrame =
    Extensions13.corpusDiff(prev, next, idCol, textCol)

  /** Zipf rank-frequency fit over the top-K tokens — slope ~ -1 reads
    * like natural language; far off flags logs/templates/id dumps.
    */
  def zipfFit(corpus: DataFrame, textCol: String, topK: Int = 100): DataFrame =
    Extensions13.zipfFit(corpus, textCol, topK)

  /** Write the corpus as ordered training shards (partitionBy(shard),
    * ord-sorted files): the trainer's read layout for [[trainingOrder]].
    */
  def writeTrainingShards(
      corpus: DataFrame, idCol: String, nShards: Int, path: String,
      columns: Seq[String]): Unit =
    TrainStore.writeShards(corpus, idCol, nShards, path, columns)

  /** Read one training shard in assigned order (ord is the resume
    * cursor).
    */
  def readTrainingShard(
      spark: org.apache.spark.sql.SparkSession, path: String, shard: Long): DataFrame =
    TrainStore.readShard(spark, path, shard)

  /** One-table corpus datasheet (counts, composition, vocabulary, Zipf
    * naturalness) — the release summary to diff across versions.
    */
  def corpusDatasheet(
      corpus: DataFrame, textCol: String, sourceCol: String,
      langCol: String): DataFrame =
    Extensions14.datasheet(corpus, textCol, sourceCol, langCol)

  /** MinHash signature table (doc_id, h0..h31) — storable corpus
    * representation for signature-only dedup (256 bytes/doc, no text).
    */
  def minhashSignatures(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame =
    Extensions15.minhashSignatures(corpus, idCol, textCol, shingleSize)

  /** Incremental batch-vs-corpus near-dedup on signatures alone: LSH
    * band candidates + estimated-Jaccard verdict; the corpus text is
    * never re-read. Exact-verify alternative: [[incrementalDedup]].
    */
  def incrementalSignatureDedup(
      corpusSigs: DataFrame, batchSigs: DataFrame,
      threshold: Double = 0.5): DataFrame =
    Extensions15.incrementalSignatureDedup(corpusSigs, batchSigs, threshold)

  /** Persisted signature store: write/append band-postings partitioned
    * for static pruning; [[dedupAgainstSignatureStore]] serves batches
    * reading only their band cells.
    */
  def writeSignatureStore(sigs: DataFrame, path: String,
      bands: Int = 8): Unit = // 8 = the classic 8×4 default geometry
    SignatureStore.write(sigs, path, bands)

  /** Choose the signature store's band geometry from measured recall
    * against the exact pair truth at calibration SF — sweep every
    * signature-compatible (bands, rows) split in one pass, mark the
    * cheapest geometry reaching the recall target, feed the winner to
    * [[writeSignatureStore]].
    */
  def signatureGeometryPlan(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, targetRecall: Double = 0.9): DataFrame =
    SignatureStore.geometryPlan(corpus, idCol, textCol, threshold, targetRecall)

  def appendToSignatureStore(sigs: DataFrame, path: String): Unit =
    SignatureStore.append(sigs, path)

  def dedupAgainstSignatureStore(
      spark: SparkSession, path: String, batchSigs: DataFrame,
      threshold: Double = 0.5): DataFrame =
    SignatureStore.dedupAgainstStore(spark, path, batchSigs, threshold)

  /** Compact deleted docs out of the signature store (prunable: the
    * removed docs' signatures determine exactly which cell directories
    * are rewritten). Run after x72/x77 removals so the store stops
    * serving stale dup verdicts.
    */
  def compactSignatureStore(
      spark: SparkSession, path: String, removeSigs: DataFrame): Set[Int] =
    SignatureStore.compact(spark, path, removeSigs)

  /** Compact deleted vectors out of a written IVF index (touched cells
    * only, via re-assignment against the stored centroids).
    */
  def compactIvfIndex(
      removeVecs: DataFrame, idCol: String, vecCol: String, path: String): Set[Int] =
    IvfStore.compactIndex(removeVecs, idCol, vecCol, path)

  /** Span-level duplicate-substring removal (Lee et al. 2022 shape):
    * strips cross-document duplicated n-gram spans from kept documents.
    */
  def stripDuplicateSpans(
      corpus: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Extensions16.stripDuplicateSpans(corpus, idCol, textCol, n)

  /** Multi-width span strip: a token is removed when a duplicate span
    * of ANY listed width covers it — the second, smaller width closes
    * the sub-gram blind spot the x279 exactness card measured (a shared
    * substring shorter than the gram width is invisible to a single
    * pass by construction).
    */
  def stripDuplicateSpansMulti(
      corpus: DataFrame, idCol: String, textCol: String,
      widths: Seq[Int]): DataFrame =
    Extensions16.stripDuplicateSpansMulti(corpus, idCol, textCol, widths)

  /** BPE: train the ordered merge list / apply it back to the corpus. */
  def trainBpe(corpus: DataFrame, textCol: String, numMerges: Int): DataFrame =
    Extensions16.trainBpe(corpus, textCol, numMerges)

  def applyBpe(
      corpus: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    Extensions17.applyBpe(corpus, idCol, textCol, merges)

  /** DSIR importance weights toward a target subset (Xie et al. 2023). */
  def importanceWeights(
      corpus: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 4096): DataFrame =
    Extensions17.importanceWeights(corpus, idCol, textCol, targetPred, buckets)

  /** Duplicate-cluster resolution: the full-corpus keep table with an
    * explicit quality policy (best copy survives).
    */
  def resolveDuplicates(
      corpus: DataFrame, idCol: String, qualityCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    Extensions17.resolveDuplicates(corpus, idCol, qualityCol, pairs, aCol, bCol)

  /** CCNet-style per-language perplexity head/middle/tail buckets. */
  def perplexityBuckets(
      corpus: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame =
    Extensions18.perplexityBuckets(corpus, idCol, textCol, langCol)

  /** Materialized repetition mixture: docs × per-source epoch grants. */
  def epochUpsample(
      corpus: DataFrame, idCol: String, sourceCol: String,
      epochs: Map[String, Int], defaultEpochs: Int = 1): DataFrame =
    Extensions18.epochUpsample(corpus, idCol, sourceCol, epochs, defaultEpochs)

  /** Benchmark decontamination decision table (keep/drop + audit trail). */
  def decontaminate(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      minOverlap: Double = 0.3): DataFrame =
    Extensions19.decontaminate(train, eval, idCol, textCol, minOverlap)

  /** Near-dup-cluster-safe train/val/test split (no duplicate leakage). */
  def clusterSafeSplit(
      corpus: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String,
      valPermille: Int = 100, testPermille: Int = 100): DataFrame =
    Extensions19.clusterSafeSplit(corpus, idCol, pairs, aCol, bCol,
      valPermille, testPermille)

  /** Waterfill token-budget allocation across sources. */
  def waterfillBudget(
      corpus: DataFrame, sourceCol: String, textCol: String,
      budgetFrac: Double): DataFrame =
    Extensions20.waterfillBudget(corpus, sourceCol, textCol, budgetFrac)

  /** Gopher document-quality rule card (per-rule booleans + keep). */
  def gopherRuleCard(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    Extensions20.gopherRuleCard(corpus, idCol, textCol)

  // ---- event analytics ------------------------------------------------------

  /** Strict-sequence windowed funnel: steps_completed per user. */
  def orderedFunnel(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      steps: Seq[String], stepWindowUs: Long): DataFrame =
    Extensions23.orderedFunnel(log, userCol, typeCol, tsCol, steps, stepWindowUs)

  /** Daily cohort retention triangle over `convType` events. */
  def cohortRetention(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      convType: String): DataFrame =
    Extensions23.cohortRetention(log, userCol, typeCol, tsCol, convType)

  /** Event-type Markov transition matrix (counts + row-normalized p). */
  def markovTransitions(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      ordCol: String): DataFrame =
    Extensions23.markovTransitions(log, userCol, typeCol, tsCol, ordCol)

  /** Multi-touch conversion attribution (first/last/linear) over an
    * event log: exact micro-unit credit per (model, touch type) — one
    * user-key exchange, no self-joins of the log.
    */
  def attribution(log: DataFrame, userCol: String, typeCol: String,
      tsCol: String, ordCol: String, convType: String,
      touchTypes: Seq[String]): DataFrame =
    Extensions38.attribution(log, userCol, typeCol, tsCol, ordCol, convType, touchTypes)

  /** RFM tercile segmentation over a conversion log (recency inverted). */
  def rfmSegments(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      valueCol: String, convType: String): DataFrame =
    Extensions24.rfmSegments(log, userCol, typeCol, tsCol, valueCol, convType)

  /** Most frequent gap-delimited session event-type paths (top k). */
  def topSessionPaths(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      ordCol: String, gapUs: Long, k: Int): DataFrame =
    Extensions24.topSessionPaths(log, userCol, typeCol, tsCol, ordCol, gapUs, k)

  /** Per-user mean transition surprisal under the population Markov model
    * (unsupervised behaves-unlike-the-population score).
    */
  def timelineSurprisal(
      eventLog: DataFrame, userCol: String, typeCol: String, tsCol: String,
      ordCol: String): DataFrame =
    Extensions25.timelineSurprisal(eventLog, userCol, typeCol, tsCol, ordCol)

  /** SCD2 history build: state-change rows with [valid_from, valid_to)
    * intervals + is_current flag — the interval sibling of [[latestState]].
    */
  def scd2History(
      log: DataFrame, keyCol: String, stateCol: String, tsCol: String,
      ordCol: String): DataFrame =
    Extensions25.scd2History(log, keyCol, stateCol, tsCol, ordCol)

  /** Population-stability-index drift report between two corpus snapshots
    * over a numeric column (prev's exact deciles as buckets, add-half
    * smoothing). PSI < 0.1 stable, > 0.25 action.
    */
  def psiDrift(
      prev: DataFrame, next: DataFrame, valueCol: String,
      nBuckets: Int = 10): DataFrame =
    Extensions25.psiDrift(prev, next, valueCol, nBuckets)

  /** Integer-deterministic PageRank over an edge list (fixed power
    * iterations, micro-unit ranks) — the canonical iterative-join graph
    * workload; edges+degrees materialize once, rank table stays O(nodes).
    * General directed-graph contract: sink mass redistributes uniformly,
    * no-inflow nodes keep the teleport base (nothing vanishes).
    * `saltBuckets > 1` salts the per-round join for hub-skewed graphs.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 8, saltBuckets: Int = 1): DataFrame =
    Extensions28.pageRank(edges, srcCol, dstCol, iters, saltBuckets)

  /** CUPED A/B readout (Deng et al. 2013): pre-period covariate
    * adjustment computed entirely from exact integer sufficient
    * statistics — one aggregation pass regardless of user count.
    */
  def cupedReadout(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, splitTs: String): DataFrame =
    Extensions28.cupedReadout(events, userCol, tsCol, valueCol, splitTs)

  /** IVF-PQ composed serving (the FAISS IVFADC layout as a Spark plan):
    * route each query to its best cells, ADC-rank only those cells'
    * codes — no raw vectors, no full scan in the serving path.
    */
  def ivfPqTopK(
      vectors: DataFrame, idCol: String, vecCol: String, queries: DataFrame,
      codebook: Array[Array[Array[Long]]], k: Int = 5): DataFrame =
    Extensions31.ivfPqTopK(vectors, idCol, vecCol, queries, codebook, k)

  /** Per-group theta (KMV) distinct sketches — mergeable, and unlike HLL
    * they intersect: pair with [[thetaOverlap]].
    */
  def thetaSketches(rel: DataFrame, groupCol: String, valueCol: String,
      k: Int = Extensions31.ThetaK): DataFrame =
    Extensions31.thetaSketches(rel, groupCol, valueCol, k)

  /** Pairwise distinct/intersection estimates from theta sketches —
    * "how much does A's vocabulary overlap B's" without a token join.
    */
  def thetaOverlap(sketches: DataFrame, k: Int = Extensions31.ThetaK): DataFrame =
    Extensions31.thetaOverlap(sketches, k)

  /** MMR diverse top-k (Carbonell & Goldstein 1998): greedy relevance-
    * vs-redundancy selection over a candidate shortlist — the dedup pass
    * for retrieval results. Integer-exact, k sequential map+top-1 rounds.
    */
  def mmrSelect(
      vectors: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int = 8, lambdaTenths: Int = 7): DataFrame =
    Extensions29.mmrSelect(vectors, idCol, vecCol, queryId, k, lambdaTenths)

  /** Per-node triangle counts over an undirected edge list (ordered
    * a<b<c join-join — each triangle counted once, never neighborhood
    * enumeration).
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    Extensions29.triangleCounts(edges, aCol, bCol)

  /** Label-propagation communities (fixed synchronous rounds, self-votes,
    * smallest-label ties) — deterministic cheap clustering over an edge
    * list; the market-segmentation sibling of [[pageRank]].
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      iters: Int = 5, saltBuckets: Int = 1): DataFrame =
    Extensions30.labelPropagation(edges, aCol, bCol, iters, saltBuckets)

  /** k-core of an undirected edge list (iterative degree peeling,
    * Seidman 1983): surviving (node, within-core degree). The dense-
    * backbone extractor — size `iters` to the expected peel depth.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int = 3,
      iters: Int = 6): DataFrame =
    Extensions45.kCore(edges, aCol, bCol, k, iters)

  /** Newman degree-assortativity coefficient of an undirected edge
    * list: r > 0 hubs-with-hubs, r < 0 hubs-with-leaves — the shape
    * prior that predicts whether hub-salting will matter.
    */
  def assortativity(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    Extensions50.assortativity(edges, aCol, bCol)

  /** Modularity + per-community conductance of a labeled partition —
    * the "are these communities real" eval for [[labelPropagation]]
    * output.
    */
  def communityMetrics(edges: DataFrame, labels: DataFrame, aCol: String,
      bCol: String, nodeCol: String, commCol: String): DataFrame =
    Extensions50.communityMetrics(edges, labels, aCol, bCol, nodeCol, commCol)

  /** One-pass embedding health report per label: mean squared norm, mean
    * pairwise dot (via the sum-vector identity — no pair enumeration),
    * anisotropy (collapse detector). The gate before any ANN/dedup stage.
    */
  def embeddingHealth(vectors: DataFrame, labelCol: String, vecCol: String,
      dim: Int = 0): DataFrame =
    Extensions30.embeddingHealth(vectors, labelCol, vecCol, dim)

  /** Dominant direction of the embedding second-moment matrix via
    * matrix-free power iteration (C·w as one aggregation per round —
    * no d×d matrix, no vector shuffle): the anisotropy axis to project
    * out before cosine retrieval, with its variance share. Quantifies
    * the collapse [[embeddingHealth]] detects.
    */
  def pcaPowerIteration(vectors: DataFrame, vecCol: String,
      dim: Int = Extensions47.Dim, iters: Int = 6): DataFrame =
    Extensions47.pcaPowerIteration(vectors, vecCol, dim, iters)

  /** All-but-the-top correction (Mu & Viswanath 2018): every vector
    * with the [[pcaPowerIteration]] direction projected out, in exact
    * micro units — the post-processing that sharpens cosine retrieval
    * on anisotropic embeddings. Map-only after the iteration.
    */
  def allButTop(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int = Extensions47.Dim, iters: Int = 6): DataFrame =
    Extensions48.allButTop(vectors, idCol, vecCol, dim, iters)

  // ---- similarity join (record linkage) -------------------------------------

  /** All string pairs within edit distance 1 via FastSS deletion-
    * neighborhood blocking — candidates track matches, never N².
    */
  def editDistance1Pairs(rel: DataFrame, strCol: String): DataFrame =
    Extensions24.editDistance1Pairs(rel, strCol)

  // ---- sampling ------------------------------------------------------------

  /** Deterministic stratified sample: per-stratum rates via an md5-bucket
    * threshold on `keyCol` — reproducible under retries, re-partitioning,
    * and engine choice (no RNG state).
    */
  def stratifiedSample(
      df: DataFrame, stratumCol: String, keyCol: String,
      rates: Map[String, Double], default: Double): DataFrame =
    Extensions2.stratifiedSample(df, stratumCol, keyCol, rates, default)

  /** Efraimidis–Spirakis weighted sampling without replacement (x84):
    * top-k priorities ln(u)/w with a deterministic md5 uniform —
    * P(selected) ∝ `weightCol`, identical on every run and engine.
    */
  def weightedPrioritySample(
      corpus: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame =
    Extensions22.weightedPrioritySample(corpus, idCol, weightCol, k)

  // ---- privacy audit -------------------------------------------------------

  /** One-row k-anonymity report through quasi-identifier columns: rows
    * in classes smaller than k, risk fraction, and the table's actual
    * k-anonymity level — one aggregation pass at any scale.
    */
  def kAnonymityReport(rel: DataFrame, quasiCols: Seq[String], k: Int = 5): DataFrame =
    Extensions33.kAnonymityReport(rel, quasiCols, k)

  /** nDCG@k of a ranking table against graded relevance — the graded
    * retrieval metric ([[rankingAgreement]]'s order-aware sibling);
    * pure eval, costs nothing next to the retrieval it scores.
    */
  def ndcgAtK(ranking: DataFrame, grades: DataFrame, k: Int): DataFrame =
    Extensions37.ndcgAtK(ranking, grades, k)

  /** Kaplan–Meier product-limit survival over right-censored subject
    * lifetimes (first→last event, horizon-censored) — retention with
    * the censoring handled correctly.
    */
  def kaplanMeier(events: DataFrame, subjectCol: String, tsCol: String): DataFrame =
    Extensions37.kaplanMeier(events, subjectCol, tsCol)

  /** Regex-family PII scrub over a text column (emails, dashed phones,
    * long digit runs → typed placeholders) with per-category redaction
    * counts — map-only; the free-text sibling of [[kAnonymize]].
    */
  def piiScrub(rel: DataFrame, idCol: String, textCol: String): DataFrame =
    Extensions36.piiScrub(rel, idCol, textCol)

  /** Always-valid mSPRT two-sample readout (Johari et al. 2017): peek
    * any time — one aggregation pass over exact integer sufficient
    * statistics, log-form likelihood ratio, p = min(1, e^{−logΛ}).
    */
  def msprtReadout(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, splitTs: String,
      tauSqCents2: Double = 1.0e8d): DataFrame =
    Extensions36.msprtReadout(events, userCol, tsCol, valueCol, splitTs, tauSqCents2)

  /** Confusion-matrix model card (tp/fp/fn/tn, accuracy, precision,
    * recall, F1) of scored+labeled rows at a [[calibrateThreshold]]
    * gate row — the card a deployed filter ships with; composes
    * train → calibrate → evaluate into one plan.
    */
  def classifierReport(scored: DataFrame, marginCol: String,
      labelCol: String, gate: DataFrame): DataFrame =
    Extensions46.classifierReport(scored, marginCol, labelCol, gate)

  /** Difference-in-differences readout: effect = Δtreatment − Δcontrol
    * of per-unit (post − pre) value, with two-sample se and t — the
    * pre/post causal estimate when assignment isn't randomized.
    */
  def didReadout(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, splitTs: String): DataFrame =
    Extensions46.didReadout(events, userCol, tsCol, valueCol, splitTs)

  /** The x110 always-valid monitor per metric group (e.g. per event
    * type) in one plan: (group, n_control, n_treatment, delta,
    * p_always_valid). Feed into [[bhCorrect]].
    */
  def msprtByGroup(events: DataFrame, groupCol: String, userCol: String,
      tsCol: String, valueCol: String, splitTs: String,
      tauSqCents2: Double = 1.0e8d): DataFrame =
    Extensions51.msprtByGroup(events, groupCol, userCol, tsCol, valueCol,
      splitTs, tauSqCents2)

  /** Benjamini–Hochberg step-up FDR control over a (key, p) hypothesis
    * table — the correction a multi-metric readout owes its reader.
    */
  def bhCorrect(pvals: DataFrame, keyCol: String, pCol: String,
      alphaPermille: Int = 50): DataFrame =
    Extensions51.bhCorrect(pvals, keyCol, pCol, alphaPermille)

  /** Per-decile treatment effect of the outcome distribution — the
    * distributional readout a mean effect can hide.
    */
  def quantileTreatmentEffects(events: DataFrame, userCol: String,
      tsCol: String, valueCol: String, splitTs: String): DataFrame =
    Extensions51.quantileTreatmentEffects(events, userCol, tsCol, valueCol, splitTs)

  /** Sample-ratio-mismatch gate: chi-square of observed arm counts
    * against the design permilles — run it before ANY readout
    * ([[cupedReadout]]/[[msprtReadout]] are invalid under SRM).
    */
  def srmCheck(assignments: DataFrame, armCol: String,
      design: Seq[(String, Int)], critMicro: Long = 3841459L): DataFrame =
    Extensions45.srmCheck(assignments, armCol, design, critMicro)

  /** Benford first-digit audit of a positive amount column: per-digit
    * observed vs log10(1+1/d) expectation + chi-square flag — the
    * synthetic/corrupt-feed forensic.
    */
  def benfordAudit(rel: DataFrame, amountCol: String,
      critMicro: Long = 15507313L): DataFrame =
    Extensions45.benfordAudit(rel, amountCol, critMicro)

  /** CUSUM changepoint: WHERE the level of a value stream shifted —
    * the follow-up to [[psiDrift]]'s "something drifted" alarm.
    */
  def cusumChangepoint(events: DataFrame, tsCol: String, valueCol: String,
      granularity: String = "day"): DataFrame =
    Extensions52.cusumChangepoint(events, tsCol, valueCol, granularity)

  /** Code/markup/template residue audit of a text corpus — per pattern
    * family: documents hit, hit rate, total matches. One corpus pass
    * for all families.
    */
  def contaminationScan(corpus: DataFrame, textCol: String,
      patterns: Seq[(String, String)] = Extensions52.ContaminationPatterns): DataFrame =
    Extensions52.contaminationScan(corpus, textCol, patterns)

  /** Paragraph-granular dedup: split docs on blank lines, drop
    * exact/near-duplicate paragraphs corpus-wide (keep-first), rebuild
    * each doc from the survivors — the boilerplate-footer pass doc-level
    * dedup can't do.
    */
  def dedupParagraphs(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleSize: Int = 5): DataFrame =
    Extensions91.dedupParagraphs(corpus, idCol, textCol, threshold, shingleSize)

  /** Per-threshold documents/bytes a pairwise dedup would drop — the
    * frontier the threshold decision reads.
    */
  def dedupSavingsFrontier(corpus: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame =
    Extensions101.dedupSavingsFrontier(corpus, idCol, textCol, thresholds)

  /** The lognormal length fit per group — which sources carry the
    * heavy tail.
    */
  def groupedLengthFit(corpus: DataFrame, groupCol: String, lenCol: String): DataFrame =
    Extensions101.groupedLengthFit(corpus, groupCol, lenCol)

  /** Exact global row_number/rank/dense_rank/ntile via range-partitioned
    * distributed order statistics — never a single-partition window.
    */
  def globalRank(df: DataFrame, keys: Seq[String], descending: Seq[Boolean],
      parts: Int = 32, tiles: Int = 4): DataFrame =
    graft.ops.Rank.globalRank(df, keys, descending, parts, tiles)

  /** Measured precision + recall of the pinned LSH band geometry per
    * threshold — what the geometry actually did at calibration scale,
    * next to [[lshRecallPlanner]]'s prediction.
    */
  def lshGeometryAudit(corpus: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame =
    Extensions100.lshGeometryAudit(corpus, idCol, textCol, thresholds)

  /** Pair counts per cosine threshold over sign-bucketed candidates —
    * where the embedding-dedup (SemDeDup) threshold belongs.
    */
  def cosineThresholdCurve(vectors: DataFrame, idCol: String, vecCol: String,
      signBits: Int = 6,
      thresholds: Seq[Double] = (5 to 19).map(_ / 20.0)): DataFrame =
    Extensions99.cosineThresholdCurve(vectors, idCol, vecCol, signBits, thresholds)

  /** Closed vs open wedges in the near-dup pair graph — the measured
    * disagreement between pairwise dropping and CC clustering.
    */
  def dupTransitivityAudit(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.3): DataFrame =
    Extensions99.dupTransitivityAudit(corpus, idCol, textCol, threshold)

  /** Component-size histogram of the near-dup graph — mega-clusters
    * vs pair tail decides span-removal vs doc-drop.
    */
  def dupClusterSizes(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame =
    Extensions98.dupClusterSizes(corpus, idCol, textCol, threshold)

  /** Near-dup pairs as an undirected source×source matrix — who
    * syndicates whom.
    */
  def sourceLeakageMatrix(corpus: DataFrame, idCol: String, textCol: String,
      sourceCol: String, threshold: Double = 0.3): DataFrame =
    Extensions98.sourceLeakageMatrix(corpus, idCol, textCol, sourceCol, threshold)

  /** Per-group quantile card: exact p50/p90/p99 with the mergeable
    * Greenwald-Khanna sketch audited against them — at scale the
    * sketch serves; the exact path is the audit.
    */
  def approxQuantileCard(rel: DataFrame, groupCol: String, valueCol: String,
      tolPct: Double = 5.0): DataFrame =
    Extensions97.approxQuantileCard(rel, groupCol, valueCol, tolPct)

  /** Exact deciles per group from one percentile buffer per group. */
  def groupDeciles(rel: DataFrame, groupCol: String, valueCol: String): DataFrame =
    Extensions97.groupDeciles(rel, groupCol, valueCol)

  /** Recall of the true near-dup pairs a radius-r SimHash search
    * captures, per radius — sizes the hamming radius (and its r+1
    * pigeonhole cost) the way [[lshRecallPlanner]] sizes band geometry.
    */
  def simhashRadiusCurve(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxRadius: Int = 8): DataFrame =
    Extensions96.simhashRadiusCurve(corpus, idCol, textCol, threshold, maxRadius)

  /** MinHash estimator calibration card: |matches/32 − exact Jaccard|
    * over the ground-truth pairs — the error every LSH threshold
    * decision silently assumes is small.
    */
  def minhashErrorCard(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame =
    Extensions96.minhashErrorCard(corpus, idCol, textCol, threshold)

  /** Log compaction: keep the latest-version event per aggregate
    * (optionally dropping tombstoned aggregates) — replay cost falls
    * from O(history) to O(live) with the read model provably unchanged.
    */
  def compactLog(spark: SparkSession, path: String, outPath: String,
      dropTombstones: Boolean = false): (Long, Long) =
    graft.log.EventLog.compact(spark, path, outPath, dropTombstones)

  /** Persist the positional token index bucketed by token hash. */
  def writePostingIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 64): Unit =
    PostingStore.write(corpus, idCol, textCol, path, buckets)

  /** Phrase search served from the persisted posting index — reads
    * only the query tokens' bucket directories.
    */
  def phraseSearchFromIndex(spark: SparkSession, path: String,
      phrase: String): DataFrame =
    PostingStore.phraseSearchFromIndex(spark, path, phrase)

  /** Per-source epoch multipliers that steer the corpus mixture to a
    * target share vector — the prescription [[epochUpsample]] consumes.
    */
  def mixtureRebalancePlan(corpus: DataFrame, sourceCol: String,
      targets: Map[String, Long], maxEpochs: Long = 10L): DataFrame =
    Extensions95.mixtureRebalancePlan(corpus, sourceCol, targets, maxEpochs)

  /** Tokens lost to truncation at each candidate context length — the
    * cost curve the packing-efficiency curve is traded against.
    */
  def truncationLossCard(corpus: DataFrame, textCol: String,
      ctxLens: Seq[Int]): DataFrame =
    Extensions95.truncationLossCard(corpus, textCol, ctxLens)

  /** Pre-flight skew check for an equi-join: both sides' key heat,
    * the predicted per-key fan-out c_l·c_r, and the salt-bucket
    * recommendation — the straggler predictor run BEFORE the join.
    */
  def joinSkewPlanner(left: DataFrame, right: DataFrame, keyCol: String,
      hotFactor: Long = 3L, topK: Int = 20): DataFrame =
    Extensions94.joinSkewPlanner(left, right, keyCol, hotFactor, topK)

  /** The dedup funnel priced in bytes — what the exact and near
    * stages each save.
    */
  def dedupSavingsCard(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame =
    Extensions94.dedupSavingsCard(corpus, idCol, textCol, threshold)

  /** Method-of-moments lognormal fit of a length column with the
    * observed tail mass beyond the fitted p99 — packing and
    * truncation planning start here.
    */
  def lognormalLengthFit(corpus: DataFrame, lenCol: String): DataFrame =
    Extensions94.lognormalLengthFit(corpus, lenCol)

  /** Stratified Neyman sample: per-stratum quotas ∝ n_h·s_h, drawn
    * deterministically by md5 order — the variance-optimal eval-set
    * sampler for a fixed labeling budget.
    */
  def stratifiedSample(corpus: DataFrame, idCol: String, stratumCol: String,
      valueCol: String, budget: Long): DataFrame =
    Extensions93.stratifiedSample(corpus, idCol, stratumCol, valueCol, budget)

  /** Cross-lingual duplicate audit: near-dup pairs whose docs carry
    * different language tags — the leakage per-language dedup misses.
    */
  def crossLingualDupPairs(corpus: DataFrame, idCol: String, textCol: String,
      langCol: String, threshold: Double = 0.3): DataFrame =
    Extensions93.crossLingualDupPairs(corpus, idCol, textCol, langCol, threshold)

  /** Source-mix KL drift between two corpus releases — what the
    * release did to the sampling weights, next to [[vocabularyShift]]'s
    * what-it-did-to-the-language.
    */
  def sourceMixKl(prev: DataFrame, next: DataFrame, sourceCol: String): DataFrame =
    Extensions93.sourceMixKl(prev, next, sourceCol)

  /** Yearly revenue by market segment with within-year shares — which
    * segment is growing.
    */
  def segmentRevenueMix(orders: DataFrame,
      customers: DataFrame): DataFrame =
    Extensions90.segmentRevenueMix(orders, customers)

  /** Revenue by (customer nation x supplier nation) with row shares —
    * the Q7 volume-shipping shape, full matrix.
    */
  def tradeFlowMatrix(orders: DataFrame, lineitems: DataFrame,
      customers: DataFrame, suppliers: DataFrame,
      nations: DataFrame): DataFrame =
    Extensions89.tradeFlowMatrix(orders, lineitems, customers, suppliers,
      nations)

  /** Monthly revenue share of promo-type parts — the Q14 promotion
    * effect as a trend.
    */
  def promoShare(lineitems: DataFrame, parts: DataFrame,
      promoPrefix: String = "PROMO"): DataFrame =
    Extensions89.promoShare(lineitems, parts, promoPrefix)

  /** Per-part cheapest-vs-priciest supplier median unit price — the
    * procurement arbitrage table, top-k by spread.
    */
  def priceSpread(lineitems: DataFrame, partCol: String, suppCol: String,
      priceCol: String, qtyCol: String, topK: Int = 20): DataFrame =
    Extensions88.priceSpread(lineitems, partCol, suppCol, priceCol,
      qtyCol, topK)

  /** Parts by supplier count with the revenue exposed per bucket —
    * how much rides on single-sourced parts.
    */
  def sourcingRiskProfile(lineitems: DataFrame, partCol: String,
      suppCol: String, valueCol: String): DataFrame =
    Extensions87.sourcingRiskProfile(lineitems, partCol, suppCol, valueCol)

  /** Order-to-ship lead time per priority: median/p90 + late fraction
    * beyond an SLA — does priority actually buy speed?
    */
  def leadTimeCard(orders: DataFrame, lineitems: DataFrame,
      slaDays: Long = 90L): DataFrame =
    Extensions87.leadTimeCard(orders, lineitems, slaDays)

  /** Monthly revenue split first-time vs repeat customers — the
    * [[dauDecomposition]] for money instead of presence.
    */
  def repeatRevenueSplit(orders: DataFrame, custCol: String, tsCol: String,
      valueCol: String): DataFrame =
    Extensions86.repeatRevenueSplit(orders, custCol, tsCol, valueCol)

  /** Trailing-window z monitor per day with an EXACT integer alert
    * comparison — the dashboard alarm that pages before the seasonal
    * model explains.
    */
  def rollingZAnomalies(events: DataFrame, tsCol: String,
      valueCol: String, window: Int = 7): DataFrame =
    Extensions85.rollingZAnomalies(events, tsCol, valueCol, window)

  /** Orders by item count with shares and per-size average order value
    * — the items-per-order histogram.
    */
  def basketSizeProfile(lineitems: DataFrame, orderCol: String,
      itemCol: String, valueCol: String): DataFrame =
    Extensions85.basketSizeProfile(lineitems, orderCol, itemCol, valueCol)

  /** The corpus on one page: size, token mass, keep rate, dup rate,
    * unseen mass, type-token ratio — headline KPIs of the operator
    * families this engine ships, in two corpus passes.
    */
  def corpusOnePager(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Extensions84.corpusOnePager(corpus, idCol, textCol)

  /** Theil-Sen robust trend: the median pairwise slope of the daily
    * series — one corrupted day moves [[interruptedTimeSeries]]'s OLS
    * arbitrarily, this not at all.
    */
  def theilSenTrend(events: DataFrame, tsCol: String,
      valueCol: String): DataFrame =
    Extensions83.theilSenTrend(events, tsCol, valueCol)

  /** Goh-Barabasi burstiness B = (sigma-mu)/(sigma+mu) of inter-event
    * gaps, summarized per segment — metronome -1, Poisson 0, bursty 1.
    */
  def burstinessIndex(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String): DataFrame =
    Extensions83.burstinessIndex(events, userCol, typeCol, tsCol)

  /** DAU/WAU per week — how often anyone comes back within the week,
    * next to [[dauDecomposition]]'s who-is-new.
    */
  def stickiness(events: DataFrame, userCol: String,
      tsCol: String): DataFrame =
    Extensions82.stickiness(events, userCol, tsCol)

  /** Users by active-day count with the at-least-k right tail — the
    * L28-style habit curve.
    */
  def activityFrequencyCurve(events: DataFrame, userCol: String,
      tsCol: String): DataFrame =
    Extensions82.activityFrequencyCurve(events, userCol, tsCol)

  /** 30-minute-gap sessions summarized: counts, median/p90 value and
    * duration — the session economy in one row.
    */
  def sessionValueCard(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, idCol: String,
      gapUs: Long = 30L * 60 * 1000000): DataFrame =
    Extensions81.sessionValueCard(events, userCol, tsCol, valueCol, idCol,
      gapUs)

  /** Daily actives split new vs returning with shares — the growth-
    * accounting row; net growth without the split hides churn.
    */
  def dauDecomposition(events: DataFrame, userCol: String,
      tsCol: String): DataFrame =
    Extensions81.dauDecomposition(events, userCol, tsCol)

  /** Per-group reach rate with the Wilson 95% interval — the error bar
    * that behaves at 0%/100% where the naive one escapes [0,1].
    */
  def wilsonProportions(events: DataFrame, groupCol: String,
      subjectCol: String): DataFrame =
    Extensions80.wilsonProportions(events, groupCol, subjectCol)

  /** Exact pairwise Jaccard + containment of the subject sets behind
    * each group — the small-cardinality exact form of what
    * [[thetaOverlap]] estimates.
    */
  def audienceOverlap(events: DataFrame, groupCol: String,
      subjectCol: String): DataFrame =
    Extensions80.audienceOverlap(events, groupCol, subjectCol)

  /** ACF at lags 1..K with per-lag significance and the Ljung-Box Q —
    * [[leadLagCorrelation]]'s correlogram turned inward.
    */
  def acfTable(events: DataFrame, tsCol: String, valueCol: String,
      maxLag: Int = 6): DataFrame =
    Extensions79.acfTable(events, tsCol, valueCol, maxLag)

  /** Kendall's turning-point randomness test on the daily series — the
    * time-series cousin of [[runsTestAudit]].
    */
  def turningPointTest(events: DataFrame, tsCol: String,
      valueCol: String): DataFrame =
    Extensions79.turningPointTest(events, tsCol, valueCol)

  /** Per-step funnel conversion by arm with the two-proportion z —
    * "did the redesign move step 2", asked against the
    * [[orderedFunnel]] semantics.
    */
  def funnelArmCompare(log: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], stepWindowUs: Long): DataFrame =
    Extensions78.funnelArmCompare(log, userCol, typeCol, tsCol, steps,
      stepWindowUs)

  /** Hyndman's seasonal strength over the [[seasonalDecompose]]
    * components — is the weekly pattern signal (~1) or noise (~0)?
    */
  def seasonalStrength(events: DataFrame, tsCol: String,
      valueCol: String): DataFrame =
    Extensions78.seasonalStrength(events, tsCol, valueCol)

  /** Per-aggregate missing/duplicated versions in an event log — the
    * integrity failures the PK upsert hides and the read model can't
    * show.
    */
  def versionGapAudit(log: DataFrame, keyCol: String, versionCol: String,
      includeClean: Boolean = false): DataFrame =
    Extensions77.versionGapAudit(log, keyCol, versionCol, includeClean)

  /** Per-aggregate event shares with an integer-exact k×-mean skew
    * flag — hot keys here skew every join keyed on this column; feed
    * them to the salted-join path.
    */
  def hotPartitionReport(log: DataFrame, keyCol: String,
      hotFactor: Long = 3L, topK: Int = 20): DataFrame =
    Extensions77.hotPartitionReport(log, keyCol, hotFactor, topK)

  /** Measure-then-salt equi-join: the heat report's skew arithmetic
    * (one per-key agg + a 1-row reduction) picks the salt-bucket
    * count — 1 (plain join) when no key exceeds hotFactor× the mean
    * share, else enough buckets to flatten the hottest key to ~mean
    * load — and routes through the salted join. Result identical to
    * the plain join; only the shuffle layout changes.
    */
  def autoSalted(large: DataFrame, small: DataFrame, key: String,
      saltSource: Column, hotFactor: Long = 3L,
      maxBuckets: Int = 64): DataFrame =
    graft.ops.Scale.autoSalted(large, small, key, saltSource, hotFactor, maxBuckets)

  /** Heal the small-files partitions of a manifest store (the
    * storeLayoutAudit signal wired into its maintenance verb): flagged
    * partitions rewrite into one file each, published by one atomic
    * manifest commit; answers unchanged, pinned readers unaffected.
    */
  def compactSmallPartitions(spark: SparkSession, root: String, partCol: String,
      smallBytes: Long = 8L << 20): Set[String] =
    graft.ops.StoreManifest.compactSmallPartitions(spark, root, partCol, smallBytes)

  /** The salt decision from a hash-deterministic row sample — one
    * integer from a fraction of a pass instead of a full scan; the
    * safety margin biases borderline keys toward salting.
    */
  def saltDecisionSampled(large: DataFrame, key: String, sampleFraction: Double,
      hotFactor: Long = 3L, maxBuckets: Int = 64, safetyPct: Int = 25): Int =
    graft.ops.Scale.saltDecisionSampled(
      large, key, sampleFraction, hotFactor, maxBuckets, safetyPct)

  /** Top token-share movers between two corpus releases — what the
    * release did to the LANGUAGE, next to [[corpusDiff]]'s which-docs.
    */
  def vocabularyShift(prev: DataFrame, next: DataFrame, textCol: String,
      topK: Int = 30, minCount: Long = 10L): DataFrame =
    Extensions76.vocabularyShift(prev, next, textCol, topK, minCount)

  /** Bidirectional orphan audit for a fact→dim relationship — the
    * relationship profile [[expectationsAudit]]'s declared contract
    * doesn't cover.
    */
  def joinIntegrityProfile(fact: DataFrame, fkCol: String, dim: DataFrame,
      pkCol: String): DataFrame =
    Extensions76.joinIntegrityProfile(fact, fkCol, dim, pkCol)

  /** Exact two-sample Kolmogorov-Smirnov off the value grid — ANY
    * shape difference between arms, where [[mannWhitney]] reads only
    * location; the D argmax compares integers.
    */
  def ksTest(events: DataFrame, userCol: String,
      valueCol: String): DataFrame =
    Extensions75.ksTest(events, userCol, valueCol)

  /** Kish effective sample size per group — what a weighted corpus is
    * actually worth in unweighted samples.
    */
  def kishEss(weighted: DataFrame, groupCol: String,
      weightCol: String): DataFrame =
    Extensions75.kishEss(weighted, groupCol, weightCol)

  /** Cumulative gains / lift table of a scored corpus — "send the top
    * 20%, catch 55% of the keeps", off the margin grid with no
    * row-level ranking.
    */
  def gainsChart(scored: DataFrame, marginCol: String,
      labelCol: String): DataFrame =
    Extensions74.gainsChart(scored, marginCol, labelCol)

  /** The margin threshold maximizing benefit·TP − cost·FP — the
    * money-optimal cut, next to [[calibrateThreshold]]'s
    * precision-targeted one.
    */
  def utilityGate(scored: DataFrame, marginCol: String, labelCol: String,
      benefit: Long, cost: Long): DataFrame =
    Extensions74.utilityGate(scored, marginCol, labelCol, benefit, cost)

  /** Geometric churn constant from weekly activity offsets — the one
    * number an LTV projection consumes, fit from the retention curve.
    */
  def churnRateFit(events: DataFrame, userCol: String, tsCol: String,
      maxK: Int = 3): DataFrame =
    Extensions73.churnRateFit(events, userCol, tsCol, maxK)

  /** Naive vs seasonal-naive forecast MAEs + MASE on the daily series
    * — the floor any real forecasting model must beat.
    */
  def forecastBaselineCard(events: DataFrame, tsCol: String,
      valueCol: String): DataFrame =
    Extensions73.forecastBaselineCard(events, tsCol, valueCol)

  /** Variance-to-mean dispersion index of daily counts per group
    * (Fisher; = 1 under Poisson) — bursty arrivals flagged before
    * anyone fits a queueing model on a Poisson fantasy.
    */
  def overdispersionCheck(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame =
    Extensions72.overdispersionCheck(events, groupCol, tsCol)

  /** Events per hour-of-day per group with shares and the peak hour —
    * the capacity-planning heat row.
    */
  def hourlyLoadProfile(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame =
    Extensions72.hourlyLoadProfile(events, groupCol, tsCol)

  /** First offset where each cohort's cumulative LTV crosses an
    * acquisition cost — the unit-economics readout on [[cohortLtv]].
    */
  def cohortPayback(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, cacDollars: Double,
      granularity: String = "week"): DataFrame =
    Extensions71.cohortPayback(events, userCol, tsCol, valueCol,
      cacDollars, granularity)

  /** ABC / Pareto bands by cumulative revenue share (80/95 cuts) with
    * exact integer band boundaries — the catalog-sized sort, never the
    * corpus.
    */
  def abcClassification(rel: DataFrame, keyCol: String, valueCol: String,
      aCut: Long = 800L, bCut: Long = 950L): DataFrame =
    Extensions71.abcClassification(rel, keyCol, valueCol, aCut, bCut)

  /** Temporal holdout for the item-item recommender: hit-rate of the
    * top-k lists on post-split co-purchases — the model as a measured
    * predictor, the x166 pattern for [[itemItemRecs]].
    */
  def recsHoldoutEval(baskets: DataFrame, basketCol: String,
      itemCol: String, tsCol: String, splitTs: String,
      topK: Int = 3): DataFrame =
    Extensions70.recsHoldoutEval(baskets, basketCol, itemCol, tsCol,
      splitTs, topK)

  /** Chapman capture-recapture estimate of a population from two
    * observation windows, with the actual total alongside.
    */
  def captureRecapture(events: DataFrame, userCol: String, tsCol: String,
      w1Start: String, w1End: String, w2Start: String,
      w2End: String): DataFrame =
    Extensions70.captureRecapture(events, userCol, tsCol, w1Start, w1End,
      w2Start, w2End)

  /** Half-life-decayed engagement top-k: the recency-aware LTV a
    * re-engagement list ranks by — [[cohortLtv]] prices the past,
    * this ranks the decaying present.
    */
  def decayedEngagement(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, halfLifeDays: Double = 7.0,
      topK: Int = 20): DataFrame =
    Extensions69.decayedEngagement(events, userCol, tsCol, valueCol,
      halfLifeDays, topK)

  /** Exact Gini coefficient of per-user metric sums per group, off the
    * value grid — revenue concentration without a global sort.
    */
  def giniConcentration(events: DataFrame, groupCol: String,
      userCol: String, valueCol: String): DataFrame =
    Extensions69.giniConcentration(events, groupCol, userCol, valueCol)

  /** Confusion matrix + accuracy of the stop-word language detector
    * against a labeled lang column — the x08 detector's report card.
    */
  def langIdConfusion(corpus: DataFrame, textCol: String,
      langCol: String): DataFrame =
    Extensions68.langIdConfusion(corpus, textCol, langCol)

  /** Centroid-form silhouette of a labeled embedding space — O(n·L)
    * clustering quality, the only silhouette that scales.
    */
  def centroidSilhouette(embeddings: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame =
    Extensions68.centroidSilhouette(embeddings, idCol, vecCol, labelCol)

  /** Temporal-holdout eval of the [[markovTransitions]] model:
    * next-event-type accuracy per current type on post-split
    * transitions — the transition matrix as a measured predictor.
    */
  def markovNextEventEval(events: DataFrame, userCol: String,
      tsCol: String, typeCol: String, splitTs: String): DataFrame =
    Extensions67.markovNextEventEval(events, userCol, tsCol, typeCol, splitTs)

  /** Docs/tokens surviving raw → exact-hash → near-dup, with fractions
    * of raw — what the dedup pipeline costs and saves, from the same
    * machinery the dedup operators use.
    */
  def dedupFunnelCard(corpus: DataFrame, idCol: String, textCol: String,
      nearThreshold: Double = 0.8): DataFrame =
    Extensions67.dedupFunnelCard(corpus, idCol, textCol, nearThreshold)

  /** BFS reach per hop from a seed set: frontier sizes + cumulative
    * total — who is TOUCHED and when, next to [[pageRank]]'s who
    * matters.
    */
  def khopReach(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, hops: Int): DataFrame =
    Extensions66.khopReach(edges, srcCol, dstCol, seeds, seedCol, hops)

  /** The relabel queue: rows where the trained classifier confidently
    * contradicts its label, ranked by |margin| — what to re-annotate
    * first.
    */
  def labelNoiseSuspects(scored: DataFrame, idCol: String,
      marginCol: String, labelCol: String, topK: Int = 20): DataFrame =
    Extensions66.labelNoiseSuspects(scored, idCol, marginCol, labelCol, topK)

  /** Directional market-basket rules: support / confidence / lift per
    * antecedent-consequent pair — [[itemItemRecs]] ranks symmetric
    * neighbors; this reads the implication a promo placement consumes.
    */
  def associationRules(baskets: DataFrame, basketCol: String,
      itemCol: String, minBoth: Long = 2L, topK: Int = 50): DataFrame =
    Extensions65.associationRules(baskets, basketCol, itemCol, minBoth, topK)

  /** Flesch reading-ease score + grade band per document from exact
    * word / sentence / vowel-group counts — the readability gate next
    * to the quality stats.
    */
  def fleschReadability(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Extensions65.fleschReadability(corpus, idCol, textCol)

  /** Wald-Wolfowitz runs test per training shard — catches the
    * sorted-shard curriculum leak a mean/variance check can't see.
    */
  def runsTestAudit(stored: DataFrame, shardCol: String, ordCol: String,
      keyCol: String): DataFrame =
    Extensions64.runsTestAudit(stored, shardCol, ordCol, keyCol)

  /** Minimum detectable effect per metric at 80% power / alpha 5% from
    * exact sufficient statistics — the "how long must this experiment
    * run" card.
    */
  def mdePlanner(events: DataFrame, userCol: String, typeCol: String,
      valueCol: String): DataFrame =
    Extensions64.mdePlanner(events, userCol, typeCol, valueCol)

  /** Precision/recall/F1 of the shingle-Jaccard near-dup detector
    * against a ground-truth pair set, swept across a threshold grid —
    * one pair computation, |grid| conditional sums.
    */
  def dedupThresholdCurve(corpus: DataFrame, idCol: String,
      textCol: String, truth: DataFrame, thresholds: Seq[Double],
      shingleSize: Int = 5): DataFrame =
    Extensions63.dedupThresholdCurve(corpus, idCol, textCol, truth,
      thresholds, shingleSize)

  /** Per-source corpus composition: doc/token shares, Gopher keep
    * rate, exact-dup rate — the table a pretraining-mix decision reads
    * (input to [[dsirWeights]] / waterfill reweighting).
    */
  def domainMixtureCard(corpus: DataFrame, sourceCol: String,
      idCol: String, textCol: String): DataFrame =
    Extensions63.domainMixtureCard(corpus, sourceCol, idCol, textCol)

  /** Interrupted time series: pre-period OLS trend extrapolated as the
    * counterfactual; effect = actual − predicted per day + cumulative.
    * [[cusumChangepoint]] says WHERE the series shifted; this prices
    * what the shift was worth.
    */
  def interruptedTimeSeries(events: DataFrame, tsCol: String,
      valueCol: String, interventionDay: String): DataFrame =
    Extensions62.interruptedTimeSeries(events, tsCol, valueCol,
      interventionDay)

  /** Mann-Whitney rank-sum A/B test off the value grid — exact ranks
    * under ties with NO row-level rank window; the robust test that
    * ignores the whale [[winsorizedReadout]] merely clamps.
    */
  def mannWhitney(events: DataFrame, userCol: String,
      valueCol: String): DataFrame =
    Extensions62.mannWhitney(events, userCol, valueCol)

  /** Cross-correlogram of daily value vs daily activity at every lag in
    * ±k days — does activity lead revenue, or follow it?
    */
  def leadLagCorrelation(events: DataFrame, tsCol: String,
      valueCol: String, maxLag: Int = 3): DataFrame =
    Extensions61.leadLagCorrelation(events, tsCol, valueCol, maxLag)

  /** Median / p90 seconds between consecutive funnel anchors (the
    * [[orderedFunnel]] greedy semantics, shared fold) — the funnel,
    * priced in time instead of counts.
    */
  def funnelStepTiming(log: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], stepWindowUs: Long): DataFrame =
    Extensions61.funnelStepTiming(log, userCol, typeCol, tsCol, steps,
      stepWindowUs)

  /** Per-user behavioral bot card: event rate, inter-event gap
    * median/MAD, event-type entropy, and the "fast and monotonous"
    * threshold flag — features a rule or a trained classifier consumes.
    */
  def botScoreCard(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, minRate4: Long = 500000L,
      maxEntropy4: Long = 5000L): DataFrame =
    Extensions60.botScoreCard(events, userCol, tsCol, typeCol, minRate4,
      maxEntropy4)

  /** Weight-of-evidence / information-value feature diagnostic against
    * a boolean label — per-bucket WoE with add-half smoothing and the
    * IV total that ranks how much separation a numeric feature buys.
    */
  def woeIv(labeled: DataFrame, featureCol: String, labelCol: String,
      nBuckets: Int = 5): DataFrame =
    Extensions60.woeIv(labeled, featureCol, labelCol, nBuckets)

  /** Dataset card: one row per column — null/distinct counts, min/max,
    * 4dp-quantized mean; the input [[expectationsAudit]] contracts get
    * written from. Default distinct counts are HLL
    * (`approx_count_distinct`, one pass, no Expand amplification — the
    * 100 TB shape); `exactDistinct = true` runs one column-pruned
    * exact pass per column instead.
    */
  def tableProfile(rel: DataFrame, exactDistinct: Boolean = false): DataFrame =
    Extensions59.tableProfile(rel, exactDistinct)

  /** Winsorized A/B readout: per-arm [p01,p99] clamps before the mean,
    * so one whale cannot buy a significant lift.
    */
  def winsorizedReadout(events: DataFrame, userCol: String,
      valueCol: String, pLo: Double = 0.01, pHi: Double = 0.99): DataFrame =
    Extensions59.winsorizedReadout(events, userCol, valueCol, pLo, pHi)

  /** Simple Good–Turing count-of-counts: adjusted counts r* and the
    * unseen probability mass N_1/N — prices the vocabulary tail that
    * [[zipfFit]] and [[heapsFit]] only chart.
    */
  def goodTuring(corpus: DataFrame, textCol: String): DataFrame =
    Extensions58.goodTuring(corpus, textCol)

  /** Cochran-Mantel-Haenszel stratified odds ratio: per-stratum 2x2
    * tables + the MH-pooled estimate a confounded marginal table
    * (Simpson's paradox) gets wrong.
    */
  def cmhOddsRatio(subjects: DataFrame, stratumCol: String,
      exposedCol: String, outcomeCol: String): DataFrame =
    Extensions58.cmhOddsRatio(subjects, stratumCol, exposedCol, outcomeCol)

  /** "Customers who bought this also bought": top-k cosine-normalized
    * basket co-occurrence per item — pairs enumerate per basket, never
    * item×item.
    */
  def itemItemRecs(baskets: DataFrame, basketCol: String, itemCol: String,
      topK: Int = 3): DataFrame =
    Extensions57.itemItemRecs(baskets, basketCol, itemCol, topK)

  /** HITS hubs/authorities over a directed (bipartite) edge relation —
    * fixed-round mutual reinforcement in the same micro-unit integer
    * discipline as [[pageRank]].
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 4): DataFrame =
    Extensions57.hits(edges, srcCol, dstCol, iters)

  /** Per-query MAP@k / MRR against a binary relevance set — the
    * [[ndcgAtK]] sibling for ungraded relevance; AP numerators are
    * exact integers over the lcm(1..k) common denominator.
    */
  def mapMrrAtK(ranking: DataFrame, rel: DataFrame, k: Int): DataFrame =
    Extensions56.mapMrrAtK(ranking, rel, k)

  /** Split-conformal prediction sets for a binary scored table:
    * distribution-free coverage calibrated on an md5-split holdout,
    * reported as empirical coverage + average set size per target
    * level — the finite-sample guarantee point calibration can't give.
    */
  def conformalGate(scored: DataFrame, idCol: String, marginCol: String,
      labelCol: String, levels: Seq[Int] = Seq(900, 950, 990)): DataFrame =
    Extensions56.conformalGate(scored, idCol, marginCol, labelCol, levels)

  /** TextRank keywords: PageRank over the ±2-window word co-occurrence
    * graph — unsupervised keyword extraction, ranks in the same
    * micro-unit longs as [[pageRank]].
    */
  def textRankKeywords(corpus: DataFrame, idCol: String, textCol: String,
      topK: Int = 30, minLen: Int = 4): DataFrame =
    Extensions55.textRankKeywords(corpus, idCol, textCol, topK, minLen)

  /** Declarative data-quality audit: not-null / unique / range /
    * accepted-values / referential integrity, one row per check —
    * scalar checks share ONE aggregation pass; each FK is one broadcast
    * anti-join. The gate a pipeline runs before it trusts a drop.
    */
  def expectationsAudit(rel: DataFrame,
      checks: Seq[Extensions55.Expectation]): DataFrame =
    Extensions55.expectationsAudit(rel, checks)

  /** Isotonic (PAV) calibration map from an exact micro-margin score to
    * P(label=1) — the operator that FIXES what [[classifierReport]]'s
    * ECE measures. Closed-form minimax over the aggregated score grid;
    * iso_rate is monotone non-decreasing by construction.
    */
  def isotonicCalibrate(scored: DataFrame, marginCol: String,
      labelCol: String): DataFrame =
    Extensions54.isotonicCalibrate(scored, marginCol, labelCol)

  /** Top-k tokens by 2×2 chi-square association with a boolean document
    * label — the feature audit behind a hashed bag-of-words classifier:
    * if the top tokens are markup residue, the model learned the
    * extractor, not the language.
    */
  def chiSquareTokens(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, topK: Int = 50, minDf: Long = 5L): DataFrame =
    Extensions54.chiSquareTokens(labeled, idCol, textCol, labelCol, topK, minDf)

  /** Additive seasonal decomposition of a daily metric: centered 7-day
    * trend, day-of-week seasonal index, residual, and a |r| > 3·mean|r|
    * anomaly flag — tells [[cusumChangepoint]]'s "it shifted" apart
    * from "that's just Saturday".
    */
  def seasonalDecompose(events: DataFrame, tsCol: String,
      valueCol: String): DataFrame =
    Extensions53.seasonalDecompose(events, tsCol, valueCol)

  /** Per-group robust outlier report: median/MAD modified z-scores
    * (Iglewicz–Hoaglin 3.5 gate) — the outlier count a single billing
    * glitch cannot drag toward itself the way mean/stddev can.
    */
  def robustOutliers(rel: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    Extensions53.robustOutliers(rel, groupCol, valueCol)

  /** Heaps-law vocabulary-growth fit V ≈ K·T^β over id-order corpus
    * prefixes — the tokenizer-vocab / dedup-rate planning constant.
    * One corpus pass; every checkpoint is a conditional count.
    */
  def heapsFit(corpus: DataFrame, idCol: String, textCol: String,
      checkpoints: Int = 10): DataFrame =
    Extensions49.heapsFit(corpus, idCol, textCol, checkpoints)

  /** Cumulative revenue per signup cohort by month/week offset, per
    * cohort member — the pricing sibling of cohort retention.
    */
  def cohortLtv(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, granularity: String = "month"): DataFrame =
    Extensions49.cohortLtv(events, userCol, tsCol, valueCol, granularity)

  /** k-anonymization by generalization + suppression: rows climb the
    * supplied coarsening ladder level by level until their class reaches
    * k; leftovers come back starred (level = ladder length) for the
    * audit trail. The release (level < ladder length) is k-anonymous by
    * construction — [[kAnonymityReport]] on it reads risk_frac 0.
    */
  def kAnonymize(rel: DataFrame, idCol: String,
      levels: Seq[Seq[(String, org.apache.spark.sql.Column)]], k: Int): DataFrame =
    Extensions35.kAnonymize(rel, idCol, levels, k)

  // ---- multimodal columns --------------------------------------------------

  /** Map-only payload cap for binary media columns (runs BEFORE any shuffle
    * touches the bytes). Codec is stubbed; the batching contract is real.
    */
  def resizeAssets(assets: Dataset[MediaAsset], targetBytes: Int): Dataset[MediaAsset] =
    Multimodal.resizeAssets(assets, targetBytes)

  /** Per-partition batched decode/feature-extract over binary media. */
  def extractMediaFeatures(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] =
    Multimodal.extractFeatures(assets)

  // ---- event-sourced state (the reference's read model) --------------------

  /** Latest state per aggregate: max_by partial+final hash agg — the
    * shuffle carries one candidate per (key × partition), not the events.
    */
  def latestState(events: DataFrame, keyCol: String, orderCol: String): DataFrame =
    Materialize.latestState(events, keyCol, orderCol)

  /** Incremental read-model maintenance: fold a batch of new events into an
    * id-bucketed parquet snapshot, rewriting ONLY the buckets the batch
    * touches (dynamic partition overwrite) — O(new data), not O(table).
    * Returns the bucket ids rewritten.
    */
  def mergeSnapshot(newEvents: DataFrame, snapshotPath: String, numBuckets: Int = 64): Set[Int] =
    graft.log.EventLog.mergeSnapshot(newEvents, snapshotPath, numBuckets)

  /** Bounded-state streaming dedup of redelivered events (watermark-evicted
    * key state).
    */
  def dedupStream(events: Dataset[Event], watermark: String = "10 minutes"): Dataset[Event] =
    Materializer.dedupStream(events, watermark)

  /** Stream-static broadcast enrichment. */
  def enrichStream(events: Dataset[Event], dim: DataFrame): DataFrame =
    Materializer.enrichStream(events, dim)

  // ---- round-9 batches: scripts, splits, layout, the log as record ----------

  /** Codepoint-n-gram near-dup pairs — the x02 contract for unsegmented
    * scripts (CJK/Thai) the word tokenizer cannot see. The default caps
    * each prefix gram's posting list at `postingCap` docs (stop-gram
    * candidate seeding — no hot gram can go quadratic; measured
    * exponent 0.82 at the sf1 audit); `postingCap = 0` is the exact
    * lossless truth baseline, priced against the default by
    * [[charGramCapCard]].
    */
  def charGramNearDupPairs(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.4, n: Int = 10, gramSampleMod: Int = 1,
      postingCap: Int = 64): DataFrame =
    Extensions102.charGramJaccardPairs(corpus, idCol, textCol, threshold, n,
      gramSampleMod, postingCap)

  /** Posting-cap recall card: for each cap, the capped char-gram pairs
    * vs the exact baseline on the same corpus — run on a bounded
    * calibration slice; see [[charGramNearDupPairs]].
    */
  def charGramCapCard(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.4, n: Int = 10, gramSampleMod: Int = 1,
      caps: Seq[Int] = Seq(2, 8, 64)): DataFrame =
    Extensions102.charGramCapCard(corpus, idCol, textCol, threshold, n,
      gramSampleMod, caps)

  /** Measure-then-act over the cap card: per-cap recall rows plus
    * `chosen` = the smallest cap meeting `targetRecall` (largest swept
    * cap when none does). The dial-picker for [[charGramNearDupPairs]].
    */
  def postingCapPlan(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.4, n: Int = 10, gramSampleMod: Int = 1,
      caps: Seq[Int] = Seq(2, 8, 64), targetRecall: Double = 0.99): DataFrame =
    Extensions102.postingCapPlan(corpus, idCol, textCol, threshold, n,
      gramSampleMod, caps, targetRecall)

  /** Codepoint near-dup pairs with the posting cap chosen by
    * [[postingCapPlan]] on a bounded md5-sampled calibration slice —
    * nobody hand-picks the stop-gram dial.
    */
  def charGramNearDupPairsPlanned(corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.4, n: Int = 10,
      gramSampleMod: Int = 1, caps: Seq[Int] = Seq(2, 8, 64),
      targetRecall: Double = 0.99, maxSample: Long = 2000L): DataFrame =
    Extensions102.charGramJaccardPairsPlanned(corpus, idCol, textCol,
      threshold, n, gramSampleMod, caps, targetRecall, maxSample)

  /** Near-dup pairs with per-document script routing: low-space-share
    * docs take the codepoint chain, the rest the word chain.
    */
  def scriptRoutedNearDupPairs(corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.4): DataFrame =
    Extensions102.scriptRoutedJaccardPairs(corpus, idCol, textCol, threshold)

  /** Shingle-containment pairs (C = shared/min) — the doc-inside-doc
    * duplicates Jaccard under-scores.
    */
  def containmentPairs(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, shingleSize: Int = 5): DataFrame =
    Extensions103.containmentPairs(corpus, idCol, textCol, threshold, shingleSize)

  /** OOV-instance share per candidate vocabulary size — the tokenizer
    * sizing curve.
    */
  def oovCurve(corpus: DataFrame, textCol: String,
      vocabSizes: Seq[Long]): DataFrame =
    Extensions104.oovCurve(corpus, textCol, vocabSizes)

  /** Per-label centroid cosine + norm ratio between two snapshots
    * (`idCol` parity) — the embedding-release drift check.
    */
  def centroidDrift(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame =
    Extensions104.centroidDrift(emb, idCol, vecCol, labelCol)

  /** Exact semi join with a Bloom prefilter probed at the large side's
    * scan — for small sides too big to broadcast but whose filter fits
    * the driver.
    */
  def bloomSemiJoin(large: DataFrame, largeKey: String, small: DataFrame,
      smallKey: String, expectedItems: Long): DataFrame =
    Extensions105.bloomSemiJoin(large, largeKey, small, smallKey, expectedItems)

  /** Rows + Morton z-value over two integral dims (range-bucketed to 16
    * bits each).
    */
  def withZValue(df: DataFrame, xCol: String, yCol: String): DataFrame =
    Extensions105.withZValue(df, xCol, yCol)

  /** Write parquet z-ordered on (xCol, yCol): file pruning works on BOTH
    * filter dims instead of just the leading sort key.
    */
  def zOrderWrite(df: DataFrame, xCol: String, yCol: String, path: String,
      targetFiles: Int): Unit =
    Extensions105.zOrderWrite(df, xCol, yCol, path, targetFiles)

  /** Fixed-size overlapping token chunks whose LAST window clamps back
    * to full size — training-uniform chunks ([[chunkDocuments]] is the
    * strided variant that lets the tail run short).
    */
  def chunkFullWindows(corpus: DataFrame, idCol: String, textCol: String,
      size: Int = 64, overlap: Int = 16): DataFrame =
    Extensions105.chunkDocuments(corpus, idCol, textCol, size, overlap)

  /** Leave-one-out k-NN majority-vote accuracy per label — the embedding
    * separability eval. Refuses loudly when the share-derived query
    * count exceeds `maxLooQueries` (the scored relation is candidates ×
    * queries); [[knnClassifierEvalBudgeted]] is the linear scale path.
    */
  def knnClassifierEval(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 5, queryMod: Int = 1,
      maxLooQueries: Long = 50000L): DataFrame =
    Extensions106.knnClassifierEval(emb, idCol, vecCol, labelCol, k, queryMod,
      maxLooQueries)

  /** Near-dup pairs straddling the hash split + the component-level
    * repair; returns (pairs, leaky before, docs moved, leaky after).
    */
  def splitLeakage(corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame =
    Extensions106.splitLeakage(corpus, idCol, textCol, threshold)

  /** Point-in-time read model: every aggregate's state when `orderCol`
    * was ≤ `bound`.
    */
  def asOfState(events: DataFrame, keyCol: String, orderCol: String,
      bound: Column): DataFrame =
    Materialize.asOfState(events, keyCol, orderCol, bound)

  /** Right-to-erasure rewrite: a new log with every event of the id set
    * removed — no trace, unlike a tombstone. Returns (before, dropped,
    * after).
    */
  def forgetAggregates(spark: SparkSession, logPath: String, outPath: String,
      ids: DataFrame): (Long, Long, Long) =
    graft.log.EventLog.forget(spark, logPath, outPath, ids)

  /** Per-event-type erasure certificate for an id predicate. */
  def erasureCertificate(events: DataFrame, forgetPred: Column): DataFrame =
    Extensions107.erasureCertificate(events, forgetPred)

  /** Incremental (O(delta)) maintenance of a per-id count/sum/min/max
    * view — monoid folds into only the touched snapshot buckets.
    */
  def mergeAggregate(newRows: DataFrame, snapshotPath: String, idCol: String,
      aggs: Seq[(String, String, String)], numBuckets: Int = 64): Set[Int] =
    graft.log.EventLog.mergeAggregate(newRows, snapshotPath, idCol, aggs, numBuckets)

  /** Events a `withWatermark(delay)` aggregation would drop, per
    * candidate delay — measure the disorder before configuring it.
    */
  def watermarkPlan(events: DataFrame, arrivalCol: String, tsCol: String,
      batchSize: Long, boundsMinutes: Seq[Long]): DataFrame =
    Extensions107.watermarkPlan(events, arrivalCol, tsCol, batchSize, boundsMinutes)

  /** Stepwise payload schema evolution on replay: each (guard, rewrite)
    * migration applies in version order, so any historical generation
    * lands on the current schema through single-step migrations.
    */
  def upcastJson(df: DataFrame, jsonCol: String,
      migrations: Seq[(Column => Column, Column => Column)]): DataFrame =
    Extensions109.upcastJson(df, jsonCol, migrations)

  /** First-failing-rule quarantine tag (null = clean): split on
    * `dlq_reason IS NULL` — evidence kept, stream proceeds, zero loss.
    */
  def routeDeadLetters(df: DataFrame, rules: Seq[(String, Column)]): DataFrame =
    Extensions109.routeDeadLetters(df, rules)

  /** RM3 pseudo-relevance-feedback expansion terms: mined from each
    * query's BM25 feedback docs, original terms excluded.
    */
  def queryExpansionTerms(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, kFeedback: Int = 3, m: Int = 5): DataFrame =
    Extensions110.queryExpansionTerms(corpus, queries, idCol, textCol, kFeedback, m)

  /** Best evidence window per hit: the w-token span with the most
    * distinct query terms, candidates only from matched positions.
    */
  def snippets(corpus: DataFrame, hits: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, w: Int = 10): DataFrame =
    Extensions110.snippets(corpus, hits, queries, idCol, textCol, w)

  /** Exact set-similarity join via prefix filtering (AllPairs/PPJoin):
    * each doc indexes only its rarest `sz − ceil(t·sz) + 1` shingles —
    * lossless at threshold tNum/tDen, and the hot boilerplate tail
    * never reaches the pair join.
    */
  def prefixFilterJaccardPairs(corpus: DataFrame, idCol: String, textCol: String,
      tNum: Long, tDen: Long, shingleSize: Int = 1): DataFrame =
    Extensions111.prefixFilterJaccardPairs(corpus, idCol, textCol, tNum, tDen,
      shingleSize)

  /** Dirichlet-smoothed query-likelihood retrieval — the language-model
    * family next to [[bm25TopK]]; only candidate docs are ever scored.
    */
  def dirichletQueryLikelihood(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, k: Int, mu: Double = 2000.0): DataFrame =
    Extensions111.dirichletQueryLikelihood(corpus, queries, idCol, textCol, k, mu)

  /** Array-out ±1 random sign projection (Achlioptas) to `outDims`
    * NESTED components — integer-exact over 1e4-quantized inputs, the
    * sign matrix driver-materialized as literals (SignProject kernel;
    * siblings: [[jlProjectionCard]]'s distortion card on the same
    * kernel, [[jlProject]]'s row-shaped norm-preserving form).
    * Round-14: was engine-internal (x247); surfaced for facade parity.
    */
  def randomProjection(emb: DataFrame, vecCol: String, inDims: Int,
      outDims: Int): DataFrame =
    Extensions108.randomProjection(emb, vecCol, inDims, outDims)

  /** Sorted-neighborhood blocking: candidate pairs within window `w` of
    * the (sortKey-prefix, id) rank order, verified by exact shingle
    * Jaccard — the record-linkage block for sort-key-concentrated dups.
    */
  def sortedNeighborhoodPairs(corpus: DataFrame, idCol: String,
      textCol: String, w: Int = 10, threshold: Double = 0.5,
      shingleSize: Int = 5): DataFrame =
    Extensions108.sortedNeighborhoodPairs(corpus, idCol, textCol, w,
      threshold, shingleSize)

  /** Fellegi–Sunter record-linkage EM over a blocked candidate-pair
    * table: learns per-field match/non-match agreement rates and the
    * match prior UNLABELED from the 2^k agreement-pattern counts, and
    * returns the per-pattern posterior match probability (micro-units).
    * Compose with [[editDistance1Pairs]] / [[sortedNeighborhoodPairs]]
    * for blocking and [[linkagePosterior]] for per-pair scores.
    */
  def fellegiSunterLinkage(pairs: DataFrame, agreeCols: Seq[String],
      iters: Int = 10): DataFrame =
    Extensions112.fellegiSunterLinkage(pairs, agreeCols, iters)

  /** Per-pair posterior match probability: broadcast-rejoins a
    * [[fellegiSunterLinkage]] fit onto the pair table by pattern.
    */
  def linkagePosterior(pairs: DataFrame, agreeCols: Seq[String],
      model: DataFrame): DataFrame =
    Extensions112.linkagePosterior(pairs, agreeCols, model)

  /** Jaro–Winkler similarity join within a blocking key: pairs scored
    * by the native codegen [[graft.functions.JaroWinkler]] expression
    * (canonical Winkler semantics, fused into whole-stage codegen —
    * no UDF boxing). Also registered as SQL `jaro_winkler(a, b)`.
    */
  def jaroWinklerPairs(rel: DataFrame, idCol: String, strCol: String,
      blockCol: String, threshold: Double): DataFrame =
    Extensions112.jaroWinklerPairs(rel, idCol, strCol, blockCol, threshold)

  /** Interpolated Kneser–Ney bigram cross-entropy per document —
    * absolute discounting with continuation-probability backoff, the
    * KenLM-family estimator next to [[bigramScore]]'s fixed-λ model.
    */
  def knBigramScore(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Extensions112.knBigramScore(corpus, idCol, textCol)

  /** Sequential-pattern support mining (GSP/PrefixSpan family):
    * frequent event-type subsequences up to length 3 — gaps allowed,
    * types may repeat — counted via the earliest-completion
    * decomposition with the Apriori alphabet prune. Discovery, where
    * [[orderedFunnel]] evaluates one given sequence.
    */
  def seqPatternSupport(log: DataFrame, userCol: String, typeCol: String,
      tsCol: String, minSupNum: Long, minSupDen: Long): DataFrame =
    Extensions113.seqPatternSupport(log, userCol, typeCol, tsCol,
      minSupNum, minSupDen)

  /** Exact 1-D Wasserstein-1 (earth-mover) distance matrix between
    * per-group value distributions — the metric-aware complement to
    * [[sourceMixKl]]: a two-bin and a ten-bin shift of the same mass
    * tie under bin-wise divergences and are ordered by W1.
    */
  def wasserstein1Matrix(rel: DataFrame, groupCol: String,
      valueCol: String, binWidth: Long): DataFrame =
    Extensions113.wasserstein1Matrix(rel, groupCol, valueCol, binWidth)

  /** Coarsened-exact-matching ATT (Iacus–King–Porro): the observational
    * effect estimator next to the randomized-arm readouts ([[cupedReadout]],
    * [[quantileTreatmentEffects]]) — exact matching on coarsened confounder cells ≡
    * stratification on the saturated propensity score; single-arm cells
    * pruned and REPORTED.
    */
  def cemAtt(units: DataFrame, treatCol: String, outcomeCentsCol: String,
      cellCols: Seq[String]): DataFrame =
    Extensions114.cemAtt(units, treatCol, outcomeCentsCol, cellCols)

  /** Per-group bounded top-k through the typed [[graft.functions.TopKFold]]
    * Aggregator — answer-identical to the window-rank idiom, but partial
    * aggregation ships ≤ k entries per group per map partition instead
    * of sort-shuffling every row.
    */
  def topKPerGroup(rel: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame =
    Extensions114.topKPerGroup(rel, groupCol, idCol, scoreCol, k)

  /** Binary-segmentation changepoint: the level-shift LOCATOR next to
    * the drift detectors ([[cusumChangepoint]] flags drift, [[interruptedTimeSeries]]
    * estimates a KNOWN break) — the split maximizing between-segment
    * SSE reduction, exact in integers, ties earliest.
    */
  def changepoint(series: DataFrame, tCol: String,
      yCentsCol: String): DataFrame =
    Extensions115.changepoint(series, tCol, yCentsCol)

  /** Persisted mergeable distinct-count sketches (DataSketches HLL):
    * append one sketch row per (group, batch); serving unions and
    * estimates without ever rescanning history. Batched union is
    * register-identical to a one-pass sketch (SketchStoreSpec).
    */
  def sketchAppend(store: String, batch: DataFrame, groupCol: String,
      valueCol: String, lgK: Int = 12): Unit =
    SketchStore.append(store, batch, groupCol, valueCol, lgK)

  /** Serve distinct-count estimates from a [[sketchAppend]] store. */
  def sketchEstimate(spark: SparkSession, store: String): DataFrame =
    SketchStore.estimate(spark, store)

  /** Unigram-LM tokenizer training (SentencePiece family, hard-EM):
    * seed with every frequent substring, alternate Viterbi segmentation
    * and count re-estimation — the vocabulary-SHRINKING estimator next
    * to [[trainBpe]]'s growing one. Integer micro-nat costs; the DP
    * tie rule is spec-proven equal to the oracle's global rule.
    */
  def unigramPieces(corpus: DataFrame, textCol: String, maxK: Int = 6,
      minCount: Long = 4, iters: Int = 2, topN: Int = 40,
      keepPermille: Int = 1000): DataFrame =
    Extensions116.unigramPieces(corpus, textCol, maxK, minCount, iters, topN,
      keepPermille)

  /** Per-document fertility card (pieces per word) under the trained
    * unigram vocabulary — the datasheet number; the x104 BPE fit
    * report's sibling. `keepPermille < 1000` prices the PRUNED
    * vocabulary (the SentencePiece EM-then-prune schedule, x268/x269):
    * each EM round keeps that share of multi-char pieces by integer
    * loss contribution before re-costing.
    */
  def unigramFertility(corpus: DataFrame, idCol: String, textCol: String,
      maxK: Int = 6, minCount: Long = 4, iters: Int = 2,
      keepPermille: Int = 1000): DataFrame =
    Extensions116.unigramFertility(corpus, idCol, textCol, maxK, minCount,
      iters, keepPermille)

  /** Leave-one-group-out data valuation: retrain the integer-GD quality
    * classifier with each group's training rows removed and report the
    * validation-Brier delta — what a source/language actually
    * contributes, the curation question importance weighting cannot
    * answer. Positive value = load-bearing group.
    */
  def dataValuation(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, groupCol: String, valMod: Long = 5L,
      iters: Int = 8): DataFrame =
    Extensions117.dataValuation(labeled, idCol, textCol, labelCol, groupCol,
      valMod, iters)

  /** Theil–Sen robust trend: the median-of-pairwise-slopes estimator
    * next to the least-squares fits — 29.3% breakdown point; slopes stay
    * exact rationals until the one selected median renders micro.
    */
  def theilSen(series: DataFrame, tCol: String, yCentsCol: String): DataFrame =
    Extensions118.theilSen(series, tCol, yCentsCol)

  /** Mann–Kendall trend test — the significance half of the [[theilSen]]
    * pairing (MK decides IF a monotone trend exists, TS sizes it);
    * exact S and tie-corrected variance, z rounded 4dp.
    */
  def mannKendall(series: DataFrame, tCol: String, yCentsCol: String): DataFrame =
    Extensions118.mannKendall(series, tCol, yCentsCol)

  /** Exactly-once append sink for `foreachBatch`: each batch is one
    * manifest commit carrying the applied-batch watermark, so redelivery
    * is a no-op and torn writes stay invisible to readers
    * — `writeStream.foreachBatch(IdempotentSink.into(out))`, read back
    * with [[graft.stream.IdempotentSink.readCommitted]].
    */
  def idempotentBatchSink(out: String): (DataFrame, Long) => Unit =
    graft.stream.IdempotentSink.into(out)

  // ---- round-10/11 additions ------------------------------------------------

  /** Blocking-family planner for record linkage: price FastSS
    * deletion-1, prefix-filter, and sorted-neighborhood candidates on a
    * calibration sample against an all-pairs Jaro–Winkler gold standard
    * and mark the cheapest family meeting the recall target. Refuses
    * inputs above `maxSample` (the gold pass is n² BY DESIGN — only a
    * sample may pay it); [[blockingPlanSampled]] handles full corpora.
    */
  def blockingPlan(records: DataFrame, strCol: String,
      jwThreshold: Double = 0.9, window: Int = 10,
      tNum: Long = 1L, tDen: Long = 2L, targetRecall: Double = 0.9,
      maxSample: Long = 50000L): DataFrame =
    Extensions120.blockingPlan(records, strCol, jwThreshold, window,
      tNum, tDen, targetRecall, maxSample)

  /** [[blockingPlan]] over a deterministic md5-derived sample — the
    * 100 TB entry point: the same corpus always prices the same sample.
    */
  def blockingPlanSampled(records: DataFrame, strCol: String,
      jwThreshold: Double = 0.9, window: Int = 10,
      tNum: Long = 1L, tDen: Long = 2L, targetRecall: Double = 0.9,
      maxSample: Long = 50000L): DataFrame =
    Extensions120.blockingPlanSampled(records, strCol, jwThreshold, window,
      tNum, tDen, targetRecall, maxSample)

  /** Winnowing fingerprint overlap (Schleimer et al. 2003, the MOSS
    * algorithm): per-window minimum gram hashes — ~1/w of the posting
    * volume of full shingling, position-aware — bucket-joined into
    * (doc_a, doc_b, n_shared) overlap pairs.
    */
  def winnowingPairs(corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, minShared: Long = 2L): DataFrame =
    Extensions121.winnowingPairs(corpus, idCol, textCol, k, w, minShared)

  /** Square-root temperature source mixing: exact integer
    * largest-remainder quotas per source, deterministic md5-rank picks
    * — the corpus-mixture materializer (quota math is O(sources)
    * driver-side; the pick is a per-source partitioned rank).
    */
  def temperatureMix(corpus: DataFrame, idCol: String, srcCol: String,
      totalTarget: Long): DataFrame =
    Extensions121.temperatureMix(corpus, idCol, srcCol, totalTarget)

  /** Deterministic Poisson-bootstrap mean CI (Chamandy et al.):
    * per-(row, replica) Poisson(1) weights by inverse CDF on md5
    * uniforms (one digest feeds TWO replicas via [[graft.functions.HashFunctions.md5_pair60]]),
    * partial sums collapse map-side — never B·N rows through a shuffle.
    */
  def bootstrapMeanCi(rel: DataFrame, groupCol: String, valCol: String,
      idCol: String): DataFrame =
    Extensions122.bootstrapMeanCi(rel, groupCol, valCol, idCol)

  /** Inverse-propensity ATT (Hájek form): the x94 integer-GD propensity
    * over hashed text features, clipped odds reweighting of controls,
    * self-normalized — the model-based estimator next to CEM matching.
    */
  def ipwAtt(labeled: DataFrame, idCol: String, textCol: String,
      treatCol: String, outcomeCol: String, iters: Int = 8,
      clipLoMicro: Long = 10000L, clipHiMicro: Long = 990000L): DataFrame =
    Extensions123.ipwAtt(labeled, idCol, textCol, treatCol, outcomeCol,
      iters, clipLoMicro, clipHiMicro)

  /** Weight-of-evidence / Information-Value audit per bucket of a
    * candidate feature against a binary label (Siddiqi 2006) —
    * Laplace-smoothed, integer micro arithmetic to the single ln.
    */
  def woeIvCard(rel: DataFrame, bucketCol: String, labelCol: String): DataFrame =
    Extensions124.woeIvCard(rel, bucketCol, labelCol)

  /** K-fold cross-validation of the integer-GD quality classifier:
    * hash-stable id%k folds, K trainings over ONE featurization,
    * per-fold exact Brier + half-up mean and max−min spread — one
    * holdout number becomes mean ± spread.
    */
  def kFoldCv(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, k: Int = 5, iters: Int = 8): DataFrame =
    Extensions125.kFoldCv(labeled, idCol, textCol, labelCol, k, iters)

  /** XML interchange fidelity card: the table through the built-in XML
    * source and back (pinned schema, µs timestampFormat — the default
    * truncates to millis), aggregated post-round-trip. Compare against
    * the same aggregate on the original to prove lossless ingest.
    */
  def xmlRoundTripCard(events: DataFrame,
      scratchDir: Option[String] = None): DataFrame =
    Extensions126.xmlRoundTripCard(events, scratchDir)

  /** ORC interchange fidelity card — [[xmlRoundTripCard]]'s sibling for
    * the second enterprise columnar format.
    */
  def orcRoundTripCard(events: DataFrame,
      scratchDir: Option[String] = None): DataFrame =
    Extensions127.orcRoundTripCard(events, scratchDir)

  /** Exactly-once incremental aggregate merge for `foreachBatch`: the
    * applied-batch watermark commits INSIDE the same manifest rename as
    * the merged buckets — no data-vs-marker window exists; redelivered
    * micro-batches are no-ops. Returns the touched buckets, or None
    * when the batch had already been applied.
    */
  def mergeAggregateOnce(newRows: DataFrame, snapshotPath: String,
      idCol: String, aggs: Seq[(String, String, String)], batchId: Long,
      numBuckets: Int = 64): Option[Set[Int]] =
    graft.log.EventLog.mergeAggregateOnce(newRows, snapshotPath, idCol,
      aggs, batchId, numBuckets)

  /** Measured watermark planning: price candidate delay bounds against
    * an arrival-history sample and return the smallest bound meeting
    * the late-drop target (with its predicted drops) — the x246 lateness
    * card wired into the parameter it prices.
    */
  def plannedWatermark(history: DataFrame, arrivalCol: String, tsCol: String,
      batchSize: Long, boundsMinutes: Seq[Long],
      targetDropShare: Double): (Long, Long) =
    Materializer.plannedWatermark(history, arrivalCol, tsCol, batchSize,
      boundsMinutes, targetDropShare)

  /** Streaming windowed counts under a [[plannedWatermark]]-chosen
    * delay; returns the delay so the caller can log the decision.
    */
  def windowedCountsPlanned(events: Dataset[Event], history: DataFrame,
      arrivalCol: String, batchSize: Long, boundsMinutes: Seq[Long],
      targetDropShare: Double, windowLen: String = "1 hour"): (DataFrame, Long) =
    Materializer.windowedCountsPlanned(events, history, arrivalCol,
      batchSize, boundsMinutes, targetDropShare, windowLen)

  /** Store-level vacuum for a persisted IVF index: superseded batch
    * files AND the versioned centroid sidecar dirs no surviving
    * manifest names, under the retention clock.
    */
  def ivfVacuumStore(spark: SparkSession, path: String, keepVersions: Int = 1,
      retentionMs: Long = graft.ops.StoreManifest.DefaultRetentionMs): (Seq[String], Seq[String]) =
    IvfStore.vacuumStore(spark, path, keepVersions, retentionMs)

  /** Store-level vacuum for a persisted PQ store: superseded code
    * batches AND unreferenced centroid/codebook sidecar dirs.
    */
  def pqVacuumStore(spark: SparkSession, path: String, keepVersions: Int = 1,
      retentionMs: Long = graft.ops.StoreManifest.DefaultRetentionMs): (Seq[String], Seq[String]) =
    PqStore.vacuumStore(spark, path, keepVersions, retentionMs)

  /** Span-strip exactness card: x68's hashed-gram strip measured
    * against planted exact-substring truth (strippable plant, sub-gram
    * plant, never-dup filler) — false/missed token counts, byte strip,
    * ppm rates.
    */
  def spanExactnessCard(spark: SparkSession, tablesDir: String): DataFrame =
    Extensions127.spanExactnessCard(spark, tablesDir)

  /** BLEU components + ROUGE-N recall of each doc's span-stripped text
    * against its original — what the strip cost in n-gram fidelity.
    */
  def stripFidelityCard(corpus: DataFrame, idCol: String, textCol: String,
      stripN: Int = 5): DataFrame =
    Extensions128.stripFidelityCard(corpus, idCol, textCol, stripN)

  /** Common-neighbor link-prediction scores (CN / resource allocation /
    * Adamic–Adar / preferential attachment) over the one-mode right
    * projection of a bipartite edge table.
    */
  def linkPredictionScores(edges: DataFrame, leftCol: String, rightCol: String,
      minCommon: Long = 2L): DataFrame =
    Extensions128.linkPredictionScores(edges, leftCol, rightCol, minCommon)

  /** Simplified-Soundex phonetic key of a lowercase alpha token —
    * the fourth record-linkage blocking family.
    */
  def phoneticKey(c: Column): Column = Extensions128.phoneticKey(c)

  /** Bucket-size / candidate-volume card of [[phoneticKey]] blocking
    * over a name column's first tokens.
    */
  def phoneticBlockingCard(records: DataFrame, strCol: String): DataFrame =
    Extensions128.phoneticBlockingCard(records, strCol)

  /** LOO kNN eval with the query COUNT budgeted (mod = ceil(n /
    * maxQueries)) — linear in the corpus at constant estimate
    * precision, vs the exact-quadratic truth baseline.
    */
  def knnClassifierEvalBudgeted(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 5, maxQueries: Long = 1000L): DataFrame =
    Extensions106.knnClassifierEvalBudgeted(emb, idCol, vecCol, labelCol, k,
      maxQueries)

  /** Damped Holt forecast over a daily count series — all-integer micro
    * recursion, horizon ≤ 12; (h, yhat_micro, level_micro, trend_micro).
    */
  def holtDampedForecast(events: DataFrame, tsCol: String,
      horizon: Int = 7): DataFrame =
    Extensions129.holtDampedForecast(events, tsCol, horizon)

  /** Truncated harmonic centrality from md5-sampled pivots (exact
    * multi-source BFS, Σ half-up 10^6/d).
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      nPivots: Int = 8, maxHops: Int = 8): DataFrame =
    Extensions129.harmonicCentrality(edges, srcCol, dstCol, nPivots, maxHops)

  /** Deterministic shard-replication scale-up of the test tables
    * (disjoint keyspaces, per-replica token prefixes) — the synthesis
    * behind the sf1 scaling audit.
    */
  def synthesizeScaled(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int = 10): Unit =
    graft.ScaleUp.synthesize(spark, baseDir, outDir, factor)

  // ---- round-12 batch: density clustering, feature MI, embedding QC ---------

  /** Grid-cell DBSCAN over the first two embedding components:
    * (vec_id, role ∈ core/border/noise, min-core-id cluster or −1).
    * Candidates come from a 9-cell eps-grid join — lossless for the
    * eps-ball, never all-pairs.
    */
  def dbscan2d(emb: DataFrame, idCol: String, vecCol: String,
      epsMicro: Long = 25000L, minPts: Int = 4): DataFrame =
    Extensions130.dbscan2d(emb, idCol, vecCol, epsMicro, minPts)

  /** Top-k tokens by mutual information with a boolean doc label — the
    * MI member of the feature-selection trio (chi² x141, WOE/IV).
    */
  def tokenLabelMi(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, topK: Int = 50, minDf: Long = 5L): DataFrame =
    Extensions130.tokenLabelMi(labeled, idCol, textCol, labelCol, topK, minDf)

  /** Exact cosine kNN-graph hubness card (in-degree + mutuality per
    * node) on a bounded id slice — the embedding-space pathology probe.
    */
  def knnHubness(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, idBound: Long = 600L): DataFrame =
    Extensions130.knnHubness(emb, idCol, vecCol, k, idBound)

  /** Benford first-significant-digit card per group vs the log10(1+1/d)
    * expectation — the money-column forensics screen.
    */
  def benfordCard(events: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    Extensions130.benfordCard(events, groupCol, valueCol)

  /** Matryoshka truncation recall: top-k agreement between full-dim and
    * prefix-dim cosine retrieval on a bounded slice.
    */
  def matryoshkaRecall(emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, prefixDims: Int = 16, idBound: Long = 600L): DataFrame =
    Extensions130.matryoshkaRecall(emb, idCol, vecCol, k, prefixDims, idBound)

  /** One kept representative per near-dup cluster under an explicit
    * policy (priority asc, size desc, id asc) — the curation keep rule,
    * as opposed to the min-id component LABEL.
    */
  def dedupRepresentatives(corpus: DataFrame, idCol: String, textCol: String,
      rankCol: Column, sizeCol: Column, threshold: Double = 0.5,
      shingleSize: Int = 5): DataFrame =
    Extensions131.dedupRepresentatives(corpus, idCol, textCol, rankCol,
      sizeCol, threshold, shingleSize)

  /** Empirical quantile transform: per-group scores mapped to the
    * global score at the same rank quantile (exact, through the
    * two-pass global-rank machinery) — makes per-domain quality scores
    * comparable before a global threshold.
    */
  def quantileMatch(rel: DataFrame, idCol: String, groupCol: String,
      scoreCol: String): DataFrame =
    Extensions131.quantileMatch(rel, idCol, groupCol, scoreCol)

  /** Per-doc codepoint Shannon entropy in exact integer micro-nats —
    * the cheap base64/run-padding screen.
    */
  def charEntropy(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    Extensions131.charEntropy(corpus, idCol, textCol)

  /** Propensity-score caliper matching ATT (nearest control with
    * replacement, caliper-bucket candidates) — the matching estimator
    * on the same propensity chain as [[ipwAtt]].
    */
  def psmAtt(labeled: DataFrame, idCol: String, textCol: String,
      treatCol: String, outcomeCol: String, iters: Int = 8,
      caliperMicro: Long = 50000L): DataFrame =
    Extensions132.psmAtt(labeled, idCol, textCol, treatCol, outcomeCol, iters,
      caliperMicro)

  /** Monge–Elkan fuzzy-name pairs (per-token best Jaro–Winkler,
    * direction-symmetrized) within a blocking key — the multi-token
    * comparator between whole-string JW and token-set Jaccard.
    */
  def mongeElkanPairs(rel: DataFrame, idCol: String, strCol: String,
      blockCol: String, thresholdMicro: Long = 850000L): DataFrame =
    Extensions132.mongeElkanPairs(rel, idCol, strCol, blockCol, thresholdMicro)

  /** Mean unbiased pass@k (Chen et al. 2021) over a (task, attempt,
    * 0/1 pass) table — one row per k, exact combinatorial form,
    * samples-per-task loudly capped so the falling factorials stay
    * long-exact.
    */
  def passAtK(samples: DataFrame, taskCol: String, passCol: String,
      ks: Seq[Int] = Seq(1, 2, 4, 8), maxSamplesPerTask: Long = 30L): DataFrame =
    Extensions133.passAtK(samples, taskCol, passCol, ks, maxSamplesPerTask)

  /** Doubly-robust (AIPW) ATE card: regression-only, Horvitz–Thompson
    * IPW, and AIPW estimates side by side — propensity + two outcome
    * GD chains over one feature table.
    */
  def aipwAte(labeled: DataFrame, idCol: String, textCol: String,
      treatCol: String, outcomeCol: String, iters: Int = 8,
      clipLoMicro: Long = 10000L, clipHiMicro: Long = 990000L): DataFrame =
    Extensions133.aipwAte(labeled, idCol, textCol, treatCol, outcomeCol,
      iters, clipLoMicro, clipHiMicro)

  /** Top-k first-`depth` event-type paths per user (the Sankey/path-
    * analysis card): (path, n_users) by count desc, path asc.
    */
  def eventPathCard(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String, depth: Int = 5, topK: Int = 20): DataFrame =
    Extensions133.eventPathCard(events, userCol, typeCol, tsCol, tieCol,
      depth, topK)

  /** Mean exact maj@k (self-consistency voting accuracy) over a
    * (task, attempt, 0/1 pass) table — hypergeometric tail per task,
    * one row per odd k.
    */
  def majAtK(samples: DataFrame, taskCol: String, passCol: String,
      ks: Seq[Int] = Seq(1, 3, 5), maxSamplesPerTask: Long = 30L): DataFrame =
    Extensions134.majAtK(samples, taskCol, passCol, ks, maxSamplesPerTask)

  /** Mean E[max reward of k draws] (best-of-n selection eval) over a
    * (task, attempt, reward-micro) table — exact order-statistic
    * weights, one row per k.
    */
  def bestOfKReward(samples: DataFrame, taskCol: String, rewardCol: String,
      ks: Seq[Int] = Seq(1, 2, 4, 8), maxSamplesPerTask: Long = 30L): DataFrame =
    Extensions134.bestOfKReward(samples, taskCol, rewardCol, ks,
      maxSamplesPerTask)

  /** Training-dynamics dataset map (easy/hard/ambiguous regions) over
    * the integer-GD trace — mean and variance of true-label confidence
    * across checkpoints, one region row each.
    */
  def trainingDynamicsCard(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, iters: Int = 8,
      stdThreshMicro: Long = 150000L): DataFrame =
    Extensions134.trainingDynamicsCard(labeled, idCol, textCol, labelCol,
      iters, stdThreshMicro)

  /** Relative Katz centrality (α = 1/5, L levels) — exact attenuated
    * walk counts over the common denominator 5^L, one end
    * normalization.
    */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      levels: Int = 4): DataFrame =
    Extensions135.katzCentrality(edges, srcCol, dstCol, levels)

  /** Pivot-sampled Brandes betweenness (exact σ/δ accumulation from
    * md5 pivots, truncated BFS) — (node, bc_micro) for positive
    * dependency.
    */
  def pivotBetweenness(edges: DataFrame, srcCol: String, dstCol: String,
      nPivots: Int = 4, maxHops: Int = 4): DataFrame =
    Extensions135.pivotBetweenness(edges, srcCol, dstCol, nPivots, maxHops)

  /** Exact truncated neighborhood function + 90% effective-diameter
    * flag from md5 pivots — (h, pairs_within, share_micro, flag).
    */
  def neighborhoodFunction(edges: DataFrame, srcCol: String, dstCol: String,
      nPivots: Int = 8, maxHops: Int = 8): DataFrame =
    Extensions135.neighborhoodFunction(edges, srcCol, dstCol, nPivots, maxHops)

  /** Min-K% Prob membership/contamination score per document —
    * mean surprisal of the k% least-probable tokens under the corpus
    * unigram model, exact micro-nats.
    */
  def minKProb(corpus: DataFrame, idCol: String, textCol: String,
      kPermille: Int = 200): DataFrame =
    Extensions139.minKProb(corpus, idCol, textCol, kPermille)

  /** Alignment/uniformity embedding-quality card (Wang & Isola 2020)
    * over a corpus-invariant md5 top-C sample.
    */
  def alignmentUniformity(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, sampleCap: Int = 400): DataFrame =
    Extensions139.alignmentUniformity(emb, idCol, vecCol, labelCol, sampleCap)

  /** Validation-Brier learning curve at md5 training fractions. */
  def learningCurve(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, fracsPermille: Seq[Int] = Seq(250, 500, 750, 1000),
      iters: Int = 8): DataFrame =
    Extensions138.learningCurve(labeled, idCol, textCol, labelCol,
      fracsPermille, iters)

  /** Two-arm MDE/power planning card from exact cents moments. */
  def mdeCard(units: DataFrame, metricCentsCol: String): DataFrame =
    Extensions138.mdeCard(units, metricCentsCol)

  /** Sample-ratio-mismatch self-check of an md5 50/50 unit split —
    * derives the arms from the split itself and compares the critical
    * value in pure integers; [[srmCheck]] is the design-permille form
    * for externally assigned arms.
    */
  def srmSplitCheck(units: DataFrame, unitCol: String,
      saltPrefix: String = "ab:"): DataFrame =
    Extensions138.srmCheck(units, unitCol, saltPrefix)

  /** Day-batched UCB1 policy replay with hindsight regret. */
  def ucb1Replay(rewards: DataFrame, dayCol: String, armCol: String,
      rewardCol: String): DataFrame =
    Extensions137.ucb1Replay(rewards, dayCol, armCol, rewardCol)

  /** Dawid-Skene label model: per-rater sensitivity/specificity from
    * redundant noisy labels, two EM rounds, integer-exact.
    */
  def dawidSkene(items: DataFrame, raterCols: Seq[String],
      rounds: Int = 2): DataFrame =
    Extensions137.dawidSkene(items, raterCols, rounds)

  /** Consistent-hash ring vs mod-N rebalance card. */
  def rebalanceCard(keys: DataFrame, keyCol: String, nShards: Int = 4,
      vnodes: Int = 32): DataFrame =
    Extensions137.rebalanceCard(keys, keyCol, nShards, vnodes)

  /** Reciprocal-rank fusion of per-query rankings. */
  def rrfFusion(rankings: Seq[DataFrame], k0: Long = 60L,
      topK: Int = 10): DataFrame =
    Extensions136.rrfFusion(rankings, k0, topK)

  /** ARI + NMI agreement between a clustering and truth labels. */
  def clusterAgreement(assigned: DataFrame, clusterCol: String,
      labelCol: String): DataFrame =
    Extensions136.clusterAgreement(assigned, clusterCol, labelCol)

  /** Placebo-treatment refutation of an IPW effect readout. */
  def placeboRefutation(labeled: DataFrame, idCol: String, textCol: String,
      treatCol: String, outcomeCol: String, iters: Int = 8): DataFrame =
    Extensions136.placeboRefutation(labeled, idCol, textCol, treatCol,
      outcomeCol, iters)

  /** Bipartite butterfly/caterpillar motif card + bipartite
    * clustering coefficient; wedges enumerated from the cheaper side
    * (measured, side-symmetric count).
    */
  def butterflyCard(edges: DataFrame, leftCol: String,
      rightCol: String): DataFrame =
    Extensions140.butterflyCard(edges, leftCol, rightCol)

  /** k-truss edge-support peel — surviving edges with final support. */
  def kTruss(edges: DataFrame, aCol: String, bCol: String, k: Int = 4,
      iters: Int = 4): DataFrame =
    Extensions140.kTruss(edges, aCol, bCol, k, iters)

  /** IPS/SNIPS offline policy value from logged actions + empirical
    * logging marginals — the counterfactual eval beside the x310
    * replay.
    */
  def ipsPolicyValue(logs: DataFrame, actionCol: String, rewardCol: String,
      targetCol: String): DataFrame =
    Extensions141.ipsPolicyValue(logs, actionCol, rewardCol, targetCol)

  // ---- round-13 batches: layout, rank tests, attribution, guarantees --------

  /** Distributed exact global inclusive prefix sum over a total order —
    * the weighted sibling of the global rank (range partition + O(parts)
    * offsets; never a one-task sort). Appends `ps` DECIMAL(38,0).
    */
  def globalPrefixSum(df: DataFrame, keys: Seq[String],
      descending: Seq[Boolean], valueCol: String, parts: Int = 32): DataFrame =
    graft.ops.Rank.globalPrefixSum(df, keys, descending, valueCol, parts)

  /** GPT-style concat-and-chunk packing card: chunk count, the share of
    * documents a context boundary cuts, last-chunk fill — the
    * pretraining batch-layout pricing over a deterministic md5 order.
    */
  def packingCard(corpus: DataFrame, idCol: String, textCol: String,
      ctxTokens: Long = 512L): DataFrame =
    Extensions142.packingCard(corpus, idCol, textCol, ctxTokens)

  /** Mann–Whitney U rank-sum card between two groups — the
    * nonparametric two-sample test beside the MDE/SRM parametric tier;
    * 2·U exact integer, tie-corrected z micro.
    */
  def mannWhitneyU(samples: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame =
    Extensions142.mannWhitneyU(samples, groupCol, valueCol, groupA, groupB)

  /** Time-windowed conversion attribution — the bounded-lookback,
    * exactly-conserved sibling of [[attribution]] (x113): trailing
    * `windowDays` only, 10⁶ micro per conversion reconciles to zero.
    * `eventIdCol` names the per-event id column (conversion/touch
    * identity); a hub user fanning past `maxUserCandidates`
    * conversion×touch candidates loud-refuses before the join.
    */
  def attributionCard(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, convType: String, windowDays: Int = 7,
      eventIdCol: String = "event_id",
      maxUserCandidates: Long = 10000000L): DataFrame =
    Extensions142.attributionCard(events, userCol, tsCol, typeCol,
      convType, windowDays, eventIdCol, maxUserCandidates)

  /** Split-conformal coverage card over the house GD classifier:
    * calibration-fold order-statistic threshold + realized held-out
    * coverage — the distribution-free guarantee wrap.
    */
  def conformalCard(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, alphaPermille: Int = 100, iters: Int = 8): DataFrame =
    Extensions143.conformalCard(labeled, idCol, textCol, labelCol,
      alphaPermille, iters)

  /** k-round greedy max-coverage selection over word shingles — the
    * submodular diversity pick beside MMR's embedding geometry.
    */
  def greedyCoverageSelect(corpus: DataFrame, idCol: String,
      textCol: String, k: Int = 5, shingleN: Int = 3): DataFrame =
    Extensions143.greedyCoverageSelect(corpus, idCol, textCol, k, shingleN)

  /** Per-document max sliding-window unigram-surprisal burst — the
    * localized junk detector a document-mean perplexity averages away.
    */
  def surprisalBurst(corpus: DataFrame, idCol: String, textCol: String,
      window: Int = 20): DataFrame =
    Extensions143.surprisalBurst(corpus, idCol, textCol, window)

  /** Benjamini-Hochberg step-up FDR over per-metric p-values (micro) -
    * the family-level guardrail for a many-metrics scoreboard; pure
    * integer accept test, distributed global rank.
    */
  def bhFdr(metrics: DataFrame, idCol: String, pMicroCol: String,
      alphaPermille: Int = 50): DataFrame =
    Extensions144.bhFdr(metrics, idCol, pMicroCol, alphaPermille)

  /** Winsorized-mean card: exact lo/hi permille order statistics off
    * the value grid, both means half-up micro, clip counts - the
    * heavy-tail guard for revenue metrics.
    */
  def winsorizedMean(samples: DataFrame, valueCol: String,
      loPermille: Int = 10, hiPermille: Int = 990): DataFrame =
    Extensions144.winsorizedMean(samples, valueCol, loPermille, hiPermille)

  /** JL sign-projection distortion card: pairwise squared-distance
    * ratio under a +-1 md5 projection on the bounded md5 sample - the
    * go/no-go before shrinking the ANN index k/dim-fold.
    */
  def jlProjectionCard(vectors: DataFrame, idCol: String, vecCol: String,
      kDims: Int = 16, sampleCap: Int = 40): DataFrame =
    Extensions145.jlProjectionCard(vectors, idCol, vecCol, kDims, sampleCap)

  /** Mutual-best one-to-one match resolution over a scored candidate
    * table - the assignment closure entity resolution needs after the
    * pair scores.
    */
  def oneToOneMatch(scored: DataFrame, leftCol: String, rightCol: String,
      scoreCol: String, rounds: Int = 4): DataFrame =
    Extensions145.oneToOneMatch(scored, leftCol, rightCol, scoreCol, rounds)

  /** Multiset (bag) near-dup pairs: weighted Jaccard Σmin/Σmax over
    * token counts, candidates from rare-token postings (df-capped, the
    * stop-token discipline) — credits shared MASS where set-Jaccard
    * credits shared vocabulary.
    */
  def weightedJaccardPairs(corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.5, dfCap: Int = 20): DataFrame =
    Extensions146.weightedJaccardPairs(corpus, idCol, textCol, threshold, dfCap)

  /** RAG-style overlapping token chunker with stable (doc, idx) chunk
    * ids - map-only, chunks never cross documents; the retrieval-side
    * segmentation beside packingCard's pretraining layout.
    */
  def chunkText(corpus: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 128, overlapTokens: Int = 32): DataFrame =
    Extensions146.chunkText(corpus, idCol, textCol, chunkTokens, overlapTokens)

  // ---- authorization (P5) --------------------------------------------------

  /** Row/column-restricted view — the engine-side analog of the reference's
    * token-gated access split (PlayerResourceIT.java:124-134: writes require
    * the admin role, reads the user role; an unauthorized principal sees an
    * error, never data). In an analytics engine the enforcement point is a
    * restricted view handed to the consumer: rows not matching
    * `rowPredicate` and columns outside `visibleCols` simply do not exist
    * in the plan the consumer can reach, and Catalyst pushes the predicate
    * into the scan like any other filter (no post-hoc redaction pass).
    * Register the result as a temp view to gate a SQL session.
    */
  def authorizedView(
      df: DataFrame, rowPredicate: Column,
      visibleCols: Seq[String] = Nil): DataFrame = {
    val filtered = df.filter(rowPredicate)
    if (visibleCols.isEmpty) filtered
    else filtered.select(visibleCols.map(org.apache.spark.sql.functions.col): _*)
  }
}
