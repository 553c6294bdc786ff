package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Training-data-pipeline operators (SURVEY §2.11 + the driver north star):
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity
  * search over embeddings (brute-force + LSH-bucketed ANN), and text
  * analysis (language ID, quality scoring, token counting, fingerprinting).
  *
  * Scale shapes:
  *  - exact dedup groups on md5(text), never raw text — the shuffle carries
  *    16-byte keys, not documents;
  *  - near-dup candidate generation goes through an inverted index
  *    (shingle → doc) or LSH bands, never an all-pairs product; verified
  *    here: 5-gram candidates are ~0.3% of the n² pairs at sf0.1;
  *  - ANN probes a single sign-bucket (the IVF-style coarse quantizer);
  *    brute-force cosine is kept as the recall baseline;
  *  - similarity scores are rounded *before* ranking so float ulp noise
  *    cannot reorder top-k between engines or partitionings.
  */
object Extensions {

  /** Materialization point for shared/iterated subplans (a union of two
    * projections of one plan otherwise runs the subtree twice; iterative
    * loops otherwise replay all prior rounds). Default is
    * `localCheckpoint`: executor-local blocks, fast, but lineage is
    * truncated so an executor loss after this point fails the job — fine
    * on local[n], a real risk on a 1000-executor cluster. Setting
    * `spark.graft.reliableCheckpoint=true` on the session (with
    * `sparkContext.setCheckpointDir` pointing at shared storage) switches
    * every such site to a reliable `checkpoint`, which survives executor
    * loss at the cost of a write to the checkpoint dir.
    */
  private[ops] def materialized(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.reliableCheckpoint").contains("true"))
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Level-synchronous multi-pivot BFS with the pivot set carried as a
    * BITMASK per node (r15, guide §2.3 "shuffle fewer bytes"): one row
    * per (node) instead of one per (pivot, node), so every frontier⋈edges
    * join, dedup agg and seen-filter moves K× fewer rows (K = pivots,
    * ≤ 64). Returns the per-hop levels: levels(0) = the pivots with
    * their own bit; levels(h) = (node, m) where m's set bits are the
    * pivots whose BFS FIRST reaches node at hop h. Bit-identical to the
    * row-per-pivot formulation: reached/not-reached per (pivot, node,
    * hop) is the same set, only the encoding changes.
    */
  private[ops] def pivotMaskLevels(
      und: DataFrame, pivots: Seq[Long], maxHops: Int): Seq[DataFrame] = {
    require(pivots.nonEmpty && pivots.size <= 64,
      s"pivotMaskLevels: 1..64 pivots (got ${pivots.size})")
    val spark = und.sparkSession
    import spark.implicits._
    var seen = materialized(
      pivots.zipWithIndex.map { case (p, i) => (p, 1L << i) }.toDF("node", "m"))
    var frontier = seen
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](seen)
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      val recvd = frontier.join(und, frontier("node") === und("src"))
        .groupBy(und("dst")).agg(expr("bit_or(m)").as("rm"))
      val nxt = materialized(
        recvd.join(seen, recvd("dst") === seen("node"), "left_outer")
          .select(col("dst").as("node"),
            expr("rm & ~coalesce(m, 0L)").as("m"))
          .filter(col("m") =!= 0L))
      if (nxt.isEmpty) done = true
      else {
        levels += nxt
        // the merged seen table stays one row per node (bit_or) — O(V)
        // rows of 16 bytes, trivially re-materialized per hop
        seen = materialized(
          seen.unionAll(nxt).groupBy(col("node"))
            .agg(expr("bit_or(m)").as("m")))
        frontier = nxt
        hop += 1
      }
    }
    levels.toSeq
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // ---- tokenization / shingling helpers ------------------------------------

  private[ops] def toks(c: Column): Column = split(lower(c), " ")

  /** Distinct n-gram word shingles over an ALREADY-BOUND token-array
    * column. `tk` must be a column attribute (not an inline `split`):
    * expressions inside a HOF lambda re-evaluate per element, so an
    * inline tokenizer here re-splits the document once per shingle —
    * O(tokens²) per doc (measured 27s → 1s on the x80 card; the whole
    * dedup family rides this helper).
    */
  private[ops] def shinglesFromToks(tk: Column, n: Int = 5): Column =
    array_distinct(
      when(size(tk) >= n,
        transform(sequence(lit(0), size(tk) - n), i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", tk))))

  /** Distinct n-gram word shingles; a document shorter than n tokens
    * contributes its whole token sequence as one shingle. Prefer the
    * two-stage bind + [[shinglesFromToks]] on hot paths (see its doc).
    */
  private[ops] def shingles(text: Column, n: Int = 5): Column =
    shinglesFromToks(toks(text), n)

  /** Rebalance before a CPU-heavy narrow stage: if the source scan arrives
    * in far fewer partitions than the cluster has slots (single file / one
    * row group / small-files layout), one cheap shuffle of the raw rows
    * unlocks full-width parallelism for tokenize+shingle+hash. When the
    * input is already well-partitioned (the 100 TB case), this is a no-op —
    * no gratuitous text shuffle.
    */
  private[ops] def rebalanced(corpus: DataFrame, idCol: String): DataFrame = {
    val target = corpus.sparkSession.sparkContext.defaultParallelism
    // estimate scan width from the planner's own size statistics — avoids
    // the physical-plan -> RDD conversion `.rdd.getNumPartitions` would pay
    // per use site, and unlike a raw file count it is right in BOTH
    // directions: many small files pack into few partitions (bytes/split
    // stays small), one big file splits into many. Local relations (tests)
    // have no files and keep the RDD-based answer.
    val scanParts =
      if (corpus.inputFiles.nonEmpty) {
        val maxSplit = corpus.sparkSession.sessionState.conf.filesMaxPartitionBytes
        val bytes = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
        (bytes / math.max(1L, maxSplit)).toLong + 1L
      } else corpus.rdd.getNumPartitions.toLong
    if (scanParts * 2 < target) corpus.repartition(target, col(idCol))
    else corpus
  }

  /** (doc_id, n_sh, sh) inverted-index rows over any corpus. The per-doc
    * shingle count is the array size taken BEFORE exploding — narrow, no
    * window shuffle+sort over the exploded rows (the round-1 formulation
    * cost one extra id-exchange plus a per-doc sort at every use site).
    */
  private def shingleIndexCountedOf(
      corpus: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame =
    rebalanced(corpus, idCol)
      .select(col(idCol).as("doc_id"), toks(col(textCol)).as("tk0"))
      .select(col("doc_id"), shinglesFromToks(col("tk0"), shingleSize).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n_sh"), explode(col("shs")).as("sh"))

  /** (doc_id, n_sh, shk) — the counted index with the shingle string
    * replaced by its portable 60-bit md5 key. Joining/shuffling on an
    * 8-byte long instead of a ~40-char shingle string cuts shuffle bytes
    * ~5× and removes string comparison from the join hot path. Collisions:
    * 60-bit keys over n shingles collide with p ≈ n²/2⁶¹ (≈1e-9 at 50k
    * shingles); the oracle's exactness is unaffected in practice and the
    * same key arithmetic is replayable in SQL if a dataset ever needs it.
    */
  private[ops] def shingleIndexKeyedOf(
      corpus: DataFrame, idCol: String, textCol: String, shingleSize: Int = 5): DataFrame =
    shingleIndexCountedOf(corpus, idCol, textCol, shingleSize)
      .select(col("doc_id"), col("n_sh"), md5Hash60(col("sh")).as("shk"))

  /** The counted index keyed by `xxhash64(sh)` instead of md5. Used where
    * the key is purely an engine-internal join/equality key (x02 pairs,
    * x18 clustering, x20 contamination): xxhash64 is a single codegen'd
    * long-out hash (~6× cheaper per shingle than md5 + hex substring +
    * base-conv), and a full 64-bit space halves the collision odds of the
    * 60-bit md5 key. md5Hash60 stays ONLY where the oracle replays the
    * hash arithmetic itself (MinHash signatures, SimHash bits).
    */
  private[ops] def shingleIndexFastOf(
      corpus: DataFrame, idCol: String, textCol: String, shingleSize: Int = 5): DataFrame =
    shingleIndexCountedOf(corpus, idCol, textCol, shingleSize)
      .select(col("doc_id"), col("n_sh"), xxhash64(col("sh")).as("shk"))

  private def shingleIndexKeyed(s: SparkSession, dir: String): DataFrame =
    shingleIndexKeyedOf(docs(s, dir), "doc_id", "text")

  /** The materialized shingle inverted index as a reusable handle —
    * (doc_id, n_sh, shk), one row per DISTINCT shingle per doc, shk =
    * xxhash64 of the n-gram. A corpus-prep pipeline that runs several
    * index-shaped stages over the SAME corpus (pair dedup, contamination,
    * retrieval) tokenizes+shingles+hashes once through this instead of
    * once per stage — the per-op entry points stay self-contained for
    * one-shot use.
    */
  private[graft] def shingleIndexOf(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame =
    materialized(shingleIndexFastOf(corpus, idCol, textCol, shingleSize))

  // ---- X1: exact dedup -----------------------------------------------------

  /** Exact dedup over any corpus: keep the lowest-id row per distinct
    * value of `textCol`. Groups on md5(text) so only digests shuffle;
    * deterministic keeper (min id) rather than `dropDuplicates`' arbitrary
    * winner. Returns the surviving rows with their original columns.
    */
  def exactDedup(corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r15 (guide §2.3, §8): the old row_number window shuffled EVERY
    // column — text included — through the md5-hash exchange. The keep
    // decision needs only (digest, id): aggregate those, semi-join the
    // ids back. The corpus is scanned twice but its heavy columns are
    // never shuffled at all. Same rows: ids are unique, so min-per-
    // digest ≡ the window's rn = 1 under orderBy(id).
    val keep = corpus
      .groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    corpus.join(keep, Seq(idCol), "left_semi")
  }

  def x01ExactDedup(s: SparkSession, dir: String): DataFrame =
    exactDedup(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  // ---- X2: n-gram Jaccard near-dup ----------------------------------------

  /** Near-duplicate pairs over any corpus by n-gram Jaccard >= threshold.
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b, jaccard rounded to 4dp
    * BEFORE thresholding (ulp noise cannot flip membership).
    *
    * Candidates come from the shingle inverted index (equi-join on the
    * shingle key ⇒ hash-partitioned, only docs sharing a shingle ever
    * meet); Jaccard is then exact on the candidate set. A hot shingle
    * (boilerplate) would skew the join — AQE skew handling covers it, and
    * the 5-gram default keeps shingle frequency near 1 in practice.
    */
  def jaccardPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleSize: Int = 5): DataFrame = {
    // per-doc shingle count rides along on every index row (array size taken
    // before the explode) so the pair join carries everything Jaccard needs —
    // no post-join count lookups; join strategy notes on the shared tail
    exactJaccardFromIndex(shingleIndexFastOf(corpus, idCol, textCol, shingleSize), threshold)
  }

  /** Exact shingle-Jaccard verification over an inverted index
    * (doc_id, n_sh, shk) — the one shared tail of both dedup paths
    * ([[jaccardPairs]] runs it on the full index, [[minhashLshPairs]] on
    * the candidate-narrowed index): self-join on the 8-byte key, count
    * shared keys per ordered pair, keep pairs with jaccard >= threshold.
    * One body so the two contracts cannot drift. hint("shuffle_hash"): the
    * exploded index inherits the parent scan's size estimate, which
    * undercounts it badly — left alone the planner broadcasts a ~200×-the-
    * scan-rows side (measured ~2× slower). A shuffled hash join on the
    * 8-byte key shuffles narrow rows and skips the sort a merge join would
    * pay on both sides. `pairFilter`, when present, left-semi-joins the
    * raw pairs down to a precomputed candidate set BEFORE the count agg.
    */
  private[graft] def exactJaccardFromIndex(
      sh: DataFrame, threshold: Double,
      pairFilter: Option[DataFrame] = None): DataFrame = {
    val paired = sh.as("x").join(sh.as("y").hint("shuffle_hash"),
        col("x.shk") === col("y.shk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n_sh").as("na"), col("y.n_sh").as("nb"))
    pairFilter.fold(paired)(c => paired.join(c, Seq("doc_a", "doc_b"), "left_semi"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"), max(col("na")).as("na"), max(col("nb")).as("nb"))
      .withColumn("jaccard",
        round4o(col("shared") / (col("na") + col("nb") - col("shared"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  def x02JaccardPairs(s: SparkSession, dir: String): DataFrame =
    // x18/x72 reuse this frame, so they inherit the checkpoint too
    materialized(jaccardPairs(docs(s, dir), "doc_id", "text"))

  // ---- X3: MinHash + LSH dedup --------------------------------------------

  private[ops] val MinhashPerms = 32
  private[ops] val LshBands = 8 // 4 rows per band
  /** 2^31-1 (prime) — modulus of the affine MinHash permutations. */
  private[ops] val LshP = 2147483647L
  /** Largest prime below 2^30 — shingle-id modulus, keeps a*x < 2^61. */
  private[ops] val ShingleP = 1073741789L
  /** Fixed permutation coefficients (Knuth / FNV-style odd constants); pure
    * literals so the DuckDB oracle can replay the identical arithmetic.
    */
  private[ops] val permA: IndexedSeq[Long] =
    (0 until MinhashPerms).map(i => ((i + 1) * 2654435761L) % LshP)
  private[ops] val permB: IndexedSeq[Long] =
    (0 until MinhashPerms).map(i => ((i + 1) * 1779033703L) % LshP)

  /** Engine-portable 60-bit string hash: first 15 hex chars of md5. md5 is
    * bit-identical everywhere, 60 bits fits a signed long exactly — so any
    * SQL engine with md5 + hex-cast replays it (the DuckDB oracle does).
    * Runs as the native [[graft.functions.Md5Bucket60]] expression (no
    * hex-string round-trip, codegen-fused); [[md5Hash60Reference]] keeps
    * the composable form ExtensionsSpec asserts bit-equality against.
    */
  private def md5Hash60(c: Column): Column =
    graft.functions.HashFunctions.md5_bucket60(c)

  private[graft] def md5Hash60Reference(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private[graft] def md5Hash60Native(c: Column): Column =
    graft.functions.HashFunctions.md5_bucket60(c)

  /** MinHash signatures: min over shingles of the affine permutation
    * (a_i·x + b_i) mod p for 32 permutations — one groupBy, 32 partial-agg
    * min columns, no per-doc materialized shingle arrays. x is the portable
    * md5-derived shingle id, so the whole signature is oracle-replayable.
    */
  private[ops] def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSignaturesFrom(shingleIndexKeyed(s, dir))

  private[ops] def minhashSignaturesFrom(idx: DataFrame): DataFrame = {
    val aggs = (0 until MinhashPerms)
      .map(i => min((lit(permA(i)) * col("shx") + lit(permB(i))) % LshP).as(s"h$i"))
    idx
      .withColumn("shx", col("shk") % ShingleP)
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: 8 bands × 4 rows; docs agreeing on any whole band become
    * candidates (bucket equi-join on (band, band_key) — never all-pairs).
    * Candidates are then verified with exact shingle Jaccard >= 0.5. The
    * band key is the ':'-joined 4-minhash tuple (portable, unlike an
    * engine-specific hash), so the DuckDB oracle replays the full pipeline.
    */
  /** MinHash+LSH near-duplicate pairs over any corpus. Same output contract
    * as [[jaccardPairs]] (candidates are verified with exact Jaccard >=
    * threshold), but candidate generation is O(docs·bands) via the LSH
    * band buckets instead of the full inverted-index self-join — the shape
    * that stays tractable when the corpus no longer fits a pair join.
    */
  def minhashLshPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleSize: Int = 5): DataFrame = {
    // the keyed inverted index feeds BOTH phases (signatures + Jaccard
    // verification): materialize it once — it is narrow (3 fixed-width
    // cols), so this trades a cheap write for a second scan+shingle+md5
    // pass over the corpus
    val idx = materialized(shingleIndexKeyedOf(corpus, idCol, textCol, shingleSize))
    val sig = minhashSignaturesFrom(idx)
    val bandCols = (0 until LshBands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws(":", (bnd * 4 until (bnd + 1) * 4).map(i => col(s"h$i")): _*).as("bh"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
    val cand = materialized(banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      // tiny result of the expensive signature pipeline, used twice below
      // (candidate-doc filter + final pair filter): materialize once so the
      // shingle scan + 32-way min-agg doesn't run once per consumer
      )
    // verify candidates with exact Jaccard. The inverted index is first
    // semi-joined (broadcast — the candidate doc set is tiny relative to the
    // corpus) down to docs that appear in ANY candidate pair, so the
    // pair-generating self-join runs over a sliver of the index rather than
    // the whole corpus; the final semi-join keeps only candidate pairs.
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sh = idx.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    exactJaccardFromIndex(sh, threshold, pairFilter = Some(cand))
  }

  def x03MinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLshPairs(docs(s, dir), "doc_id", "text")

  // ---- X4: SimHash near-dup -----------------------------------------------

  /** The 64-bit two-half SimHash signature (doc_id, sh_lo, sh_hi) —
    * shared by [[simhashPairs]] (pigeonhole pair join) and the radius
    * planner ([[Extensions96.simhashRadiusCurve]]), one body so the two
    * cannot drift.
    */
  private[ops] def simhash64Of(
      corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    def half(c: Column, from: Int): Column =
      conv(substring(md5(c), from, 8), 16, 10).cast("long")
    val tok = rebalanced(corpus, idCol)
      .select(col(idCol).as("doc_id"), explode(array_distinct(toks(col(textCol)))).as("tok"))
      .withColumn("h_hi", half(col("tok"), 1))
      .withColumn("h_lo", half(col("tok"), 9))
    val bitSums = (0 until 64).map { b =>
      val src = if (b < 32) col("h_lo") else col("h_hi")
      sum(when(shiftright(src, b % 32).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    def packed(bits: Range): Column =
      bits.map(b => when(col(s"b$b") > 0, lit(1L << (b % 32))).otherwise(0L)).reduce(_ + _)
    tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        packed(0 until 32).as("sh_lo"),
        packed(32 until 64).as("sh_hi"))
  }

  /** Full 64-bit SimHash per document, carried as TWO 32-bit halves (hi =
    * md5 hex chars 1-8, lo = chars 9-16). Keeping the halves in separate
    * BIGINT columns sidesteps signed-shift hazards in every engine — all
    * values stay in [0, 2^32). Per-bit majority vote of the token hash;
    * near-dup pairs via the pigeonhole band join (4 × 16-bit chunks:
    * hamming <= 3 ⇒ at least one chunk equal), then filtered on true
    * hamming = popcount(hi⊕hi') + popcount(lo⊕lo'). Pure integer
    * arithmetic on md5 bits ⇒ fully oracle-replayable.
    *
    * Output: (doc_a, doc_b, hamming), doc_a < doc_b, hamming <= maxHamming.
    */
  def simhashPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole join is only exact for hamming <= 3")
    val sig = simhash64Of(corpus, idCol, textCol)
    val chunkCols = Seq(
      col("sh_lo").bitwiseAND(0xFFFF),
      shiftright(col("sh_lo"), 16).bitwiseAND(0xFFFF),
      col("sh_hi").bitwiseAND(0xFFFF),
      shiftright(col("sh_hi"), 16).bitwiseAND(0xFFFF))
    val chunks = sig.select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        explode(array(chunkCols.zipWithIndex.map { case (v, c) =>
          struct(lit(c).as("c"), v.as("v"))
        }: _*)).as("ch"))
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        col("ch.c").as("c"), col("ch.v").as("v"))
    chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (bit_count(col("x.sh_hi").bitwiseXOR(col("y.sh_hi"))) +
          bit_count(col("x.sh_lo").bitwiseXOR(col("y.sh_lo")))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def x04Simhash(s: SparkSession, dir: String): DataFrame =
    simhashPairs(docs(s, dir), "doc_id", "text")

  // ---- X5/X6: embedding similarity search ---------------------------------

  /** HOF reference formulation of cosine similarity — kept as the
    * composable/auditable baseline; queries use the codegen'd native
    * expression [[graft.functions.VectorFunctions.cosine_similarity]]
    * (bit-identical arithmetic, asserted in ExtensionsSpec).
    */
  /** Oracle-aligned 4-decimal rounding for NON-NEGATIVE integer-ratio
    * values. Spark's `round(x, 4)` is BigDecimal-of-the-exact-double
    * (HALF_UP); DuckDB's is `std::round(x·10⁴)/10⁴`. For a rational p/q
    * whose decimal expansion lands exactly on a .xxxx5 boundary but is
    * binary-inexact (q with a factor of 5, e.g. 407/4000 = 0.101750),
    * the two mechanisms round OPPOSITE ways — ~1e-3 of rows flipped in
    * x38 at sf0.1 before this existed. Computing the product form on the
    * Spark side replicates DuckDB bit-for-bit for every input (verified
    * on the divergent cases), so ratio columns stay hash-identical at
    * any scale. Use for p/q ratio outputs; negative-capable columns need
    * the sign-split integer form instead (see hashedLinearScore).
    */
  private[graft] def round4o(c: Column): Column =
    round(c * 10000.0d, 0) / 10000.0d

  private[graft] def cosineHof(a: Column, b: Column): Column = {
    def asDouble(v: Column): Column = transform(v, x => x.cast("double"))
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, z) => acc + z)
    val (ad, bd) = (asDouble(a), asDouble(b))
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_similarity(a, b)

  /** Brute-force cosine top-5: the exact-recall baseline. Query set (10
    * vectors) broadcasts against the candidate scan; similarity is rounded
    * to 4 decimals BEFORE ranking (ties broken by vec_id) so ranking is
    * reproducible across engines and partitionings. At 100 TB the candidate
    * side streams — per-task state is one broadcast of the query block.
    */
  def x05CosineTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("c_id"), col("sim"), col("rk"))
  }

  /** ANN via sign-bucket coarse quantization (IVF-style): bucket = sign bits
    * of the first 8 dimensions (256 cells); a query probes only its own
    * cell. The bucket join is an equi-join ⇒ hash-partitioned, no cross
    * product anywhere. Exact same arithmetic is SQL-expressible, so this
    * *is* oracle-checked (unlike random-hyperplane LSH).
    */
  /** Sign-bucket bit width: 64 cells. Sized so a cell holds enough
    * candidates to be a real recall/cost dial at the test corpus sizes
    * (500-2000 vectors ⇒ ~8-31 per cell); a production corpus would raise
    * bits with corpus size (cells ∝ n / target-candidates).
    *
    * Measured recall vs the brute-force top-3 at sf0.01: single-probe 0.03,
    * 1-bit multiprobe 0.43 — raw-dimension sign bits are a deliberately
    * simple coarse quantizer (no learned rotation/centroids can be derived
    * at query time without a training step); the multiprobe dial is the
    * point being demonstrated, and a production IVF would substitute a
    * k-means assignment table for [[x06AnnSignBucket]]'s bucket function
    * with no other plan change.
    */
  /** Fixture-scale quantizer width: 64 cells, pinned so the oracle-checked
    * x06/x13/x15 queries are stable. Production sizes the quantizer with
    * [[signBitsFor]] (cells must grow with the corpus or every cell
    * becomes a skew hotspot) or uses [[Extensions2.ivfTopK]] with real
    * k-means centroids — the preferred shape at 100 TB.
    */
  private[ops] val SignBits = 6

  /** Quantizer width for a corpus of `corpusCount` vectors: enough sign
    * bits that an average cell holds ~`targetCellSize` candidates (the
    * unit of per-task ANN work). 2^bits cells, clamped to [4, 30] bits.
    */
  def signBitsFor(corpusCount: Long, targetCellSize: Long = 100000L): Int = {
    val cells = math.max(1L, corpusCount / math.max(1L, targetCellSize))
    math.min(30, math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(cells - 1)))
  }

  /** The sign quantizer every bucketed ANN path shares (x06/x13/x15 and
    * the parameterized forms): bit d is set iff coordinate d+1 is
    * positive. One definition — the oracles replay this exact arithmetic,
    * so drift between call sites would be an oracle failure, not a silent
    * recall change.
    */
  private[ops] def signBucket(v: Column, signBits: Int): Column =
    (0 until signBits).map(d => when(element_at(v, d + 1) > 0f, lit(1 << d)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Sign-bucket ANN over any (id, vector) corpus with a parameterized
    * quantizer width (2^signBits cells) — the library form behind the
    * fixture-pinned x06. Each query meets only its own cell's candidates
    * (equi-join on the bucket, query side broadcast); sims round before
    * ranking. Output (q_id, c_id, sim, rk), rk <= k. Size `signBits` with
    * [[signBitsFor]] so cells stay executor-sized as the corpus grows — a
    * fixed width turns every cell into a skew hotspot at scale.
    */
  def signBucketTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, signBits: Int): DataFrame = {
    def bucket(v: Column): Column = signBucket(v, signBits)
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("cv"),
      bucket(col(vecCol)).as("bkt"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"),
      bucket(col(vecCol)).as("bkt"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    c.join(broadcast(q), Seq("bkt"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rk").cast("long").as("rk"))
  }

  /** The fixture binding of [[signBucketTopK]] at the pinned SignBits
    * width — one body, so the ANN shape (rounding, tie-break, broadcast
    * side) can never drift between the library form and the oracle query.
    */
  def x06AnnSignBucket(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    signBucketTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, signBits = SignBits)
  }

  /** Multiprobe ANN: each query probes its own sign-bucket cell plus the 8
    * cells at Hamming distance 1 (one sign flipped) — the standard
    * recall-vs-cost dial for bucketed ANN. Still an equi-join on the probed
    * bucket: candidate volume grows 9×, never n². OperatorSpec asserts
    * recall(multiprobe) >= recall(single-probe) against the brute-force
    * baseline.
    */
  def x13AnnMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    def bucket(v: Column): Column = signBucket(v, SignBits)
    val base = e.select(col("vec_id"), col("embedding").as("v"),
      bucket(col("embedding")).as("bkt"))
    val deltas = lit(0) +: (0 until SignBits).map(d => lit(1 << d))
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(array(deltas: _*)).as("delta"), col("bkt").as("qbkt"))
      .withColumn("bkt", col("qbkt").bitwiseXOR(col("delta")))
      .select(col("q_id"), col("qv"), col("bkt"))
    val c = base.select(col("vec_id").as("c_id"), col("v").as("cv"), col("bkt"))
    val scored = c.join(broadcast(q), Seq("bkt"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        round(cosine(col("qv"), col("cv")), 4).as("sim"))
      .distinct() // a candidate can match through at most one bucket, but keep the contract explicit
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("c_id"), col("sim"), col("rk"))
  }

  /** Composite quality score — the pipeline keep/drop gate built from the
    * x07 features: token budget, lexical diversity, average token length
    * band. Pure arithmetic ⇒ exact cross-engine.
    */
  def x14QualityScore(s: SparkSession, dir: String): DataFrame = {
    val tk = toks(col("text"))
    docs(s, dir)
      .select(
        col("doc_id"),
        size(tk).as("n_tokens"),
        (size(array_distinct(tk)).cast("double") / size(tk)).as("uniq_ratio"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / size(tk)).as("avg_tok_len"))
      .withColumn("score", round4o(
        lit(0.4) * least(col("n_tokens").cast("double") / 50, lit(1.0)) +
          lit(0.4) * col("uniq_ratio") +
          lit(0.2) * when(col("avg_tok_len").between(3, 8), 1.0).otherwise(0.0)))
      .withColumn("keep", (col("score") >= 0.5).cast("int"))
      .select(col("doc_id"), col("n_tokens"), round4o(col("uniq_ratio")).as("uniq_ratio"),
        col("score"), col("keep"))
  }

  /** Embedding-cosine near-duplicate pairs — the dedup-shaped variant of
    * similarity search: ALL vector pairs above a similarity threshold, not a
    * per-query top-k. Candidate pairs come from the same sign-bucket cells
    * (equi-join on bucket ⇒ per-cell products only, never n²); both engines
    * compute the identical bucketed candidate set, so the recall trade-off
    * is part of the (matching) semantics. Threshold 0.45 sits just under
    * the same-bucket corpus maximum at every sf (0.47-0.6 — no planted
    * near-dups in this data) so the query exercises real row flow.
    */
  /** Parameterized embedding near-dup pairs over any (id, vector) corpus:
    * output (vec_a, vec_b, sim), vec_a < vec_b, sim >= threshold, with
    * candidates restricted to shared sign-bucket cells. Size `signBits`
    * with [[signBitsFor]] at scale.
    */
  def embeddingNearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, signBits: Int = SignBits): DataFrame = {
    val base = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      signBucket(col(vecCol), signBits).as("bkt"))
    base.as("a").join(base.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosine(col("a.v"), col("b.v")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  def x15EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairs(emb(s, dir), "vec_id", "embedding",
        threshold = 0.45, signBits = SignBits)

  // ---- X7-X10: text analysis ----------------------------------------------

  /** Per-document quality/stat profile: token counts, uniqueness ratio,
    * average token length — the length/ratio features of a pipeline quality
    * filter. One narrow scan, no shuffle at all.
    */
  def x07TextStats(s: SparkSession, dir: String): DataFrame = {
    val tk = toks(col("text"))
    docs(s, dir)
      .select(
        col("doc_id"),
        col("n_chars"),
        size(tk).as("n_tokens"),
        size(array_distinct(tk)).as("n_uniq"),
        round4o(size(array_distinct(tk)).cast("double") / size(tk)).as("uniq_ratio"),
        round4o(length(regexp_replace(col("text"), " ", "")).cast("double") / size(tk))
          .as("avg_tok_len"))
  }

  private[ops] val StopWords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "y", "que", "es"))

  /** Language ID by stop-word-hit scoring (n-gram-heuristic family): count
    * hits of each language's marker words, pick the max with a fixed
    * priority order (en > de > fr > es) so ties are deterministic. Scores
    * are exposed so the oracle checks the whole computation.
    */
  def x08LangId(s: SparkSession, dir: String): DataFrame = {
    val tk = toks(col("text"))
    def score(words: Seq[String]): Column =
      size(filter(tk, t => t.isin(words.map(x => x: Any): _*)))
    val sEn = score(StopWords("en"))
    val sDe = score(StopWords("de"))
    val sFr = score(StopWords("fr"))
    val sEs = score(StopWords("es"))
    docs(s, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        sEn.as("s_en"), sDe.as("s_de"), sFr.as("s_fr"), sEs.as("s_es"))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
  }

  /** Token counting two ways: whitespace and a BPE-ish regex ([a-z0-9]+
    * runs vs punctuation singles) — the standard cheap token-budget
    * estimators.
    */
  def x09TokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        size(toks(col("text"))).as("ws_tokens"),
        size(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("word_tokens"),
        size(expr("regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]', 0)")).as("bpeish_tokens"))

  /** Order-sensitive document fingerprint: Σ position·(ascii(tok)·131 +
    * len(tok)) mod 1e9+7 — pure integer arithmetic ⇒ exact cross-engine, a
    * rolling-hash-family fingerprint without engine-specific hash functions.
    */
  def x10Fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"))
      .agg((sum((col("pos") + 1) * (ascii(col("tok")) * 131 + length(col("tok"))))
        % 1000000007L).as("fingerprint"))

  /** Approximate distinct (HLL++) vs exact. The raw HLL estimate is
    * engine-specific, so the oracle checks a PROPERTY instead of the value:
    * the sketch (rsd=0.01) must land within 5% of the exact count (≈5σ — a
    * deterministic pass for a correct HLL++), and the exact count itself is
    * value-checked against DuckDB.
    */
  def x12ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    // r15 (guide §2.3 / §4): countDistinct + approx_count_distinct in ONE
    // agg makes the planner's distinct-rewrite key the FIRST-level hash
    // agg by (event_type, user_id) with a partial HLL++ buffer PER PAIR —
    // at rsd 0.01 that is a 2^14-register sketch per distinct pair (GBs of
    // buffer churn for a 200k-row input; measured 3.7 s). Dedup first,
    // then sketch once per group: HLL registers are a max over hashes of
    // the distinct values, so the estimate is bit-identical, and
    // count(user_id) over the deduped rows ≡ countDistinct (both skip
    // nulls).
    Tables.load(s, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        count(col("user_id")).as("exact_users"))
      .select(
        col("event_type"),
        col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.05).as("approx_within_5pct"))

  // ---- oracles -------------------------------------------------------------

  /** DuckDB replay of the full MinHash+LSH pipeline — generated from the
    * same permutation constants the Spark plan uses, so the two engines run
    * literally identical integer arithmetic.
    */
  private def x03OracleSql: String = {
    val mins = (0 until MinhashPerms)
      .map(i => s"min((${permA(i)} * shx + ${permB(i)}) % $LshP) AS h$i")
      .mkString(",\n                   ")
    val bands = (0 until LshBands)
      .map { bnd =>
        val cols = (bnd * 4 until (bnd + 1) * 4).map(i => s"h$i").mkString(", ")
        s"SELECT doc_id, $bnd AS band, concat_ws(':', $cols) AS bh FROM sig"
      }
      .mkString("\n                UNION ALL ")
    s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      hx AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % $ShingleP AS shx FROM sh),
      sig AS (SELECT doc_id, $mins
              FROM hx GROUP BY doc_id),
      bands AS ($bands),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
               FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      jac AS (SELECT doc_a, doc_b,
                     round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
              FROM pairs
              JOIN cnt ca ON ca.doc_id = doc_a
              JOIN cnt cb ON cb.doc_id = doc_b)
      SELECT j.doc_a, j.doc_b, j.jaccard
      FROM jac j JOIN cand c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
      WHERE j.jaccard >= 0.5
      ORDER BY j.doc_a, j.doc_b"""
  }

  /** DuckDB replay of the 64-bit two-half SimHash pipeline (bit votes,
    * chunk pigeonhole join, hamming filter) — same md5-derived bits as
    * Spark, halves kept in separate BIGINT columns exactly like the plan.
    */
  private def x04OracleSql: String = {
    val votes = (0 until 64)
      .map { b =>
        val src = if (b < 32) "h_lo" else "h_hi"
        s"sum(CASE WHEN ($src >> ${b % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
      }
      .mkString(",\n                     ")
    def packed(bits: Range): String = bits
      .map(b => s"CASE WHEN b$b > 0 THEN ${1L << (b % 32)} ELSE 0 END")
      .mkString(" + ")
    val chunkExprs = Seq(
      "sh_lo & 65535", "(sh_lo >> 16) & 65535",
      "sh_hi & 65535", "(sh_hi >> 16) & 65535")
    val chunks = chunkExprs.zipWithIndex
      .map { case (e, c) => s"SELECT doc_id, sh_lo, sh_hi, $c AS c, $e AS v FROM sig" }
      .mkString("\n                UNION ALL ")
    s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      tok AS (SELECT DISTINCT doc_id, tok
              FROM (SELECT doc_id, unnest(toks) AS tok FROM d)),
      hx AS (SELECT doc_id,
                    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_hi,
                    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_lo
             FROM tok),
      votes AS (SELECT doc_id, $votes
                FROM hx GROUP BY doc_id),
      sig AS (SELECT doc_id,
                     CAST(${packed(0 until 32)} AS BIGINT) AS sh_lo,
                     CAST(${packed(32 until 64)} AS BIGINT) AS sh_hi
              FROM votes),
      chunks AS ($chunks),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                      CAST(bit_count(xor(x.sh_hi, y.sh_hi)) +
                           bit_count(xor(x.sh_lo, y.sh_lo)) AS BIGINT) AS hamming
               FROM chunks x JOIN chunks y ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id)
      SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
      ORDER BY doc_a, doc_b"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x03_minhash_lsh", x03MinhashLsh _, x03OracleSql),
    Entry("x04_simhash", x04Simhash _, x04OracleSql),
    Entry("x12_approx_distinct", x12ApproxDistinct _, """
      SELECT event_type, count(DISTINCT user_id) AS exact_users,
             TRUE AS approx_within_5pct
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
    Entry("x01_exact_dedup", x01ExactDedup _, """
      SELECT doc_id, lang, source, n_chars
      FROM (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents) sub
      WHERE rn = 1
      ORDER BY doc_id"""),
    Entry("x02_jaccard_pairs", x02JaccardPairs _, """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
      FROM pairs
      JOIN cnt ca ON ca.doc_id = doc_a
      JOIN cnt cb ON cb.doc_id = doc_b
      WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5
      ORDER BY doc_a, doc_b"""),
    Entry("x05_cosine_topk", x05CosineTopk _, """
      WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv FROM base WHERE vec_id < 10),
      scored AS (
        SELECT q_id, c.vec_id AS c_id,
               round(list_cosine_similarity(qv, c.v), 4) AS sim
        FROM base c CROSS JOIN q
        WHERE c.vec_id <> q_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk
        FROM scored)
      SELECT q_id, c_id, sim, rk FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""),
    Entry("x06_ann_sign_bucket", x06AnnSignBucket _, """
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bkt
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv, bkt FROM base WHERE vec_id < 10),
      scored AS (
        SELECT q_id, c.vec_id AS c_id,
               round(list_cosine_similarity(qv, c.v), 4) AS sim
        FROM base c JOIN q USING (bkt)
        WHERE c.vec_id <> q_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk
        FROM scored)
      SELECT q_id, c_id, sim, rk FROM ranked WHERE rk <= 3
      ORDER BY q_id, rk"""),
    Entry("x13_ann_multiprobe", x13AnnMultiprobe _, """
      WITH base AS (
        SELECT vec_id, embedding AS v,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bkt
        FROM embeddings),
      q AS (
        SELECT vec_id AS q_id, v AS qv, xor(bkt, delta) AS bkt
        FROM base, UNNEST([0, 1, 2, 4, 8, 16, 32]) AS u(delta)
        WHERE vec_id < 10),
      scored AS (
        SELECT DISTINCT q_id, c.vec_id AS c_id,
               round(list_cosine_similarity(qv::DOUBLE[], c.v::DOUBLE[]), 4) AS sim
        FROM base c JOIN q USING (bkt)
        WHERE c.vec_id <> q_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk
        FROM scored)
      SELECT q_id, c_id, sim, rk FROM ranked WHERE rk <= 3
      ORDER BY q_id, rk"""),
    Entry("x15_embedding_neardup", x15EmbeddingNearDup _, """
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bkt
        FROM embeddings)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.v, b.v), 4) AS sim
      FROM base a JOIN base b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.45
      ORDER BY 1, 2"""),
    Entry("x14_quality_score", x14QualityScore _, """
      WITH f AS (
        SELECT doc_id,
               len(string_split(lower(text), ' ')) AS n_tokens,
               len(list_distinct(string_split(lower(text), ' '))) * 1.0
                 / len(string_split(lower(text), ' ')) AS uniq_ratio,
               length(replace(text, ' ', '')) * 1.0
                 / len(string_split(lower(text), ' ')) AS avg_tok_len
        FROM documents),
      s AS (
        SELECT doc_id, n_tokens, uniq_ratio,
               round(0.4 * least(n_tokens * 1.0 / 50, 1.0)
                   + 0.4 * uniq_ratio
                   + 0.2 * (CASE WHEN avg_tok_len BETWEEN 3 AND 8 THEN 1.0 ELSE 0.0 END), 4) AS score
        FROM f)
      SELECT doc_id, n_tokens, round(uniq_ratio, 4) AS uniq_ratio, score,
             CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS keep
      FROM s
      ORDER BY doc_id"""),
    Entry("x07_text_stats", x07TextStats _, """
      WITH t AS (SELECT doc_id, n_chars, string_split(lower(text), ' ') AS toks, text
                 FROM documents)
      SELECT doc_id, n_chars,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_uniq,
             round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS uniq_ratio,
             round(length(replace(text, ' ', '')) * 1.0 / len(toks), 4) AS avg_tok_len
      FROM t
      ORDER BY doc_id"""),
    Entry("x08_langid", x08LangId _, """
      WITH t AS (SELECT doc_id, lang AS labeled_lang,
                        string_split(lower(text), ' ') AS toks
                 FROM documents),
      scored AS (
        SELECT doc_id, labeled_lang,
               len(list_filter(toks, x -> x IN ('the','and','of','is','a'))) AS s_en,
               len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de,
               len(list_filter(toks, x -> x IN ('le','la','les','et','est'))) AS s_fr,
               len(list_filter(toks, x -> x IN ('el','los','y','que','es'))) AS s_es
        FROM t)
      SELECT doc_id, labeled_lang, s_en, s_de, s_fr, s_es,
             CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                  WHEN s_fr >= s_es THEN 'fr'
                  ELSE 'es' END AS pred_lang
      FROM scored
      ORDER BY doc_id"""),
    Entry("x09_token_count", x09TokenCount _, """
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS ws_tokens,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word_tokens,
             len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]')) AS bpeish_tokens
      FROM documents
      ORDER BY doc_id"""),
    Entry("x10_fingerprint", x10Fingerprint _, """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      terms AS (
        SELECT doc_id, i * (ascii(toks[i]) * 131 + length(toks[i])) AS term
        FROM d, UNNEST(generate_series(1, len(toks))) AS g(i))
      SELECT doc_id, CAST(sum(term) % 1000000007 AS BIGINT) AS fingerprint
      FROM terms
      GROUP BY doc_id
      ORDER BY doc_id"""))
}
