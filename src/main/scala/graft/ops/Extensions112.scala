package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables

/** One-hundred-twelfth extension batch — two published estimators the
  * inventory lacked:
  *
  *  - Fellegi–Sunter probabilistic record linkage (x255): the classic
  *    entity-resolution scorer (Fellegi & Sunter 1969, Winkler 1988 EM
  *    variant). The repo already ships the BLOCKING half (x89 edit-
  *    distance, x248 sorted-neighborhood); this is the SCORING half they
  *    feed: per-pair boolean agreement vectors over k fields, EM over
  *    the 2^k agreement-pattern frequency table for the match-class
  *    rates m_i = P(agree_i | match), non-match rates u_i and prior p,
  *    then a posterior match probability per pattern. The EM never
  *    touches pair-sized data: one distributed groupBy folds the pair
  *    table to ≤ 2^k rows (k ≤ 8 enforced), the iterations run on the
  *    driver over that O(model) table, and scoring rejoins posteriors
  *    by pattern id — the x94 trained-model discipline.
  *  - Interpolated Kneser–Ney bigram scoring (x256): the smoothing
  *    family x44 deliberately is not. x44 interpolates with a FIXED λ
  *    against raw unigram frequency; Kneser–Ney (Kneser & Ney 1995,
  *    Chen & Goodman 1998) uses absolute discounting with a count-
  *    dependent backoff weight λ(v) = D·N1+(v·)/c(v) and backs off to
  *    the CONTINUATION probability N1+(·w)/NT — type counts, not token
  *    counts — so a frequent-but-context-bound token ("francisco",
  *    boilerplate ids) scores low outside its one context where x44's
  *    raw-frequency backoff cannot tell. This is the estimator the
  *    KenLM-style quality filters in CCNet-shaped pipelines actually
  *    use.
  *
  * Determinism: the EM is ALL-INTEGER (micro-unit probabilities, BigInt
  * intermediates mirroring the oracle's HUGEINT — the x215 overflow
  * discipline; half-up rounding as `(2·num + den) / (2·den)`), so the
  * ten unrolled oracle iterations replay it exactly. x256 renders each
  * bigram probability as ONE integer-valued fraction
  * `((4·cb − 3)·nt + 3·n1v·n1w) / ((4·cv)·nt)` before the only float op
  * (ln), the same expression order both engines evaluate.
  */
object Extensions112 {

  // ---- x255: Fellegi–Sunter record linkage (EM over agreement patterns) ----------

  private val Micro = 1000000L

  /** Integer half-up rounding of num/den in micro-units (both ≥ 0). */
  private def halfUp(num: BigInt, den: BigInt): Long =
    ((num * 2 + den) / (den * 2)).toLong

  private def clampMicro(v: Long): Long = math.max(1L, math.min(Micro - 1L, v))

  /** EM over the agreement-pattern frequency table: `patterns(j) =
    * (bits, n)` where `bits(i)` is field i's agreement in pattern j.
    * Returns (m, u, p, g) — per-field match/non-match agreement rates,
    * the match prior, and the per-pattern posterior match probability,
    * all in micro-units. Driver-side by design: the table has ≤ 2^k
    * rows. Rates are clamped to [1, 999999] so a degenerate field can
    * zero a product but never a denominator.
    */
  private[ops] def emMicro(
      patterns: Seq[(Seq[Int], Long)], iters: Int):
      (Array[Long], Array[Long], Long, Array[Long]) = {
    val k = patterns.head._1.size
    var m = Array.fill(k)(800000L)
    var u = Array.fill(k)(200000L)
    var p = 100000L
    val nTot = BigInt(patterns.map(_._2).sum)
    // E-step: posterior per pattern from exact 128-bit-scale products
    def eStep(): Array[Long] = patterns.map { case (bits, _) =>
      val pm = bits.zipWithIndex.map { case (a, i) =>
        BigInt(if (a == 1) m(i) else Micro - m(i)) }.product
      val pu = bits.zipWithIndex.map { case (a, i) =>
        BigInt(if (a == 1) u(i) else Micro - u(i)) }.product
      val ppm = BigInt(p) * pm
      val d = ppm + BigInt(Micro - p) * pu
      halfUp(ppm * Micro, d)
    }.toArray
    require(nTot > 0,
      "fellegiSunterLinkage: the candidate-pair table is empty — nothing to fit " +
        "(check the blocker actually produced pairs)")
    for (_ <- 1 to iters) {
      val g = eStep()
      // M-step: rates from exact integer sums, half-up rounded, clamped.
      // A class whose total mass rounds to zero (fully-separable input —
      // the clamp keeps rates in [1, 999999] but weighted sums can still
      // vanish) keeps its previous rates instead of dividing by zero.
      val gn = patterns.zip(g).map { case ((_, n), gj) => BigInt(gj) * n }
      val s = gn.sum
      val t = patterns.zip(g).map { case ((_, n), gj) =>
        BigInt(Micro - gj) * n }.sum
      if (s > 0) m = (0 until k).map { i =>
        val sm = patterns.zip(gn).collect {
          case ((bits, _), w) if bits(i) == 1 => w }.sum
        clampMicro(halfUp(sm * Micro, s))
      }.toArray
      if (t > 0) u = (0 until k).map { i =>
        val tu = patterns.zip(g).collect { case ((bits, n), gj) if bits(i) == 1 =>
          BigInt(Micro - gj) * n }.sum
        clampMicro(halfUp(tu * Micro, t))
      }.toArray
      p = clampMicro(halfUp(s, nTot))
    }
    // report posteriors under the FINAL model (the oracle's e-last read)
    (m, u, p, eStep())
  }

  /** Fellegi–Sunter EM over a candidate-pair table: `agreeCols` are
    * boolean agreement columns (the caller's comparison predicates over
    * a blocked pair table — x89/x248 are the intended producers).
    * Output, one row per agreement pattern (2^k rows, zero-count
    * patterns included): the pattern id (big-endian bits of the
    * agreement vector), the agreement bits, the pair count, the
    * posterior match probability `g_micro`, and the learned model
    * (m/u per field + prior) repeated per row, all in micro-units.
    *
    * Scale shape: the ONLY pair-sized work is one groupBy over k
    * boolean columns (map-side partial agg makes it a ≤ 2^k-row
    * shuffle); the EM is O(2^k · iters) on the driver — the documented
    * O(model) collect; the result is a 2^k-row local DataFrame.
    */
  def fellegiSunterLinkage(
      pairs: DataFrame, agreeCols: Seq[String], iters: Int = 10): DataFrame = {
    require(agreeCols.nonEmpty && agreeCols.size <= 8,
      "1 to 8 agreement fields (pattern table is 2^k rows)")
    val k = agreeCols.size
    // Bounded collect (r13 sweep): ≤ 2^k rows only holds when the
    // agreement columns really are 0/1 — a non-binary column would make
    // the grouped pattern table arbitrarily wide, so pull at most 2^k+1
    // rows in one pass and loud-refuse on overflow instead of OOMing.
    val counted = pairs
      .groupBy(agreeCols.map(c => col(c).cast("int").as(c)): _*)
      .agg(count(lit(1)).as("n"))
      .limit((1 << k) + 1)
      .collect()
      .map(r => (agreeCols.indices.map(r.getInt), r.getLong(k)))
      .toMap
    require(counted.size <= (1 << k) &&
        counted.keys.forall(_.forall(b => b == 0 || b == 1)),
      "fellegiSunterLinkage: agreement columns must be 0/1 " +
        s"(found ${counted.size} distinct patterns for $k fields)")
    val grid = (0 until (1 << k)).map { pid =>
      val bits = (0 until k).map(i => (pid >> (k - 1 - i)) & 1)
      (pid.toLong, bits, counted.getOrElse(bits, 0L))
    }
    val (m, u, p, g) =
      emMicro(grid.map { case (_, bits, n) => (bits, n) }, iters)
    val spark = pairs.sparkSession
    val schema = StructType(
      StructField("pattern", LongType, nullable = false) +:
      agreeCols.map(c => StructField(c, IntegerType, nullable = false)) :+
      StructField("n", LongType, nullable = false) :+
      StructField("g_micro", LongType, nullable = false) :+
      StructField("p_micro", LongType, nullable = false))
    val withMu = schema.fields ++
      (1 to k).map(i => StructField(s"m$i", LongType, nullable = false)) ++
      (1 to k).map(i => StructField(s"u$i", LongType, nullable = false))
    val rows = grid.zipWithIndex.map { case ((pid, bits, n), j) =>
      Row.fromSeq(Seq(pid) ++ bits ++ Seq(n, g(j), p) ++ m.toSeq ++ u.toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), StructType(withMu))
  }

  /** Posterior match probability per PAIR: rejoins [[fellegiSunterLinkage]]'s
    * pattern posteriors onto the pair table by the agreement bits — a
    * broadcast join against the 2^k-row model, zero extra shuffles.
    */
  def linkagePosterior(
      pairs: DataFrame, agreeCols: Seq[String], model: DataFrame): DataFrame = {
    val slim = model.select((agreeCols.map(c => col(c).as(s"__m_$c")) :+
      col("g_micro")): _*)
    val cond = agreeCols.map(c =>
      pairs(c).cast("int") === slim(s"__m_$c")).reduce(_ && _)
    pairs.join(broadcast(slim), cond)
      .drop(agreeCols.map(c => s"__m_$c"): _*)
  }

  /** Length-bucket blocked document pairs with three comparators — the
    * classic FS shape (cheap per-pair fields over a candidate block):
    * a_mh = 1-permutation MinHash equality over the 5-gram shingle set
    * (P[equal] = Jaccard — the strong string comparator, O(1) per pair
    * from a per-doc md5-min), a_f3 = first-3-words equality, a_len =
    * length within 10 chars (a deliberately weak field — the EM learns
    * u ≈ 0.9 for it, the feature-audit read). Blocking (n_chars / 16
    * co-bucket) is the caller's lever; x248/x253 are the scale blocks.
    */
  private[graft] def documentPairs(s: SparkSession, dir: String): DataFrame = {
    val words = split(lower(col("text")), " ")
    val grams = transform(
      sequence(lit(1), greatest(size(col("toks")) - 4, lit(1))),
      i => md5(concat_ws(" ", slice(col("toks"), i, lit(5)))))
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), words.as("toks"))
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars") / 16).cast("long").as("blk"),
        concat_ws(" ", slice(col("toks"), 1, 3)).as("f3"),
        array_min(grams).as("mh"))
    d.as("a").join(d.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(
        (col("a.mh") === col("b.mh")).as("a_mh"),
        (col("a.f3") === col("b.f3")).as("a_f3"),
        (abs(col("a.n_chars") - col("b.n_chars")) <= 10L).as("a_len"))
  }

  /** x255: FS linkage EM (10 iterations) over length-blocked document
    * pairs; the oracle unrolls the identical integer EM in HUGEINT.
    * The fit recovers the planted near-dup structure unlabeled: prior
    * ≈ the dup rate, posterior ≈ 1 for full agreement AND for the
    * minhash-missed (0,1,1) pattern, ≈ 0 for length-only agreement.
    */
  def x255LinkageEm(s: SparkSession, dir: String): DataFrame =
    fellegiSunterLinkage(documentPairs(s, dir),
        Seq("a_mh", "a_f3", "a_len"), iters = 10)

  /** The unrolled-EM oracle chain over the 2^k-row pattern table,
    * HUGEINT throughout (the x94 generated-SQL + x215 overflow
    * discipline), generated for any field list: `prSql` must end with a
    * CTE `pr` exposing one 0/1 column per field. Each iteration is one
    * E-step CTE (posterior per pattern from the exact integer products)
    * and one M-step CTE (half-up-rounded, clamped rates).
    */
  private[ops] def linkageOracleChain(
      fields: Seq[String], iters: Int, prSql: String): String = {
    val k = fields.size
    val M = "1000000::HUGEINT"
    def cases(ps: Seq[String]): String = fields.zip(ps).map { case (f, v) =>
      s"(CASE WHEN $f = 1 THEN e.$v ELSE $M - e.$v END)" }.mkString(" * ")
    val pmS = cases((1 to k).map(i => s"m$i"))
    val puS = cases((1 to k).map(i => s"u$i"))
    val gExpr =
      s"""(2 * $M * (e.p * $pmS) + (e.p * $pmS + ($M - e.p) * $puS))
        // (2 * (e.p * $pmS + ($M - e.p) * $puS))"""
    val fl = fields.mkString(", ")
    val gridBits = fields.zipWithIndex.map { case (f, i) =>
      s"(i // ${1 << (k - 1 - i)}) % 2 AS $f" }.mkString(", ")
    val patJoin = fields.map(f => s"c.$f = g.$f").mkString(" AND ")
    val head = s"""$prSql,
    cnt AS (SELECT $fl, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY ALL),
    grid AS (SELECT $gridBits, CAST(i AS BIGINT) AS pattern
             FROM UNNEST(generate_series(0, ${(1 << k) - 1})) AS t(i)),
    pat AS (SELECT g.pattern, ${fields.map(f => s"g.$f").mkString(", ")},
                   COALESCE(c.n, 0) AS n
            FROM grid g LEFT JOIN cnt c ON $patJoin),
    ntot AS (SELECT CAST(sum(n) AS HUGEINT) AS nt FROM pat),
    e0 AS (SELECT ${((1 to k).map(i => s"CAST(800000 AS HUGEINT) AS m$i") ++
        (1 to k).map(i => s"CAST(200000 AS HUGEINT) AS u$i") :+
        "CAST(100000 AS HUGEINT) AS p").mkString(", ")})"""
    def rate(w: String, f: String): String =
      s"""greatest(1::HUGEINT, least(999999::HUGEINT,
          (2 * $M * sum(CASE WHEN $f = 1 THEN $w ELSE 0 END) + sum($w))
          // (2 * sum($w))))"""
    val rounds = (1 to iters).map { i =>
      s"""
    g$i AS (SELECT pat.*, $gExpr AS g FROM pat, e${i - 1} e),
    e$i AS (SELECT
        ${fields.zipWithIndex.map { case (f, j) =>
          rate("g * n", f) + s" AS m${j + 1}" }.mkString(",\n        ")},
        ${fields.zipWithIndex.map { case (f, j) =>
          rate(s"($M - g) * n", f) + s" AS u${j + 1}" }.mkString(",\n        ")},
        greatest(1::HUGEINT, least(999999::HUGEINT,
          (2 * sum(g * n) + (SELECT nt FROM ntot))
          // (2 * (SELECT nt FROM ntot)))) AS p
      FROM g$i)"""
    }
    head + rounds.mkString(",", ",", "")
  }

  private val x255PrSql: String = """WITH d0 AS (
      SELECT doc_id, n_chars, string_split(lower(text), ' ') AS toks
      FROM documents),
    sh AS (SELECT doc_id, min(md5(array_to_string(toks[i:i+4], ' '))) AS mh
           FROM d0, UNNEST(generate_series(1,
             CASE WHEN len(toks) >= 5 THEN len(toks) - 4 ELSE 1 END)) AS g(i)
           GROUP BY doc_id),
    d AS (SELECT d0.doc_id, d0.n_chars, d0.n_chars // 16 AS blk,
                 array_to_string(d0.toks[1:3], ' ') AS f3, sh.mh
          FROM d0 JOIN sh ON sh.doc_id = d0.doc_id),
    pr AS (SELECT
        CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END AS a_mh,
        CASE WHEN a.f3 = b.f3 THEN 1 ELSE 0 END AS a_f3,
        CASE WHEN abs(a.n_chars - b.n_chars) <= 10 THEN 1 ELSE 0 END AS a_len
      FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id)"""

  private val x255OracleSql: String = {
    val fields = Seq("a_mh", "a_f3", "a_len")
    val M = "1000000::HUGEINT"
    val pmS = fields.zipWithIndex.map { case (f, i) =>
      s"(CASE WHEN $f = 1 THEN e.m${i + 1} ELSE $M - e.m${i + 1} END)" }
      .mkString(" * ")
    val puS = fields.zipWithIndex.map { case (f, i) =>
      s"(CASE WHEN $f = 1 THEN e.u${i + 1} ELSE $M - e.u${i + 1} END)" }
      .mkString(" * ")
    linkageOracleChain(fields, 10, x255PrSql) + s"""
      SELECT q.pattern,
             ${fields.map(f => s"CAST(q.$f AS INTEGER) AS $f").mkString(", ")},
             q.n, CAST(q.g AS BIGINT) AS g_micro, CAST(e.p AS BIGINT) AS p_micro,
             ${(1 to 3).map(i => s"CAST(e.m$i AS BIGINT) AS m$i").mkString(", ")},
             ${(1 to 3).map(i => s"CAST(e.u$i AS BIGINT) AS u$i").mkString(", ")}
      FROM (SELECT pat.*,
              (2 * $M * (e.p * $pmS) + (e.p * $pmS + ($M - e.p) * $puS))
              // (2 * (e.p * $pmS + ($M - e.p) * $puS)) AS g
            FROM pat, e10 e) q, e10 e
      ORDER BY q.pattern"""
  }

  // ---- x256: interpolated Kneser–Ney bigram scoring --------------------------------

  /** Per-document cross-entropy under an interpolated Kneser–Ney bigram
    * model trained on the corpus itself (discount D = 3/4, the
    * Chen–Goodman default region):
    * p(w|v) = (c(vw) − D)/c(v) + D·N1+(v·)/c(v) · N1+(·w)/NT
    * where N1+ are TYPE counts (distinct continuations/contexts) and NT
    * the distinct-bigram total. Every probability renders as the single
    * integer fraction `((4·cb − 3)·nt + 3·n1v·n1w) / ((4·cv)·nt)` before
    * the ln — the factors stay < 2^53 up to cb,cv ~ 1e9 · nt ~ 1e6-type
    * scales; past that the double rounding is deterministic (pure
    * products, no libm) so both engines still agree bit-for-bit.
    * Output: (doc_id, n_bigrams, kn_xent 4dp); docs with < 2 tokens
    * have no bigrams and are absent (the x44 convention).
    *
    * Scale shape mirrors x44: one tokenize pass materialized to (doc,
    * w1, w2, tf); the model join is key-partitioned on (w1, w2) (can
    * exceed broadcast size); the three marginals are O(vocab) and
    * broadcast; NT is one scalar crossJoin(broadcast).
    */
  def knBigramScore(
      corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val pairsC = zip_with(
      slice(col("tk"), lit(1), size(col("tk")) - 1),
      slice(col("tk"), lit(2), size(col("tk")) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val bg = Extensions.materialized(corpus
      .select(col(idCol).as("doc_id"), toks.as("tk"))
      .select(col("doc_id"), explode(pairsC).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf")))
    val model = Extensions.materialized(
      bg.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("cb")))
    val left = model.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cv"), count(lit(1)).as("n1v"))
    val right = model.groupBy(col("w2")).agg(count(lit(1)).as("n1w"))
    val nt = model.agg(count(lit(1)).as("nt"))
    bg.join(model, Seq("w1", "w2"))
      .join(broadcast(left), Seq("w1"))
      .join(broadcast(right), Seq("w2"))
      .crossJoin(broadcast(nt))
      .withColumn("lp", log(
        ((lit(4) * col("cb") - lit(3)) * col("nt")
          + lit(3) * col("n1v") * col("n1w")).cast("double")
          / (lit(4) * col("cv") * col("nt")).cast("double")))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("lp")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        (round(-col("s") / col("n_bigrams"), 4) + lit(0.0d)).as("kn_xent"))
  }

  /** x256: [[knBigramScore]] over the documents fixture. */
  def x256KneserNey(s: SparkSession, dir: String): DataFrame =
    knBigramScore(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x256OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      bg AS (
        SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, count(*) AS tf
        FROM d, UNNEST(generate_series(1, len(tk) - 1)) AS t(i)
        WHERE len(tk) >= 2
        GROUP BY 1, 2, 3),
      model AS (SELECT w1, w2, sum(tf) AS cb FROM bg GROUP BY 1, 2),
      lft AS (SELECT w1, sum(cb) AS cv, count(*) AS n1v FROM model GROUP BY w1),
      rgt AS (SELECT w2, count(*) AS n1w FROM model GROUP BY w2),
      nt AS (SELECT count(*) AS nt FROM model)
      SELECT bg.doc_id, CAST(sum(bg.tf) AS BIGINT) AS n_bigrams,
             round(-sum(bg.tf * ln(
               CAST((4 * model.cb - 3) * nt.nt + 3 * lft.n1v * rgt.n1w AS DOUBLE)
               / CAST(4 * lft.cv * nt.nt AS DOUBLE))) / sum(bg.tf), 4) AS kn_xent
      FROM bg
      JOIN model ON model.w1 = bg.w1 AND model.w2 = bg.w2
      JOIN lft ON lft.w1 = bg.w1
      JOIN rgt ON rgt.w2 = bg.w2
      CROSS JOIN nt
      GROUP BY bg.doc_id
      ORDER BY bg.doc_id"""

  // ---- x257: Jaro–Winkler similarity join (native codegen expression) --------------

  /** All same-`blockCol` pairs with Jaro–Winkler(`strCol`) ≥ threshold —
    * the fuzzy-name join, scored by the native codegen
    * [[graft.functions.JaroWinkler]] expression (no composable form
    * exists; a UDF would box every row out of the codegen pipeline).
    * The comparator fuses into the join's filter stage; blocking is the
    * caller's key (brand here; x248's sort key or x253's prefix index
    * at corpus scale). Output: (id_a, id_b, jw 4dp), id_a < id_b.
    */
  def jaroWinklerPairs(
      rel: DataFrame, idCol: String, strCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.JaroWinkler.jaroWinkler
    // lazily inject the length-ratio pruning rule (the AsOfJoinOp
    // pattern): the derived guard short-circuits the comparator on
    // length-skewed pairs, bit-identical output (JaroWinklerPruningSpec)
    val sess = rel.sparkSession
    if (!sess.experimental.extraOptimizations
        .contains(graft.plans.JaroWinklerLengthPruning))
      sess.experimental.extraOptimizations =
        sess.experimental.extraOptimizations :+
          graft.plans.JaroWinklerLengthPruning
    val d = rel.select(col(idCol).as("id"), col(strCol).as("s"),
      col(blockCol).as("blk"))
    d.as("a").join(d.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("jw", jaroWinkler(col("a.s"), col("b.s")))
      .filter(col("jw") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("jw"), 4).as("jw"))
  }

  /** x257: near-identical part names within a (brand, type) block at
    * jw ≥ 0.9 — the two-column block keeps the candidate volume
    * output-shaped as parts grow (brand alone is 25-way at every SF).
    */
  def x257JaroWinkler(s: SparkSession, dir: String): DataFrame =
    jaroWinklerPairs(Tables.load(s, dir, "part")
        .withColumn("blk", concat_ws("|", col("p_brand"), col("p_type"))),
        "p_partkey", "p_name", "blk", 0.9)

  /** DuckDB ships the same canonical comparator — the oracle is a
    * direct replay (semantics probe-verified: 0.7 boost gate, window,
    * half transpositions, empty → 0).
    */
  private val x257OracleSql: String = """
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_type = b.p_type
       AND a.p_partkey < b.p_partkey
      WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9
      ORDER BY id_a, id_b"""

  val entries: Seq[Entry] = Seq(
    Entry("x255_linkage_em", x255LinkageEm _, x255OracleSql),
    Entry("x256_kneser_ney", x256KneserNey _, x256OracleSql),
    Entry("x257_jaro_winkler", x257JaroWinkler _, x257OracleSql))
}
