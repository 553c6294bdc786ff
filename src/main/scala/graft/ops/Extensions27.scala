package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Twenty-seventh extension batch — product quantization, the ANN
  * COMPRESSION path (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search"):
  *
  *  - x95: PQ codebook training (per-subspace k-means), encoding
  *    (M small codes per vector), and ADC top-k serving (per-query
  *    distance tables joined against codes). x40's int8 quantization
  *    compresses 4× per coordinate; PQ compresses 64 floats (256 bytes)
  *    to 32 4-bit codes (16 bytes) — the layout that makes a 100 TB vector corpus fit an
  *    ANN serving tier at all. Complements x16/x70 (IVF routes to
  *    cells; PQ compresses what lives inside them — IVF-PQ composes
  *    the two).
  *
  * Determinism discipline: embeddings quantize ONCE to exact integer
  * ten-thousandths (the x40 round(v·1e4) parity form); every k-means
  * distance, assignment, centroid update, and ADC distance after that
  * is exact long arithmetic with explicit tie-breaks (distance asc,
  * then code/id asc) and the half-away integer-division mean — so
  * training is a pure function of the corpus, identical across
  * partitionings, retries, and engines, and the DuckDB oracle replays
  * the whole loop (the x69/x94 generated-SQL discipline).
  */
object Extensions27 {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** PQ geometry: D = SubDim·NumSub dims, NumSub subspaces, K centroids
    * per subspace → a code fits in NumSub bytes at K ≤ 256.
    */
  val NumSub = 32
  val SubDim = 2
  val CodebookK = 16

  /** Exact integer quantization of the embedding column: ten-thousandths
    * as longs (the x40 rounding form — identical in both engines).
    */
  private[ops] def quantized(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol).as("vec_id"),
      transform(col(vecCol).cast("array<double>"),
        x => round(x * 10000.0d, 0).cast("long")).as("qv"))

  private def halfAwayDiv(num: Long, den: Long): Long = {
    val s = if (num < 0) -1L else 1L
    s * ((math.abs(num) * 2L + den) / (den * 2L))
  }

  /** The codebook as ONE nested array<array<array<long>>> literal.
    * Crucial plan-size property: the codebook is DATA inside a single
    * literal, not code — the first cut of this operator unrolled
    * M·K·SubDim literal terms into the expression tree and spent ~40 s
    * per bench run in Catalyst/Janino on a 2000-row input (measured;
    * the work itself is milliseconds). Every PQ expression below is a
    * data-driven HOF loop over this literal: tree size O(1) in the
    * codebook geometry, codegen small enough to JIT.
    */
  private[ops] def cbLit(codebook: Array[Array[Array[Long]]]): Column =
    typedlit(codebook.map(_.map(_.toSeq).toSeq).toSeq)

  /** Exact squared L2 between two bound array<long> columns. */
  private[ops] def sqd(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (s, v) => s + v)

  /** One row per (vec_id, m) with the bound subvector — the shared
    * explode every PQ stage starts from.
    */
  private[ops] def subRows(quant: DataFrame): DataFrame =
    quant.select(col("vec_id"),
      explode(transform(sequence(lit(0), lit(NumSub - 1)), m =>
        struct(m.as("m"), slice(col("qv"), m * SubDim + 1, lit(SubDim)).as("sub")))).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sub").as("sub"))

  /** argmin code for the bound (m, sub) row against the codebook
    * literal: array_min over (dist, k) structs — lexicographic struct
    * ordering IS the deterministic tie-break (distance asc, code asc).
    */
  private def codeCol(cb: Column, k: Int): Column =
    array_min(transform(sequence(lit(0), lit(k - 1)), kk =>
      struct(sqd(col("sub"), element_at(element_at(cb, col("m") + 1), kk + 1)).as("d"),
        kk.as("k")))).getField("k")

  /** Train the PQ codebook: per-subspace k-means over the quantized
    * corpus. Init = the first K vectors in id order (the x16/x70
    * deterministic-seeding convention); `iters` fixed Lloyd rounds.
    * Returns codebook(m)(k) = SubDim exact long components.
    *
    * Shape (the x69/x94 loop discipline): the corpus is quantized,
    * subvector-exploded, and materialized ONCE; each iteration is one
    * map-side assignment pass (the codebook rides along as ONE nested
    * array literal — data, not expression tree; see [[cbLit]]) + one
    * hash-agg to M·K rows collected for the driver-side
    * mean update. Empty clusters keep their previous centroid. At
    * 100 TB: `iters` scans of the quantized-vector table, shuffling
    * only M·K·(SubDim+1) longs per round.
    */
  def pqTrain(
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = CodebookK, iters: Int = 4): Array[Array[Array[Long]]] = {
    val qv = Extensions.materialized(quantized(vectors, idCol, vecCol))
    val seed = qv.orderBy(col("vec_id")).limit(k).collect()
    require(seed.length == k, s"pqTrain: need at least $k vectors to seed")
    var code = Array.tabulate(NumSub, k) { (m, kk) =>
      val v = seed(kk).getSeq[Long](1)
      (m * SubDim until (m + 1) * SubDim).map(v).toArray
    }
    val subs = Extensions.materialized(subRows(qv))
    for (_ <- 1 to iters) {
      val assigned = subs.select(col("m"), codeCol(cbLit(code), k).as("k"),
        col("sub"))
      val aggs = count(lit(1)).as("cnt") +:
        (0 until SubDim).map(i => sum(element_at(col("sub"), i + 1)).as(s"s$i"))
      val rows = assigned.groupBy(col("m"), col("k")).agg(aggs.head, aggs.tail: _*)
        .collect()
      val next = Array.tabulate(NumSub, k)((m, kk) => code(m)(kk))
      rows.foreach { r =>
        val (m, kk, cnt) = (r.getInt(0), r.getInt(1), r.getLong(2))
        next(m)(kk) = Array.tabulate(SubDim)(i => halfAwayDiv(r.getLong(3 + i), cnt))
      }
      code = next
    }
    code
  }

  /** Encode every vector: M codes via the map-side argmin (codebook as
    * literals — no join, no shuffle). One row per (vec_id, m).
    */
  def pqEncode(
      vectors: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Long]]]): DataFrame =
    subRows(quantized(vectors, idCol, vecCol))
      .select(col("vec_id"), col("m"),
        codeCol(cbLit(codebook), codebook.head.length).as("k"))

  /** ADC top-k: per-query distance TABLES (M·K exact long distances per
    * query — the PQ serving trick: query-to-centroid work is done once,
    * per-candidate work is M table lookups) broadcast-joined to the
    * encoded corpus on (m, code), summed per (query, candidate), then
    * ranked. Self-matches are excluded.
    *
    * Scale: the corpus side is its codes (NumSub small ints per vector —
    * the compressed representation IS what serves); the distance-table
    * side is O(queries·M·K) and broadcasts; the per-pair agg shuffles
    * M rows per (query, candidate) pair — the candidate set in a real
    * deployment is one IVF cell, not the full corpus (x16 composes).
    */
  def pqAdcTopK(
      codes: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Long]]], k: Int = 5): DataFrame = {
    val cb = cbLit(codebook)
    val dtab = subRows(quantized(queries, idCol, vecCol))
      .select(col("vec_id").as("q_id"), col("m"),
        explode(transform(sequence(lit(0), lit(codebook.head.length - 1)), kk =>
          struct(kk.as("k"),
            sqd(col("sub"), element_at(element_at(cb, col("m") + 1), kk + 1))
              .as("d")))).as("t"))
      .select(col("q_id"), col("m"), col("t.k").as("k"), col("t.d").as("d"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("c_id"))
    codes.join(broadcast(dtab), Seq("m", "k"))
      .groupBy(col("q_id"), col("vec_id").as("c_id"))
      .agg(sum(col("d")).as("adc_dist"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("adc_dist"),
        col("rk").cast("long").as("rk"))
  }

  /** The fixture's PQ codebook (4 Lloyd rounds), the offline artifact
    * of this pipeline: a [[FixtureCache]] entry shared by x95, x102 and
    * x107's store build.
    */
  private[ops] def fixtureCodebook(
      s: SparkSession, dir: String): Array[Array[Array[Long]]] =
    FixtureCache(s, dir, "embeddings", "pq-codebook")(
      pqTrain(emb(s, dir), "vec_id", "embedding"))

  /** x95: train (4 Lloyd rounds), encode the fixture embeddings, and
    * serve ADC top-5 for the first 10 vectors as queries. Output is
    * all-integer; the DuckDB oracle REPLAYS the training loop, the
    * encoding, and the ADC scan — see [[pqOracleChain]].
    */
  def x95PqTopK(s: SparkSession, dir: String): DataFrame = {
    val vectors = emb(s, dir)
    val codebook = fixtureCodebook(s, dir)
    val codes = pqEncode(vectors, "vec_id", "embedding", codebook)
    pqAdcTopK(codes, vectors.filter(col("vec_id") < 10), "vec_id", "embedding",
        codebook)
  }

  /** Exact integer brute-force top-k (squared L2 over the quantized
    * vectors) — the recall reference the spec compares ADC against.
    */
  def bruteTopK(
      vectors: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 5): DataFrame = {
    val c = quantized(vectors, idCol, vecCol)
      .select(col("vec_id").as("c_id"), col("qv").as("cv"))
    val q = quantized(queries, idCol, vecCol)
      .select(col("vec_id").as("q_id"), col("qv").as("quv"))
    val dist = aggregate(
      zip_with(col("quv"), col("cv"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("c_id"))
    c.join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), dist.as("dist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** The DuckDB replay of [[pqTrain]]+[[pqEncode]]+[[pqAdcTopK]],
    * generated for fixed geometry and iteration count. Assignments are
    * (vec × m × k) distance rows with a row_number argmin (the same
    * (dist, k) tie-break); centroid updates are 16 generated BIGINT sums
    * with the half-away division; empty clusters COALESCE to the
    * previous round's centroid.
    */
  private[ops] def pqOracleChain(iters: Int): String = {
    val sd = SubDim
    val sums = (1 to sd).map(i => s"CAST(sum(v.qv[a.m*$sd+$i]) AS BIGINT) AS s$i")
      .mkString(", ")
    val cList = (1 to sd).map(i =>
      s"CASE WHEN s$i < 0 THEN -((abs(s$i)*2 + cnt) // (2*cnt)) ELSE (s$i*2 + cnt) // (2*cnt) END")
      .mkString("[", ", ", "]")
    val head = s"""WITH qv AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT)) AS qv
      FROM embeddings),
    seed AS (SELECT qv, row_number() OVER (ORDER BY vec_id) - 1 AS k
             FROM qv ORDER BY vec_id LIMIT $CodebookK),
    c0 AS MATERIALIZED (
      SELECT u.m, seed.k, seed.qv[u.m*$sd+1 : u.m*$sd+$sd] AS c
      FROM seed, LATERAL unnest(generate_series(0, ${NumSub - 1})) AS u(m))"""
    def assignCte(name: String, cents: String) = s"""
    $name AS MATERIALIZED (
      SELECT vec_id, m, k FROM (
        SELECT t.vec_id, t.m, t.k,
               row_number() OVER (PARTITION BY t.vec_id, t.m ORDER BY t.d, t.k) AS rk
        FROM (SELECT v.vec_id, c.m, c.k,
                     list_sum(list_transform(generate_series(1, $sd),
                       i -> (v.qv[c.m*$sd+i] - c.c[i]) * (v.qv[c.m*$sd+i] - c.c[i]))) AS d
              FROM qv v CROSS JOIN $cents c) t)
      WHERE rk = 1)"""
    val rounds = (1 to iters).map { t =>
      assignCte(s"a$t", s"c${t - 1}") + s""",
    n$t AS (SELECT a.m, a.k, count(*) AS cnt, $sums
            FROM a$t a JOIN qv v USING (vec_id) GROUP BY a.m, a.k),
    c$t AS MATERIALIZED (
      SELECT p.m, p.k, COALESCE(n.c, p.c) AS c
      FROM c${t - 1} p LEFT JOIN (SELECT m, k, $cList AS c FROM n$t) n
        ON p.m = n.m AND p.k = n.k)"""
    }
    head + rounds.mkString(",", ",", ",") + assignCte("af", s"c$iters").drop(1)
  }

  private val x95OracleSql: String = {
    val sd = SubDim
    pqOracleChain(4) + s""",
    qd AS (SELECT v.vec_id AS q_id, c.m, c.k,
                  list_sum(list_transform(generate_series(1, $sd),
                    i -> (v.qv[c.m*$sd+i] - c.c[i]) * (v.qv[c.m*$sd+i] - c.c[i]))) AS d
           FROM qv v CROSS JOIN c4 c WHERE v.vec_id < 10),
    adc AS (SELECT qd.q_id, af.vec_id AS c_id, CAST(sum(qd.d) AS BIGINT) AS adc_dist
            FROM qd JOIN af ON qd.m = af.m AND qd.k = af.k
            GROUP BY 1, 2)
    SELECT q_id, c_id, adc_dist, CAST(rk AS BIGINT) AS rk FROM (
      SELECT q_id, c_id, adc_dist,
             row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, c_id) AS rk
      FROM adc WHERE c_id <> q_id)
    WHERE rk <= 5
    ORDER BY q_id, rk"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x95_pq_topk", x95PqTopK _, x95OracleSql))
}
