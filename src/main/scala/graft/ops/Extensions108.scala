package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-eighth extension batch — making big vectors small and
  * big sorts into dedup blocks:
  *
  *  - random (sign) projection + distortion sweep (x247): the
  *    Johnson–Lindenstrauss workhorse — project d-dim embeddings onto
  *    k ≪ d sign vectors (Achlioptas 2003's ±1 construction, which is
  *    JL-valid and needs no Gaussian sampling). The projection matrix
  *    is a PURE HASH of (i, j), so every executor, every run, and the
  *    SQL oracle materialize the identical matrix with zero
  *    coordination and zero storage. The sweep measures what the
  *    reduction costs (|cos_full − cos_proj| per candidate k) before
  *    anything downstream commits to it — the same measure-then-choose
  *    discipline as probePlan/geometryPlan.
  *  - sorted-neighborhood dedup (x248): the third classic blocking
  *    family (after the inverted index and LSH) — sort the corpus by a
  *    key, compare each record only to its w−1 successors. Global rank
  *    comes from [[Rank.globalRank]] (range-partitioned order
  *    statistics, never a single-task window); the w-band self-join is
  *    the two-bucket trick (rank DIV w joins bucket b and b+1), so
  *    candidate volume is ≤ 2w per record by construction. Candidates
  *    then verify through the SAME exact-Jaccard tail as the x02 chain
  *    (`pairFilter`), so the two paths cannot drift.
  *
  * Determinism discipline: projections quantize components to 1e-4
  * integers (sign matrix is ±1, so projected sums are exact longs);
  * cosines quantize at 1e-6 with pair ties; the SNM sort key ties on
  * doc_id through globalRank's total order.
  */
object Extensions108 {

  // ---- x247: random sign projection + distortion sweep ---------------------------

  /** ±1 sign for matrix cell (i, j): lowest bit of md5("i_j") — the
    * x39/x247 lane over [[SignProject.md5bucket60]].
    */
  private[ops] def signCell(i: Int, j: Int): Long =
    if (SignProject.md5bucket60(s"${i}_$j") % 2 == 1) 1L else -1L

  /** The array-out, integer-exact sibling of [[Extensions5.jlProject]]
    * (x39): same Achlioptas ±1 hash matrix idea, but components
    * quantize to 1e-4 longs FIRST so projected sums are exact integers
    * (no float accumulation order, no 4dp rounding of outputs), the
    * 1/√k JL scale is dropped (every consumer here is scale-invariant
    * cosine), and the result stays an `array<long>` column feeding
    * dot-product pipelines directly instead of (id, dim, value) rows.
    * Sign columns are NESTED: the k-dim projection is the first k
    * components of any larger one, so the x247 sweep projects once at
    * max k and slices — x39 remains the row-shaped, norm-preserving
    * form for distance consumers.
    *
    * Scale: the d×k matrix materializes ONCE on the driver (pure hash,
    * zero coordination, zero storage) and inlines as literals — one
    * map-only pass under codegen, no join, no state.
    */
  def randomProjection(
      emb: DataFrame, vecCol: String, inDims: Int, outDims: Int): DataFrame = {
    require(inDims >= 1 && outDims >= 1)
    // round-14: thin adapter over the shared SignProject kernel (kernel
    // sibling: x330 Extensions145.jlProjectionCard — same literal ±1
    // matrix machinery, different md5 lane and a distortion card on top)
    val ql = transform(col(vecCol), x =>
      round(x.cast("double") * lit(1e4), 0).cast("long"))
    SignProject.literalProject(
        emb.withColumn("__ql", ql), "__ql", "proj",
        outDims, inDims, (j, i) => signCell(i, j))
      .drop("__ql")
  }

  /** x247: the distortion sweep — 10 query vectors × their 20-candidate
    * block, |cosine error| of the k-dim projection for k ∈ {8, 16, 32},
    * averaged per k. One projection at k=32; smaller k are its
    * prefixes (nested sign columns). The "how small can the vectors
    * get" decision, priced on the actual corpus before an ANN index
    * commits to k.
    */
  def x247ProjectionSweep(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val base = randomProjection(e, "embedding", 64, 32)
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          round(x.cast("double") * lit(1e4), 0).cast("long")).as("qv"),
        slice(col("proj"), 1, 8).as("p8"),
        slice(col("proj"), 1, 16).as("p16"),
        col("proj").as("p32"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.VectorFunctions.long_dot(a, b)
    def cosq(a: String, b: String) =
      round(lit(1e6) * (dot(col(s"x.$a"), col(s"y.$b")).cast("double") /
        (sqrt(dot(col(s"x.$a"), col(s"x.$a")).cast("double")) *
         sqrt(dot(col(s"y.$b"), col(s"y.$b")).cast("double")))), 0).cast("long")
    val q = base.filter(col("vec_id") < 10)
    val c = base.filter(col("vec_id") >= 10 && col("vec_id") < 30)
    val pairs = c.as("x").crossJoin(broadcast(q.as("y")))
      .select(
        cosq("qv", "qv").as("cf"),
        cosq("p8", "p8").as("c8"),
        cosq("p16", "p16").as("c16"),
        cosq("p32", "p32").as("c32"))
    pairs.select(explode(array(
        struct(lit(8L).as("k"), abs(col("c8") - col("cf")).as("err")),
        struct(lit(16L).as("k"), abs(col("c16") - col("cf")).as("err")),
        struct(lit(32L).as("k"), abs(col("c32") - col("cf")).as("err"))))
        .as("e"))
      .select(col("e.k").as("k"), col("e.err").as("err"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("err")).as("sum_err_1e6"),
        max(col("err")).as("max_err_1e6"))
      .select(col("k"), col("n_pairs"), col("sum_err_1e6"), col("max_err_1e6"),
        expr("((sum_err_1e6 * 2 + n_pairs * 100) DIV (2 * n_pairs * 100)) / 10000.0D")
          .as("mean_abs_err"))
  }

  private val x247OracleSql: String = """
      WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e4, 0)) AS qv
        FROM embeddings WHERE vec_id < 30),
      cell AS (
        SELECT i.i, j.j,
               CASE WHEN ('0x' || substr(md5(i.i::VARCHAR || '_' || j.j::VARCHAR),
                 1, 15))::BIGINT % 2 = 1 THEN 1 ELSE -1 END AS s
        FROM (SELECT unnest(generate_series(0, 63)) AS i) i,
             (SELECT unnest(generate_series(0, 31)) AS j) j),
      proj AS (
        SELECT e.vec_id, c.j,
               CAST(sum(e.qv[c.i + 1] * c.s) AS DOUBLE) AS p
        FROM e, cell c GROUP BY 1, 2),
      pv AS (
        SELECT vec_id, list(p ORDER BY j) AS p32
        FROM proj GROUP BY vec_id),
      b AS (SELECT e.vec_id, e.qv, pv.p32[1:8] AS p8, pv.p32[1:16] AS p16,
                   pv.p32
            FROM e JOIN pv ON pv.vec_id = e.vec_id),
      prs AS (
        SELECT CAST(round(1e6 * (list_dot_product(x.qv, y.qv)
                 / (sqrt(list_dot_product(x.qv, x.qv))
                    * sqrt(list_dot_product(y.qv, y.qv)))), 0) AS BIGINT) AS cf,
               CAST(round(1e6 * (list_dot_product(x.p8, y.p8)
                 / (sqrt(list_dot_product(x.p8, x.p8))
                    * sqrt(list_dot_product(y.p8, y.p8)))), 0) AS BIGINT) AS c8,
               CAST(round(1e6 * (list_dot_product(x.p16, y.p16)
                 / (sqrt(list_dot_product(x.p16, x.p16))
                    * sqrt(list_dot_product(y.p16, y.p16)))), 0) AS BIGINT) AS c16,
               CAST(round(1e6 * (list_dot_product(x.p32, y.p32)
                 / (sqrt(list_dot_product(x.p32, x.p32))
                    * sqrt(list_dot_product(y.p32, y.p32)))), 0) AS BIGINT) AS c32
        FROM b x CROSS JOIN b y
        WHERE x.vec_id >= 10 AND x.vec_id < 30 AND y.vec_id < 10),
      errs AS (
        SELECT 8 AS k, abs(c8 - cf) AS err FROM prs
        UNION ALL SELECT 16, abs(c16 - cf) FROM prs
        UNION ALL SELECT 32, abs(c32 - cf) FROM prs)
      SELECT CAST(k AS BIGINT) AS k, count(*) AS n_pairs,
             CAST(sum(err) AS BIGINT) AS sum_err_1e6,
             CAST(max(err) AS BIGINT) AS max_err_1e6,
             ((CAST(sum(err) AS BIGINT) * 2 + count(*) * 100)
               // (2 * count(*) * 100)) / 10000.0 AS mean_abs_err
      FROM errs GROUP BY k ORDER BY k"""

  // ---- x248: sorted-neighborhood dedup --------------------------------------------

  /** Sorted-neighborhood candidate pairs at window `w`, verified by
    * exact shingle Jaccard at `threshold`: rank the corpus by
    * (`sortKey`, id), join each record to neighbors within w−1 ranks
    * (two-bucket trick — candidate volume ≤ 2w per record), then verify
    * through the x02 exact-Jaccard tail. Finds the near-dups whose
    * prefixes collide — the blocking that record linkage uses when the
    * dup signal concentrates in a sort key (names, titles, leading
    * boilerplate).
    *
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b — the x02 contract,
    * restricted to the sorted neighborhood.
    */
  def sortedNeighborhoodPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      w: Int = 10, threshold: Double = 0.5, shingleSize: Int = 5): DataFrame = {
    require(w >= 2)
    // rank ONLY (key, id) — the text payload stays out of the sort
    val keyed = corpus.select(col(idCol).as("doc_id"),
      substring(lower(col(textCol)), 1, 16).as("__sk"))
    val ranked = Rank.globalRank(keyed, Seq("__sk", "doc_id"),
        Seq(false, false), parts = 8, tiles = 1)
      .select(col("doc_id"), col("rn"))
    val lo = ranked.select(col("doc_id").as("a_id"), col("rn").as("ra"),
      floor(col("rn") / w).cast("long").as("b0"))
    val hi = ranked.select(col("doc_id").as("b_id"), col("rn").as("rb"),
      floor(col("rn") / w).cast("long").as("hb"))
    val cands = lo
      .withColumn("bk", explode(array(col("b0"), col("b0") + 1L)))
      .join(hi, col("bk") === col("hb"))
      .filter(col("rb") > col("ra") && col("rb") - col("ra") < w)
      .select(least(col("a_id"), col("b_id")).as("doc_a"),
        greatest(col("a_id"), col("b_id")).as("doc_b"))
      .distinct()
    Extensions.exactJaccardFromIndex(
      Extensions.shingleIndexFastOf(corpus, idCol, textCol, shingleSize),
      threshold, pairFilter = Some(cands))
  }

  /** x248: SNM over the fixture corpus — the 16-char prefix key blocks
    * boilerplate-led near-dups into adjacent ranks.
    */
  def x248SortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodPairs(Tables.load(s, dir, "documents"),
      "doc_id", "text", w = 10, threshold = 0.5)

  private val x248OracleSql: String = """
      WITH keyed AS (
        SELECT doc_id, text, substr(lower(text), 1, 16) AS sk FROM documents),
      ranked AS (
        SELECT doc_id, text,
               row_number() OVER (ORDER BY sk, doc_id) AS rn
        FROM keyed),
      cands AS (
        SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
               greatest(a.doc_id, b.doc_id) AS doc_b
        FROM ranked a JOIN ranked b
          ON b.rn > a.rn AND b.rn - a.rn < 10),
      d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1,
                CASE WHEN len(toks) >= 5 THEN len(toks) - 4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      vf AS (SELECT prs.doc_a, prs.doc_b,
               round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
             FROM prs
             JOIN cnt ca ON ca.doc_id = prs.doc_a
             JOIN cnt cb ON cb.doc_id = prs.doc_b
             JOIN cands ON cands.doc_a = prs.doc_a AND cands.doc_b = prs.doc_b)
      SELECT doc_a, doc_b, jaccard FROM vf WHERE jaccard >= 0.5
      ORDER BY doc_a, doc_b"""

  val entries: Seq[Entry] = Seq(
    Entry("x247_projection_sweep", x247ProjectionSweep _, x247OracleSql),
    Entry("x248_sorted_neighborhood", x248SortedNeighborhood _, x248OracleSql))
}
