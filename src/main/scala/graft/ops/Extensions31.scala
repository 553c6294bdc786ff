package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Thirty-first extension batch — the composed ANN serving path and
  * mergeable set sketches:
  *
  *  - IVF-PQ (x102): the billion-scale ANN layout (Jégou et al. 2011
  *    §IV): IVF routes a query to a few cells, PQ codes answer ADC
  *    inside them — scan work = probed cells only, per-candidate work =
  *    M table lookups, raw vectors nowhere in the serving path. x16
  *    (IVF, exact rerank), x95 (PQ, full scan) are the parts; this is
  *    the composition actually deployed.
  *  - theta sketches (x103): KMV/theta distinct sketches (Beyer et al.
  *    2007) — the k smallest hash values of a set. Unlike HLL (x12),
  *    theta sketches support INTERSECTION estimates, which is what
  *    release engineering actually asks ("how much does src A's vocab
  *    overlap src B's?") without a pairwise token join. Deterministic:
  *    the "random" hash is the portable md5-60; the sketch of a set is
  *    a pure function of its members.
  */
object Extensions31 {

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- x102: IVF-PQ composed serving -----------------------------------------

  val IvfPqCells = 8
  val IvfPqProbes = 2

  private def quantized(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    Extensions27.quantized(vectors, idCol, vecCol)

  /** The coarse centroids as ONE nested array literal (the x95 cbLit
    * plan-size discipline: data, not expression tree). Shared with
    * [[PqStore]], whose serving path must route identically.
    */
  private[ops] def centsLit(cents: Seq[Seq[Long]]): Column = typedlit(cents)

  /** argmin cell against the centroid literal — map-side, struct-
    * ordering tie-break (dist asc, cell asc), data-driven HOF loop.
    */
  private[ops] def cellExpr(cl: Column, nCells: Int): Column =
    array_min(transform(sequence(lit(0), lit(nCells - 1)), c =>
      struct(Extensions27.sqd(col("qv"), element_at(cl, c + 1)).as("d"),
        c.as("cell")))).getField("cell")

  /** x102: IVF-PQ top-5. Coarse quantizer = the first `IvfPqCells`
    * quantized vectors (the x16 deterministic-seeding convention); PQ
    * codebook = [[Extensions27.pqTrain]] on the corpus; queries (vec_id
    * < 10) probe their `IvfPqProbes` best cells and ADC-rank ONLY those
    * cells' codes.
    *
    * Scale: the serving read is (probed cells' codes) ⋈ (broadcast
    * per-query distance tables) — no raw vectors, no full-corpus scan;
    * cell routing and encoding are map-side literal arithmetic. This is
    * the FAISS IVFADC layout as a Spark plan; the persisted sibling
    * stores codes partitionBy(cell) like IvfStore and prunes the scan
    * to the probed directories.
    */
  /** Per-query probed cell list from a quantized query table `qq`:
    * explode per-cell distances against the centroid literal, keep the
    * `probes` best (dist asc, cell asc). Shared by [[ivfPqTopK]] and
    * [[PqStore.topKFromIndex]] so the two serving paths route
    * identically by construction.
    */
  private[ops] def probeCells(
      qq: DataFrame, cl: Column, nCells: Int, probes: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("cd"), col("cell"))
    qq.select(col("vec_id").as("q_id"),
        explode(transform(sequence(lit(0), lit(nCells - 1)), c =>
          struct(c.as("cell"),
            Extensions27.sqd(col("qv"), element_at(cl, c + 1)).as("cd")))).as("p"))
      .select(col("q_id"), col("p.cell").as("cell"), col("p.cd").as("cd"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= probes)
      .select(col("q_id"), col("cell"))
  }

  /** Per-query ADC distance tables (M·K exact long distances per query)
    * from a quantized query table — the broadcast side of every ADC
    * join. Shared by [[ivfPqTopK]] and [[PqStore.topKFromIndex]].
    */
  private[ops] def adcDistTable(
      qq: DataFrame, codebook: Array[Array[Array[Long]]]): DataFrame = {
    val cb = Extensions27.cbLit(codebook)
    Extensions27.subRows(qq)
      .select(col("vec_id").as("q_id"), col("m"),
        explode(transform(sequence(lit(0), lit(codebook.head.length - 1)), kk =>
          struct(kk.as("k"),
            Extensions27.sqd(col("sub"),
              element_at(element_at(cb, col("m") + 1), kk + 1)).as("d")))).as("t"))
      .select(col("q_id"), col("m"), col("t.k").as("k"), col("t.d").as("d"))
  }

  /** Rank the ADC-joined candidate codes: sum the M lookups per
    * (query, candidate), drop self-matches, keep top-k (dist asc, id
    * asc). `withCodes` must carry (q_id, vec_id, m, k). Shared tail of
    * both serving paths.
    */
  private[ops] def adcRank(
      withCodes: DataFrame, dtab: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_dist"), col("c_id"))
    withCodes
      .join(broadcast(dtab), Seq("q_id", "m", "k"))
      .groupBy(col("q_id"), col("vec_id").as("c_id"))
      .agg(sum(col("d")).as("adc_dist"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("adc_dist"),
        col("rk").cast("long").as("rk"))
  }

  /** IVF-PQ composed serving (the FAISS IVFADC layout as a Spark plan):
    * route each query to its best cells, ADC-rank only those cells'
    * codes — no raw vectors, no full scan in the serving path.
    */
  def ivfPqTopK(
      vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, codebook: Array[Array[Array[Long]]],
      k: Int = 5): DataFrame = {
    val qv = Extensions.materialized(quantized(vectors, idCol, vecCol))
    val cents = qv.orderBy(col("vec_id")).limit(IvfPqCells).collect()
      .map(_.getSeq[Long](1)).toSeq
    val cl = centsLit(cents)
    val assigned = qv.select(col("vec_id"), cellExpr(cl, IvfPqCells).as("cell"))
    val codes = Extensions27.pqEncode(vectors, idCol, vecCol, codebook)
    val qq = Extensions.materialized(quantized(queries, idCol, vecCol))
    val probed = probeCells(qq, cl, IvfPqCells, IvfPqProbes)
    val candidates = probed.join(assigned, Seq("cell"))
      .select(col("q_id"), col("vec_id"))
    adcRank(candidates.join(codes, Seq("vec_id")), adcDistTable(qq, codebook), k)
  }

  /** x102: IVF-PQ over the fixture embeddings (codebook trained by
    * [[Extensions27.pqTrain]], queries = vec_id < 10).
    */
  def x102IvfPq(s: SparkSession, dir: String): DataFrame = {
    val vectors = table(s, dir, "embeddings")
    val codebook = Extensions27.fixtureCodebook(s, dir)
    ivfPqTopK(vectors, "vec_id", "embedding",
        vectors.filter(col("vec_id") < 10), codebook)
  }

  /** Exact integer squared L2 over two full 64-dim quantized vectors —
    * the oracle-side distance kernel.
    */
  private[ops] def oracleDist(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, 64), i -> ($a.qv[i] - $b.qv[i]) * ($a.qv[i] - $b.qv[i]))) AS BIGINT)"

  /** The shared oracle core of the IVF-PQ serving path (x102 and the
    * store-served x107): PQ training replay + coarse assignment +
    * probing + ADC, ending in a `ranked` CTE of (q_id, c_id, adc_dist,
    * rk). Store-served and in-memory paths are plan-for-plan the same
    * computation, so one replay covers both.
    */
  private[ops] def ivfPqOracleChain: String = {
    val sd = Extensions27.SubDim
    Extensions27.pqOracleChain(4) + s""",
    cents AS MATERIALIZED (
      SELECT qv, row_number() OVER (ORDER BY vec_id) - 1 AS cell
      FROM qv ORDER BY vec_id LIMIT $IvfPqCells),
    cellof AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY ${oracleDist("v", "c")}, c.cell) AS rk
        FROM qv v CROSS JOIN cents c)
      WHERE rk = 1),
    probed AS (
      SELECT q_id, cell FROM (
        SELECT v.vec_id AS q_id, c.cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY ${oracleDist("v", "c")}, c.cell) AS rk
        FROM qv v CROSS JOIN cents c WHERE v.vec_id < 10)
      WHERE rk <= $IvfPqProbes),
    qd AS (SELECT v.vec_id AS q_id, c.m, c.k,
                  list_sum(list_transform(generate_series(1, $sd),
                    i -> (v.qv[c.m*$sd+i] - c.c[i]) * (v.qv[c.m*$sd+i] - c.c[i]))) AS d
           FROM qv v CROSS JOIN c4 c WHERE v.vec_id < 10),
    adc AS (SELECT p.q_id, af.vec_id AS c_id, CAST(sum(qd.d) AS BIGINT) AS adc_dist
            FROM probed p
            JOIN cellof co ON co.cell = p.cell
            JOIN af ON af.vec_id = co.vec_id
            JOIN qd ON qd.q_id = p.q_id AND qd.m = af.m AND qd.k = af.k
            GROUP BY 1, 2),
    ranked AS (
      SELECT q_id, c_id, adc_dist,
             row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, c_id) AS rk
      FROM adc WHERE c_id <> q_id)"""
  }

  private val x102OracleSql: String = ivfPqOracleChain + """
    SELECT q_id, c_id, adc_dist, CAST(rk AS BIGINT) AS rk FROM ranked
    WHERE rk <= 5
    ORDER BY q_id, rk"""

  // ---- x103: theta sketch set operations -------------------------------------

  val ThetaK = 16

  /** Per-group theta (KMV) sketches over a value column: the `k`
    * smallest md5-60 hash values of the group's DISTINCT values, plus
    * the threshold T (= the k-th smallest when the sketch is full, else
    * 2^60 — the "θ = 1, sketch is exact" convention). Distinct estimate
    * = (k−1)·2^60/T when full, the exact count when not.
    *
    * Scale note: the k-smallest-per-group step is a window over the
    * distinct (group, hash) table here; at vocabulary scale the upgrade
    * path is a typed Aggregator holding a k-bounded heap (same
    * contract, partial-merging — the sketch is mergeable by
    * construction, which is the point: per-shard sketches union by
    * keeping the k smallest of the union).
    */
  def thetaSketches(
      rel: DataFrame, groupCol: String, valueCol: String,
      k: Int = ThetaK): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val sk = Extensions.materialized(
      rel.select(col(groupCol).as("g"), col(valueCol).as("value"))
        .distinct()
        .select(col("g"),
          graft.functions.HashFunctions.md5_bucket60(col("value").cast("string"))
            .as("v"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k))
    sk.groupBy(col("g")).agg(count(lit(1)).as("cnt"), max(col("v")).as("maxv"))
      .select(col("g"),
        when(col("cnt") < k, lit(1L << 60)).otherwise(col("maxv"))
          .as("T"),
        col("cnt"))
      .join(sk.select(col("g"), col("v")), Seq("g"))
      .select(col("g"), col("T"), col("cnt"), col("v"))
  }

  /** Pairwise overlap report from theta sketches: for every group pair
    * (a < b), the distinct-count estimates and the intersection
    * estimate |sketch_a ∩ sketch_b ∩ [0, T*)| / θ* with T* = min(Ta,
    * Tb) — the standard theta intersection. Estimates round to 4dp; the
    * hash-value compare is pure integers.
    */
  def thetaOverlap(sketches: DataFrame, k: Int = ThetaK): DataFrame = {
    val th = sketches.select(col("g"), col("T"), col("cnt")).distinct()
    val twoPow60 = 1.152921504606846976e18d
    def estD(t: Column, c: Column) =
      when(c < k, c.cast("double"))
        .otherwise(lit((k - 1).toDouble) / (t / lit(twoPow60)))
    val common = sketches.select(col("g").as("ga"), col("v"))
      .join(sketches.select(col("g").as("gb"), col("v")), Seq("v"))
      .filter(col("ga") < col("gb"))
    val pairs = th.select(col("g").as("ga"), col("T").as("ta"), col("cnt").as("ca"))
      .join(th.select(col("g").as("gb"), col("T").as("tb"), col("cnt").as("cb")),
        col("ga") < col("gb"))
    val minT = least(col("ta"), col("tb"))
    pairs.join(
        common.join(pairs.select(col("ga"), col("gb"), minT.as("tstar")),
            Seq("ga", "gb"))
          .filter(col("v") < col("tstar"))
          .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("ncommon")),
        Seq("ga", "gb"), "left_outer")
      .na.fill(0L, Seq("ncommon"))
      .select(col("ga").as("source_a"), col("gb").as("source_b"),
        round(estD(col("ta"), col("ca")), 4).as("est_distinct_a"),
        round(estD(col("tb"), col("cb")), 4).as("est_distinct_b"),
        round(col("ncommon") / (minT / lit(twoPow60)), 4).as("est_intersection"))
  }

  /** x103: per-source token-vocabulary theta sketches + all pairwise
    * intersection estimates over the documents fixture.
    */
  def x103ThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    val toks = table(s, dir, "documents")
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    thetaOverlap(thetaSketches(toks, "source", "tok"))
  }

  private val x103OracleSql: String = s"""
      WITH dt AS (SELECT DISTINCT source AS g, tok FROM (
                    SELECT source, unnest(string_split(lower(text), ' ')) AS tok
                    FROM documents)
                  WHERE tok <> ''),
      hv AS (SELECT g, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS v FROM dt),
      sk AS MATERIALIZED (SELECT g, v FROM (
              SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rk
              FROM hv)
            WHERE rk <= $ThetaK),
      th AS (SELECT g, count(*) AS cnt,
                    CASE WHEN count(*) < $ThetaK THEN CAST(1152921504606846976 AS BIGINT)
                         ELSE max(v) END AS T
             FROM sk GROUP BY g),
      pairs AS (SELECT a.g AS ga, a.T AS ta, a.cnt AS ca,
                       b.g AS gb, b.T AS tb, b.cnt AS cb
                FROM th a JOIN th b ON a.g < b.g),
      common AS (SELECT p.ga, p.gb, count(*) AS ncommon
                 FROM pairs p
                 JOIN sk sa ON sa.g = p.ga
                 JOIN sk sb ON sb.g = p.gb AND sb.v = sa.v
                 WHERE sa.v < least(p.ta, p.tb)
                 GROUP BY p.ga, p.gb)
      SELECT p.ga AS source_a, p.gb AS source_b,
             round(CASE WHEN p.ca < $ThetaK THEN p.ca * 1.0
                        ELSE ${ThetaK - 1}.0 / (p.ta / 1152921504606846976.0) END, 4)
               AS est_distinct_a,
             round(CASE WHEN p.cb < $ThetaK THEN p.cb * 1.0
                        ELSE ${ThetaK - 1}.0 / (p.tb / 1152921504606846976.0) END, 4)
               AS est_distinct_b,
             round(COALESCE(c.ncommon, 0) / (least(p.ta, p.tb) / 1152921504606846976.0), 4)
               AS est_intersection
      FROM pairs p LEFT JOIN common c ON c.ga = p.ga AND c.gb = p.gb
      ORDER BY source_a, source_b"""

  val entries: Seq[Entry] = Seq(
    Entry("x102_ivfpq", x102IvfPq _, x102OracleSql),
    Entry("x103_theta_overlap", x103ThetaOverlap _, x103OracleSql))
}
