package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** One-hundred-thirtieth extension batch — five verbs the inventory
  * still lacked, each a standard step in an embedding / data-quality
  * pipeline:
  *
  *  - DBSCAN on the 2-D embedding projection (x288): density-based
  *    clustering (Ester et al. 1996) — the clustering family next to
  *    the component-based (x18) and centroid-based (PQ k-means) ones.
  *    Grid-cell candidate generation (cell edge = eps, so any true
  *    eps-pair differs by ≤ 1 cell per axis — lossless, never
  *    all-pairs), exact integer micro distance verify, core/border/
  *    noise roles, min-id cluster labels via the x18 component
  *    machinery.
  *  - token↔label mutual information (x289): the third member of the
  *    feature-selection trio next to chi² (x141) and WOE/IV — MI in
  *    nats over the 2×2 document-presence table.
  *  - kNN-graph hubness card (x290): in-degree and mutuality of the
  *    exact cosine top-k graph — hubness is THE embedding-space
  *    pathology metric (Radovanović et al. 2010); the graph is also
  *    the build input for graph-based ANN serving.
  *  - Benford first-digit card (x291): per event type, the observed
  *    first-significant-digit distribution of the money column vs
  *    Benford's law — the classic data-forensics screen.
  *  - Matryoshka truncation recall (x292): top-k agreement between
  *    full-dimension and prefix-truncated cosine retrieval — the eval
  *    behind dimension-reduction serving decisions.
  *
  * Determinism: coordinates/components quantize once to micro longs,
  * distances and dots are exact integer arithmetic, ln/÷ run once in
  * doubles of exact longs with identical parenthesization in both
  * engines, ranks tie on ids, and the two brute-force cards (x290,
  * x292) bind to a BOUNDED id slice (the x286 calibration-card
  * discipline) so their cost is corpus-invariant.
  */
object Extensions130 {

  // ---- x288: grid-cell DBSCAN on the 2-D projection ---------------------------

  /** DBSCAN over the first two embedding components (micro-quantized):
    * role ∈ {core, border, noise} and a min-core-id cluster label per
    * point (−1 for noise). `epsMicro` is the radius in 1e-6 units;
    * `minPts` counts the point itself (the Ester et al. convention).
    *
    * Scale: candidates come from a 9-cell grid join (cell edge = eps ⇒
    * lossless for the eps-ball), so pair volume is Σ per-cell density²,
    * never corpus²; the core-core component graph is pair-sized and
    * rides [[Extensions2.connectedComponents]] (union-find under 4M
    * edges, doubling rounds above).
    */
  def dbscan2d(
      emb: DataFrame, idCol: String, vecCol: String,
      epsMicro: Long = 25000L, minPts: Int = 4): DataFrame = {
    require(epsMicro >= 1 && minPts >= 1)
    // +16777216 shifts every micro coordinate positive so integer DIV is
    // a true floor on both engines (negative DIV truncates toward zero)
    val off = 16777216L
    def q(i: Int): Column =
      round(lit(1e6) * element_at(col(vecCol), i).cast("double"), 0).cast("long")
    val pts = Extensions.materialized(
      emb.select(col(idCol).as("id"), q(1).as("x"), q(2).as("y"))
        .withColumn("cx", expr(s"(x + $off) DIV $epsMicro"))
        .withColumn("cy", expr(s"(y + $off) DIV $epsMicro")))
    val probes = pts.select(col("id").as("ib"), col("x").as("xb"),
        col("y").as("yb"),
        explode(array((for { dx <- -1 to 1; dy <- -1 to 1 } yield
          struct((col("cx") + dx).as("px"), (col("cy") + dy).as("py"))): _*))
          .as("p"))
      .select(col("ib"), col("xb"), col("yb"),
        col("p.px").as("px"), col("p.py").as("py"))
    val nbp = Extensions.materialized(pts
      .join(probes, col("cx") === col("px") && col("cy") === col("py"))
      .filter((col("x") - col("xb")) * (col("x") - col("xb")) +
        (col("y") - col("yb")) * (col("y") - col("yb")) <=
        lit(epsMicro) * lit(epsMicro))
      .select(col("id").as("ia"), col("ib")))
    val core = Extensions.materialized(
      nbp.groupBy(col("ia")).agg(count(lit(1)).as("n_nb"))
        .filter(col("n_nb") >= minPts.toLong)
        .select(col("ia").as("id")))
    val coreEdges = nbp
      .join(core.select(col("id").as("ia")), Seq("ia"), "left_semi")
      .join(core.select(col("id").as("ib")), Seq("ib"), "left_semi")
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("doc_a"), col("ib").as("doc_b"))
    val comp = Extensions2.connectedComponents(coreEdges, "doc_a", "doc_b")
      .select(col("doc_id").as("id"), col("component"))
    val coreLab = Extensions.materialized(
      core.join(comp, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("component"), col("id")).as("cluster")))
    val borderLab = nbp
      .join(core.select(col("id").as("ia")), Seq("ia"), "left_anti")
      .join(coreLab.select(col("id").as("ib"), col("cluster")), Seq("ib"))
      .groupBy(col("ia").as("id"))
      .agg(min(col("cluster")).as("cluster"))
    val out = coreLab.select(col("id"), lit("core").as("role"), col("cluster"))
      .unionByName(borderLab.select(col("id"), lit("border").as("role"),
        col("cluster")))
    pts.select(col("id"))
      .join(out, Seq("id"), "left_outer")
      .select(col("id").as("vec_id"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }

  def x288Dbscan(s: SparkSession, dir: String): DataFrame =
    dbscan2d(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")

  private val x288OracleSql: String = """
      WITH RECURSIVE
      e AS (SELECT vec_id AS id,
                   CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6, 0) AS BIGINT) AS x,
                   CAST(round(CAST(embedding[2] AS DOUBLE) * 1e6, 0) AS BIGINT) AS y
            FROM embeddings),
      nbp AS (SELECT a.id AS ia, b.id AS ib
              FROM e a JOIN e b
                ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                   <= CAST(25000 AS BIGINT) * CAST(25000 AS BIGINT)),
      core AS (SELECT ia AS id FROM nbp GROUP BY ia HAVING count(*) >= 4),
      ce AS (SELECT ia AS src, ib AS dst FROM nbp
             WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)
               AND ia <> ib),
      reach(node, comp) AS (
        SELECT id, id FROM core
        UNION
        SELECT ce.dst, r.comp FROM reach r JOIN ce ON ce.src = r.node),
      cc AS (SELECT node AS id, min(comp) AS cluster FROM reach GROUP BY node),
      borderlab AS (
        SELECT nbp.ia AS id, min(cc.cluster) AS cluster
        FROM nbp JOIN cc ON cc.id = nbp.ib
        WHERE nbp.ia NOT IN (SELECT id FROM core)
        GROUP BY nbp.ia),
      roles AS (
        SELECT id, 'core' AS role, cluster FROM cc
        UNION ALL
        SELECT id, 'border' AS role, cluster FROM borderlab)
      SELECT e.id AS vec_id,
             coalesce(roles.role, 'noise') AS role,
             coalesce(roles.cluster, -1) AS cluster
      FROM e LEFT JOIN roles ON roles.id = e.id
      ORDER BY vec_id"""

  // ---- x289: token-label mutual information -----------------------------------

  /** Top-`topK` tokens by mutual information (nats, 4dp) with a boolean
    * document label over the 2×2 presence table — the MI sibling of
    * [[Extensions54.chiSquareTokens]] (same counting chain, different
    * association measure: MI weights cells by mass instead of squared
    * surprise, so rare-but-pure tokens rank differently).
    *
    * Exactness: all eight counts are exact longs; each of the four MI
    * terms is (n/N)·ln(N·n/(row·col)) computed ONCE in doubles of exact
    * longs with identical parenthesization in both engines; zero cells
    * contribute exactly 0 by the guard, and ties break on the token.
    */
  def tokenLabelMi(
      labeled: DataFrame, idCol: String, textCol: String, labelCol: String,
      topK: Int = 50, minDf: Long = 5L): DataFrame = {
    val toks = filter(split(lower(col(textCol)), " "), t => length(t) > 0)
    val docTok = labeled
      .select(col(idCol).as("doc_id"), col(labelCol).cast("long").as("y"),
        explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(first(col("y")).as("y"))
    val tot = labeled.agg(
      count(lit(1)).as("n_total"),
      sum(col(labelCol).cast("long")).as("p_total"))
    def term(n: Column, r: Column, c: Column, nT: Column): Column =
      when(n > 0L, (n.cast("double") / nT) *
        log(nT.cast("double") * n / (r.cast("double") * c)))
        .otherwise(lit(0.0d))
    val perTok = docTok.groupBy(col("token"))
      .agg(count(lit(1)).as("ab"), sum(col("y")).as("a"))
      .filter(col("ab") >= minDf)
    perTok.crossJoin(broadcast(tot))
      .withColumn("b", col("ab") - col("a"))
      .withColumn("c", col("p_total") - col("a"))
      .withColumn("d", col("n_total") - col("p_total") - col("b"))
      .withColumn("mi",
        term(col("a"), col("ab"), col("p_total"), col("n_total")) +
        term(col("b"), col("ab"), col("n_total") - col("p_total"), col("n_total")) +
        term(col("c"), col("n_total") - col("ab"), col("p_total"), col("n_total")) +
        term(col("d"), col("n_total") - col("ab"),
          col("n_total") - col("p_total"), col("n_total")))
      .filter(col("mi").isNotNull)
      .select(col("token"), col("ab").as("n_docs"), col("a").as("n_keep"),
        Extensions.round4o(col("mi")).as("mi"))
      .orderBy(col("mi").desc, col("token"))
      .limit(topK)
  }

  /** x289: top-50 MI tokens against the x80 Gopher keep label — the
    * same label x141's chi² audits, so the two rankings diff directly.
    */
  def x289TokenMi(s: SparkSession, dir: String): DataFrame =
    tokenLabelMi(
      Extensions20.gopherRuleCard(Tables.load(s, dir, "documents"),
        "doc_id", "text", carryCols = Seq("text"))
        .select(col("doc_id"), col("text"), col("keep")),
      "doc_id", "text", "keep")

  // ---- x290: kNN-graph hubness card --------------------------------------------

  /** Exact cosine top-`k` neighbor graph over a BOUNDED id slice, then
    * per node: in-degree (times it appears in others' top-k) and
    * mutuality (how many of its own top-k also keep it) — the hubness
    * card. High in-degree skew = anisotropic embedding space (the x127
    * direction is usually why); mutual edges are what graph-ANN builds
    * keep.
    *
    * Scale: exact all-pairs is the TRUTH form and binds to `idBound`
    * (the x286 calibration-slice discipline — corpus-invariant cost);
    * the production graph comes from the IVF/PQ candidate stores with
    * the same vote rules.
    */
  def knnHubness(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, idBound: Long = 600L): DataFrame = {
    require(k >= 1)
    val ql = transform(col(vecCol), x =>
      round(x.cast("double") * lit(1e4), 0).cast("long"))
    val base = Extensions.materialized(
      emb.filter(col(idCol) < idBound)
        .select(col(idCol).as("id"), ql.as("qv"),
          aggregate(transform(ql, x => x * x), lit(0L), _ + _).as("nrm")))
    def dot(a: String, b: String) =
      graft.functions.VectorFunctions.long_dot(col(a), col(b))
    val scored = base.select(col("id").as("qa"), col("qv").as("va"),
        col("nrm").as("na"))
      .join(base.select(col("id").as("qb"), col("qv").as("vb"),
        col("nrm").as("nb")), col("qa") =!= col("qb"))
      .select(col("qa"), col("qb"),
        round(lit(1e6) * (dot("va", "vb").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))), 0)
          .cast("long").as("sim"))
    val w = Window.partitionBy(col("qa")).orderBy(col("sim").desc, col("qb"))
    val edges = Extensions.materialized(
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select(col("qa"), col("qb")))
    val indeg = edges.groupBy(col("qb").as("id"))
      .agg(count(lit(1)).as("in_deg"))
    val mutual = edges
      .join(edges.select(col("qa").as("qb"), col("qb").as("qa")),
        Seq("qa", "qb"), "left_semi")
      .groupBy(col("qa").as("id")).agg(count(lit(1)).as("n_mutual"))
    base.select(col("id"))
      .join(indeg, Seq("id"), "left_outer")
      .join(mutual, Seq("id"), "left_outer")
      .select(col("id").as("vec_id"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
  }

  def x290KnnHubness(s: SparkSession, dir: String): DataFrame =
    knnHubness(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")

  private val x290OracleSql: String = """
      WITH base AS (
        SELECT vec_id AS id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1e4, 0) AS BIGINT)) AS qv
        FROM embeddings WHERE vec_id < 600),
      nrm AS (SELECT id, qv, list_dot_product(qv, qv) AS nrm FROM base),
      scored AS (
        SELECT a.id AS qa, b.id AS qb,
               CAST(round(1e6 * (list_dot_product(a.qv, b.qv)
                 / (sqrt(a.nrm) * sqrt(b.nrm))), 0) AS BIGINT) AS sim
        FROM nrm a JOIN nrm b ON a.id <> b.id),
      edges AS (
        SELECT qa, qb FROM (
          SELECT qa, qb,
                 row_number() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk
          FROM scored)
        WHERE rk <= 5),
      indeg AS (SELECT qb AS id, CAST(count(*) AS BIGINT) AS in_deg
                FROM edges GROUP BY qb),
      mut AS (SELECT e.qa AS id, CAST(count(*) AS BIGINT) AS n_mutual
              FROM edges e JOIN edges r ON r.qa = e.qb AND r.qb = e.qa
              GROUP BY e.qa)
      SELECT b.id AS vec_id,
             coalesce(indeg.in_deg, 0) AS in_deg,
             coalesce(mut.n_mutual, 0) AS n_mutual
      FROM base b
      LEFT JOIN indeg ON indeg.id = b.id
      LEFT JOIN mut ON mut.id = b.id
      ORDER BY vec_id"""

  // ---- x291: Benford first-digit card ------------------------------------------

  /** Per (event type, first significant digit of the cents amount):
    * count, observed share (half-up 4dp) and the Benford expectation
    * log10(1 + 1/d) (4dp) — the data-forensics screen for fabricated
    * or unit-mangled money columns. Zero-cent rows carry no leading
    * digit and are excluded.
    */
  def benfordCard(
      events: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val cents = abs(round(col(valueCol) * 100.0d, 0).cast("long"))
    events
      .select(col(groupCol).as("event_type"), cents.as("c"))
      .filter(col("c") > 0L)
      .withColumn("digit", substring(col("c").cast("string"), 1, 1).cast("long"))
      .groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(
        Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("digit"), col("n"),
        expr("((n * 10000 * 2 + tot) DIV (2 * tot)) / 10000.0D").as("share"),
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 4)
          .as("benford"))
  }

  def x291Benford(s: SparkSession, dir: String): DataFrame =
    benfordCard(Tables.load(s, dir, "events"), "event_type", "value")

  private val x291OracleSql: String = """
      WITH c AS (SELECT event_type,
                        abs(CAST(round(value * 100.0, 0) AS BIGINT)) AS c
                 FROM events),
      d AS (SELECT event_type,
                   CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM c WHERE c > 0),
      g AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
            FROM d GROUP BY 1, 2),
      t AS (SELECT event_type, digit, n,
                   sum(n) OVER (PARTITION BY event_type) AS tot
            FROM g)
      SELECT event_type, digit, n,
             ((n * 10000 * 2 + tot) // (2 * tot)) / 10000.0 AS share,
             round(ln(1.0 + 1.0 / digit) / ln(10.0), 4) AS benford
      FROM t
      ORDER BY event_type, digit"""

  // ---- x292: Matryoshka truncation recall --------------------------------------

  /** Per query (bounded slice): how many of the full-dimension cosine
    * top-`k` survive when retrieval runs on the first `prefixDims`
    * components only — the Matryoshka/dimension-reduction serving eval
    * (Kusupati et al. 2022). Both rankings use the exact integer dot
    * machinery and (sim desc, id) ties; output (vec_id, n_overlap).
    */
  def matryoshkaRecall(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, prefixDims: Int = 16, idBound: Long = 600L): DataFrame = {
    require(k >= 1 && prefixDims >= 1)
    val ql = transform(col(vecCol), x =>
      round(x.cast("double") * lit(1e4), 0).cast("long"))
    val base = Extensions.materialized(
      emb.filter(col(idCol) < idBound)
        .select(col(idCol).as("id"), ql.as("qv"),
          slice(ql, 1, prefixDims).as("tv"))
        .select(col("id"), col("qv"), col("tv"),
          aggregate(transform(col("qv"), x => x * x), lit(0L), _ + _).as("nf"),
          aggregate(transform(col("tv"), x => x * x), lit(0L), _ + _).as("nt")))
    def dot(a: String, b: String) =
      graft.functions.VectorFunctions.long_dot(col(a), col(b))
    val pairs = Extensions.materialized(base
      .select(col("id").as("qa"), col("qv").as("va"), col("tv").as("ta"),
        col("nf").as("nfa"), col("nt").as("nta"))
      .join(base.select(col("id").as("qb"), col("qv").as("vb"),
        col("tv").as("tb"), col("nf").as("nfb"), col("nt").as("ntb")),
        col("qa") =!= col("qb"))
      .select(col("qa"), col("qb"),
        round(lit(1e6) * (dot("va", "vb").cast("double") /
          (sqrt(col("nfa").cast("double")) * sqrt(col("nfb").cast("double")))), 0)
          .cast("long").as("simf"),
        round(lit(1e6) * (dot("ta", "tb").cast("double") /
          (sqrt(col("nta").cast("double")) * sqrt(col("ntb").cast("double")))), 0)
          .cast("long").as("simt")))
    def topk(simCol: String) = {
      val w = Window.partitionBy(col("qa")).orderBy(col(simCol).desc, col("qb"))
      pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select(col("qa"), col("qb"))
    }
    val overlap = topk("simf").join(topk("simt"), Seq("qa", "qb"), "left_semi")
      .groupBy(col("qa").as("id")).agg(count(lit(1)).as("n_overlap"))
    base.select(col("id"))
      .join(overlap, Seq("id"), "left_outer")
      .select(col("id").as("vec_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
  }

  def x292Matryoshka(s: SparkSession, dir: String): DataFrame =
    matryoshkaRecall(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")

  private val x292OracleSql: String = """
      WITH base AS (
        SELECT vec_id AS id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1e4, 0) AS BIGINT)) AS qv
        FROM embeddings WHERE vec_id < 600),
      bt AS (SELECT id, qv, qv[1:16] AS tv FROM base),
      nrm AS (SELECT id, qv, tv,
                     list_dot_product(qv, qv) AS nf,
                     list_dot_product(tv, tv) AS nt
              FROM bt),
      pairs AS (
        SELECT a.id AS qa, b.id AS qb,
               CAST(round(1e6 * (list_dot_product(a.qv, b.qv)
                 / (sqrt(a.nf) * sqrt(b.nf))), 0) AS BIGINT) AS simf,
               CAST(round(1e6 * (list_dot_product(a.tv, b.tv)
                 / (sqrt(a.nt) * sqrt(b.nt))), 0) AS BIGINT) AS simt
        FROM nrm a JOIN nrm b ON a.id <> b.id),
      topf AS (SELECT qa, qb FROM (
                 SELECT qa, qb,
                        row_number() OVER (PARTITION BY qa
                          ORDER BY simf DESC, qb) AS rk
                 FROM pairs) WHERE rk <= 10),
      topt AS (SELECT qa, qb FROM (
                 SELECT qa, qb,
                        row_number() OVER (PARTITION BY qa
                          ORDER BY simt DESC, qb) AS rk
                 FROM pairs) WHERE rk <= 10),
      ov AS (SELECT topf.qa AS id, CAST(count(*) AS BIGINT) AS n_overlap
             FROM topf JOIN topt ON topt.qa = topf.qa AND topt.qb = topf.qb
             GROUP BY topf.qa)
      SELECT b.id AS vec_id, coalesce(ov.n_overlap, 0) AS n_overlap
      FROM base b LEFT JOIN ov ON ov.id = b.id
      ORDER BY vec_id"""

  /** x289's oracle: x141's counting chain (same Gopher label replay,
    * same distinct-presence counting) with the MI formula in place of
    * chi² — rounding mirrors round4o (·1e4, round, /1e4) exactly.
    */
  private val x289OracleSql: String = """
      WITH d AS (SELECT doc_id, text, string_split(lower(text), ' ') AS tk FROM documents),
      f AS (SELECT doc_id, tk,
                   CAST(len(tk) AS BIGINT) AS n_words,
                   list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS sum_len,
                   len(list_filter(tk, x -> x IN ('the', 'a'))) AS n_stop,
                   CASE WHEN len(tk) >= 2
                        THEN list_transform(generate_series(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1])
                        ELSE [] END AS g2
            FROM d),
      r AS (SELECT doc_id, tk, n_words,
                   round(sum_len * 10000.0 / n_words, 0) / 10000.0 AS mean_word_len,
                   round(n_stop * 10000.0 / n_words, 0) / 10000.0 AS stop_ratio,
                   CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END AS dup2_frac
            FROM f),
      lab AS (SELECT doc_id, tk,
                CASE WHEN (n_words >= 50 AND n_words <= 100000)
                      AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                      AND stop_ratio <= 0.25 AND dup2_frac <= 0.2
                     THEN 1 ELSE 0 END AS y
              FROM r),
      dt AS (SELECT DISTINCT doc_id, u.w AS token, y
             FROM lab, UNNEST(tk) AS u(w) WHERE length(u.w) > 0),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
                     CAST(sum(y) AS BIGINT) AS p_total FROM lab),
      pt AS (SELECT token, CAST(count(*) AS BIGINT) AS ab,
                    CAST(sum(y) AS BIGINT) AS a
             FROM dt GROUP BY token HAVING count(*) >= 5),
      cells AS (SELECT token, ab, a, ab - a AS b,
                       p_total - a AS c,
                       n_total - p_total - (ab - a) AS d,
                       n_total, p_total
                FROM pt, tot),
      mi AS (SELECT token, ab, a,
          (CASE WHEN a > 0 THEN (CAST(a AS DOUBLE) / n_total)
            * ln(CAST(n_total AS DOUBLE) * a / (CAST(ab AS DOUBLE) * p_total))
            ELSE 0.0 END)
        + (CASE WHEN b > 0 THEN (CAST(b AS DOUBLE) / n_total)
            * ln(CAST(n_total AS DOUBLE) * b
                 / (CAST(ab AS DOUBLE) * (n_total - p_total))) ELSE 0.0 END)
        + (CASE WHEN c > 0 THEN (CAST(c AS DOUBLE) / n_total)
            * ln(CAST(n_total AS DOUBLE) * c
                 / (CAST(n_total - ab AS DOUBLE) * p_total)) ELSE 0.0 END)
        + (CASE WHEN d > 0 THEN (CAST(d AS DOUBLE) / n_total)
            * ln(CAST(n_total AS DOUBLE) * d
                 / (CAST(n_total - ab AS DOUBLE) * (n_total - p_total)))
            ELSE 0.0 END) AS mi0
        FROM cells)
      SELECT token, ab AS n_docs, a AS n_keep,
             round(mi0 * 10000.0, 0) / 10000.0 AS mi
      FROM mi
      ORDER BY round(mi0 * 10000.0, 0) / 10000.0 DESC, token
      LIMIT 50"""

  val entries: Seq[Entry] = Seq(
    Entry("x288_dbscan", x288Dbscan _, x288OracleSql),
    Entry("x289_token_mi", x289TokenMi _, x289OracleSql),
    Entry("x290_knn_hubness", x290KnnHubness _, x290OracleSql),
    Entry("x291_benford", x291Benford _, x291OracleSql),
    Entry("x292_matryoshka", x292Matryoshka _, x292OracleSql))
}
