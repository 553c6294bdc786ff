package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.model.Tables

/** One-hundred-thirty-sixth extension batch — retrieval fusion, the
  * clustering-eval card, and the causal tier's refutation check:
  *
  *  - RECIPROCAL-RANK FUSION (x307): Cormack et al. 2009's RRF —
  *    Σ_systems 1/(k₀+rank), the default hybrid-retrieval combiner
  *    (BM25 ⊕ dense/Jaccard) every RAG stack ships. Each reciprocal
  *    is half-up micro BEFORE the sum, so fusion is exact integer.
  *  - CLUSTER AGREEMENT (x308): ARI (Hubert & Arabie 1985) and
  *    arithmetic-mean NMI between a clustering and ground-truth
  *    labels. ARI is a pure rational of pair counts — computed in
  *    driver BigInt from the bounded contingency (C(n,2)-scale
  *    products exceed DECIMAL(38) near 10^10 rows; the x132 rule).
  *    NMI's ln terms are micro-quantized per cell before the sums.
  *  - PLACEBO REFUTATION (x309): the DoWhy-style sanity check — rerun
  *    the x274 IPW estimator with an md5-derived pseudo-treatment at
  *    the observed treatment rate; a real design reads ≈ 0 on the
  *    placebo. Both ATTs on one row, same features, same outcome.
  *
  * Scale: x307 is rank-table algebra (O(q·k) rows); x308 is one
  * corpus assignment pass + a ≤ cells·labels contingency (the bounded
  * collect discipline); x309 is two x274 chains — 2·iters bounded
  * map+agg passes.
  */
object Extensions136 {

  // ---- x307: reciprocal-rank fusion -------------------------------------------------

  /** Fuse per-query rankings (each (q_id, c_id, rk)) by RRF:
    * rrf(d) = Σ_s halfup(10^6, k₀ + rk_s(d)). Output (q_id, c_id,
    * rrf_micro, rk), rk ≤ topK, ties (rrf desc, c_id asc).
    */
  def rrfFusion(
      rankings: Seq[DataFrame], k0: Long = 60L, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty && k0 >= 1L && topK >= 1)
    val u = rankings.map(_.select(col("q_id"), col("c_id"), col("rk")))
      .reduce(_ unionAll _)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("c_id"))
    u.select(col("q_id"), col("c_id"),
        expr(s"(1000000 * 2 + ($k0 + rk)) DIV (2 * ($k0 + rk))").as("r"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("r")).as("rrf_micro"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("c_id"), col("rrf_micro"),
        col("rk").cast("long").as("rk"))
  }

  /** x307: BM25 ⊕ 3-gram-Jaccard retrieval fused at k₀ = 60 — the
    * x131 (RBO) system pair, so the agreement metric and the fusion
    * read the same two rankings.
    */
  def x307RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val q = d.filter(col("doc_id") < 5)
    val a = Extensions4.bm25TopK(d, q, "doc_id", "text", k = 5)
      .select(col("q_id"), col("c_id"), col("rk"))
    val b = Extensions4.jaccardTopK(d, q, "doc_id", "text", k = 5,
        shingleSize = 3)
      .select(col("q_id"), col("c_id"), col("rk"))
    rrfFusion(Seq(a, b), k0 = 60L, topK = 5)
  }

  /** The oracle reuses x131's proven BM25/Jaccard ranking replays and
    * fuses with the identical reciprocal quantization.
    */
  private val x307OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      tf AS (SELECT doc_id AS c_id, len(tk) AS dl, u.term, count(*) AS tf
             FROM d, UNNEST(tk) AS u(term)
             GROUP BY 1, 2, 3),
      stats AS (SELECT count(*) AS n_docs, sum(len(tk)) AS sum_dl FROM d),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      qt AS (SELECT doc_id AS q_id, u.term
             FROM d, UNNEST(list_distinct(tk)) AS u(term)
             WHERE doc_id < 5),
      bscored AS (
        SELECT qt.q_id, tf.c_id,
               round(sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * (1.2 + 1.0)
                     / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl * s.n_docs / s.sum_dl))), 4)
                 AS score
        FROM qt
        JOIN tf ON tf.term = qt.term AND tf.c_id <> qt.q_id
        JOIN df ON df.term = qt.term
        CROSS JOIN stats s
        GROUP BY 1, 2),
      bm25r AS (SELECT q_id, c_id, CAST(rk AS BIGINT) AS rk FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk
          FROM bscored)
        WHERE rk <= 5),
      sh0 AS (SELECT doc_id,
                     CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
                          ELSE array_to_string(tk, ' ') END AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(tk) >= 3 THEN len(tk)-2 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      qsh AS (SELECT doc_id, sh FROM sh WHERE doc_id < 5),
      hits AS (SELECT q.doc_id AS q_id, c.doc_id AS c_id, count(*) AS shared
               FROM sh c JOIN qsh q ON c.sh = q.sh AND c.doc_id <> q.doc_id
               GROUP BY 1, 2),
      jscored AS (SELECT q_id, c_id,
                         round(shared * 1.0 / (cq.n_sh + cc.n_sh - shared) * 10000.0, 0) / 10000.0 AS jaccard
                  FROM hits
                  JOIN cnt cq ON cq.doc_id = q_id
                  JOIN cnt cc ON cc.doc_id = c_id),
      jacr AS (SELECT q_id, c_id, CAST(rk AS BIGINT) AS rk FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY jaccard DESC, c_id) AS rk
          FROM jscored)
        WHERE rk <= 5),
      u AS (SELECT q_id, c_id, rk FROM bm25r
            UNION ALL SELECT q_id, c_id, rk FROM jacr),
      f AS (SELECT q_id, c_id,
              CAST(sum((1000000 * 2 + (60 + rk)) // (2 * (60 + rk))) AS BIGINT)
                AS rrf_micro
            FROM u GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY rrf_micro DESC, c_id) AS rk
            FROM f)
      SELECT q_id, c_id, rrf_micro, CAST(rk AS BIGINT) AS rk
      FROM r WHERE rk <= 5 ORDER BY q_id, rk"""

  // ---- x308: cluster agreement (ARI + NMI) ------------------------------------------

  /** One-row agreement card between a clustering column and a label
    * column: (n, n_clusters, n_labels, ari_micro, nmi_micro).
    *
    * ARI = 2(C(n,2)·Σ_ij C(n_ij,2) − Σa·Σb) /
    *       (C(n,2)·(Σa+Σb) − 2·Σa·Σb), an exact rational of pair
    * counts — composed in driver BigInt from the collected
    * contingency (≤ clusters·labels rows, the bounded-series
    * discipline; the cross products pass DECIMAL(38) near 10^10
    * rows). NMI = 2I/(H_a+H_b) with each ln term micro-quantized
    * (HALF_UP) before its weighted sum, matching the SQL replay term
    * by term. Degenerate partitions (both trivial) read 10^6.
    */
  def clusterAgreement(
      assigned: DataFrame, clusterCol: String, labelCol: String): DataFrame = {
    val spark = assigned.sparkSession
    // Bounded collect: pull at most cap+1 contingency cells in ONE pass
    // (limit is order-arbitrary but the fold below is order-insensitive)
    // and loud-refuse when the clustering is near-unique — the
    // contingency, not the input, is what must fit on the driver.
    val contCap = 100000
    val cont = assigned
      .groupBy(col(clusterCol).as("c"), col(labelCol).as("l"))
      .agg(count(lit(1)).as("nij"))
      .limit(contCap + 1)
      .collect().map(r => (r.get(0).toString, r.get(1).toString, r.getLong(2)))
    require(cont.length <= contCap,
      s"clusterAgreement: contingency exceeds $contCap cells " +
        "(near-unique clustering?) — coarsen the cluster column first")
    require(cont.nonEmpty, "clusterAgreement: empty input")
    val n = cont.map(_._3).sum
    val a = cont.groupBy(_._1).map { case (_, rs) => rs.map(_._3).sum }.toSeq
    val b = cont.groupBy(_._2).map { case (_, rs) => rs.map(_._3).sum }.toSeq
    def c2(m: BigInt): BigInt = m * (m - 1) / 2
    val cn2 = c2(n)
    val sij = cont.map(r => c2(r._3)).sum
    val sa = a.map(x => c2(x)).sum
    val sb = b.map(x => c2(x)).sum
    val ariNum = (cn2 * sij - sa * sb) * 2
    val ariDen = cn2 * (sa + sb) - sa * sb * 2
    def sdivBig(num: BigInt, den: BigInt): Long = {
      val s = if (num.sign * den.sign < 0) BigInt(-1) else BigInt(1)
      (s * ((num.abs * 2 + den.abs) / (den.abs * 2))).toLong
    }
    val ari = if (ariDen == 0) 1000000L else sdivBig(ariNum * 1000000, ariDen)
    def lnMicro(num: BigInt, den: BigInt): Long =
      BigDecimal(1e6 * math.log(num.toDouble / den.toDouble))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val aByKey = cont.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._3).sum }
    val bByKey = cont.groupBy(_._2).map { case (k, rs) => k -> rs.map(_._3).sum }
    val iSum = cont.map { case (ck, lk, nij) =>
      BigInt(nij) * lnMicro(BigInt(n) * nij, BigInt(aByKey(ck)) * bByKey(lk))
    }.sum
    val haSum = aByKey.values.map(x => BigInt(x) * lnMicro(n, x)).sum
    val hbSum = bByKey.values.map(x => BigInt(x) * lnMicro(n, x)).sum
    // NMI = 2I/(Ha+Hb): the per-row n denominators cancel, so compose
    // directly from the weighted micro sums (still exact integers)
    val nmi = if (haSum + hbSum == 0) 1000000L
      else sdivBig(iSum * 2 * 1000000, haSum + hbSum)
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(n, a.size.toLong, b.size.toLong, ari, nmi)),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("n_clusters", LongType, nullable = false),
        StructField("n_labels", LongType, nullable = false),
        StructField("ari_micro", LongType, nullable = false),
        StructField("nmi_micro", LongType, nullable = false))))
  }

  /** x308: how well do the x16 IVF coarse cells recover the embedding
    * labels — the eval that closes the clustering tier (silhouette
    * x169 measures geometry; this measures truth).
    */
  def x308ClusterAgreement(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = broadcast(
      base.filter(col("vec_id") < Extensions2.IvfCells)
        .select(col("vec_id").as("cell"), col("embedding").as("cvec")))
    val assigned = Extensions2.assignCells(base, cents)
      .join(Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label")), Seq("vec_id"))
    clusterAgreement(assigned, "cell", "label")
  }

  private val x308OracleSql: String = s"""
      WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
      cents AS (SELECT vec_id AS cell, v AS cvec FROM base WHERE vec_id < ${Extensions2.IvfCells}),
      assigned AS (
        SELECT vec_id, label, cell FROM (
          SELECT b.vec_id, b.label, c.cell,
                 row_number() OVER (PARTITION BY b.vec_id
                   ORDER BY round(list_cosine_similarity(b.v, c.cvec), 6) DESC, c.cell) AS rk
          FROM base b CROSS JOIN cents c) sub
        WHERE rk = 1),
      cont AS (SELECT cell AS c, label AS l, CAST(count(*) AS HUGEINT) AS nij
               FROM assigned GROUP BY 1, 2),
      nn AS (SELECT sum(nij) AS n FROM cont),
      aa AS (SELECT c, sum(nij) AS ai FROM cont GROUP BY c),
      bb AS (SELECT l, sum(nij) AS bj FROM cont GROUP BY l),
      sums AS (SELECT
          (SELECT sum(nij * (nij - 1) / 2) FROM cont) AS sij,
          (SELECT sum(ai * (ai - 1) / 2) FROM aa) AS sa,
          (SELECT sum(bj * (bj - 1) / 2) FROM bb) AS sb,
          (SELECT n * (n - 1) / 2 FROM nn) AS cn2,
          (SELECT count(*) FROM aa) AS nc,
          (SELECT count(*) FROM bb) AS nl,
          (SELECT n FROM nn) AS n),
      ari AS (SELECT n, nc, nl,
          CASE WHEN cn2 * (sa + sb) - sa * sb * 2 = 0 THEN 1000000
               ELSE CAST(sign((cn2 * sij - sa * sb) * 2) AS HUGEINT)
                 * ((abs((cn2 * sij - sa * sb) * 2) * 1000000 * 2
                     + abs(cn2 * (sa + sb) - sa * sb * 2))
                    // (2 * abs(cn2 * (sa + sb) - sa * sb * 2)))
          END AS ari_micro
        FROM sums),
      it AS (SELECT sum(nij * CAST(round(1e6 * ln((nn.n * nij) * 1.0 / (aa.ai * bb.bj)), 0) AS HUGEINT)) AS isum
             FROM cont JOIN aa ON aa.c = cont.c JOIN bb ON bb.l = cont.l
             CROSS JOIN nn),
      ha AS (SELECT sum(ai * CAST(round(1e6 * ln(nn.n * 1.0 / ai), 0) AS HUGEINT)) AS h
             FROM aa CROSS JOIN nn),
      hb AS (SELECT sum(bj * CAST(round(1e6 * ln(nn.n * 1.0 / bj), 0) AS HUGEINT)) AS h
             FROM bb CROSS JOIN nn)
      SELECT CAST(ari.n AS BIGINT) AS n,
             CAST(ari.nc AS BIGINT) AS n_clusters,
             CAST(ari.nl AS BIGINT) AS n_labels,
             CAST(ari.ari_micro AS BIGINT) AS ari_micro,
             CAST(CASE WHEN ha.h + hb.h = 0 THEN 1000000
                  ELSE CAST(sign(it.isum * 2 * 1000000) AS HUGEINT)
                    * ((abs(it.isum * 2 * 1000000) * 2 + abs(ha.h + hb.h))
                       // (2 * abs(ha.h + hb.h)))
                  END AS BIGINT) AS nmi_micro
      FROM ari, it, ha, hb"""

  // ---- x309: placebo-treatment refutation --------------------------------------------

  /** Refutation card: the x274 IPW ATT beside the SAME estimator run
    * on an md5 pseudo-treatment drawn at the observed treatment rate.
    * Output one row: (n_treated, att_micro, n_treated_placebo,
    * att_placebo_micro) — a sound design collapses toward 0 on the
    * placebo.
    */
  def placeboRefutation(
      labeled: DataFrame, idCol: String, textCol: String,
      treatCol: String, outcomeCol: String, iters: Int = 8): DataFrame = {
    import graft.functions.HashFunctions.md5_bucket60
    // r14 (guide §2.4): the card used to run ipwAtt twice — two full
    // featurization scans of the corpus and 2·iters training passes.
    // The feature vector x never depends on the treatment label, so
    // featurize ONCE, train the real and placebo propensities fused
    // (one agg per iteration), and score both off the same table.
    // Identical numbers: the placebo label is the same md5 pseudo-
    // assignment (rate from the same Σtreat/n over the same rows —
    // the featurization join is 1:1 on the id), and each chain's
    // gradient sums are the same exact-integer term multisets.
    // r15 (ADVICE): the outcome rides the featurization PROJECTION
    // instead of a doc_id join-back — no join to be 1:1 about (the
    // treated rate is now computed over exactly the labeled rows by
    // construction), and one join fewer in the plan. Same columns,
    // same values: hashedFeatures is this same projection minus yo.
    val feat = Extensions.materialized(
      Extensions26.hashedFeaturesCarry(labeled, idCol, textCol, treatCol,
        Seq(col(outcomeCol).cast("long").as("yo"))))
    val tot = feat.agg(sum(col("y")).as("st"), count(lit(1)).as("n"))
      .collect()(0)
    val rate = (1000L * tot.getLong(0) * 2 + tot.getLong(1)) / (2 * tot.getLong(1))
    val ptreat = (pmod(md5_bucket60(concat(lit("pl:"), col("doc_id").cast("string"))),
      lit(1000L)) < lit(rate)).cast("long")
    val trained = Extensions26.trainLogregMultiTrace(feat, Seq(
      Extensions26.LogregSpec(None, col("y")),
      Extensions26.LogregSpec(None, ptreat)),
      iters = iters)
    val real = Extensions123.ipwAttScored(feat, col("y"), trained.traces(0).last)
      .select(col("n_treated"), col("att_micro"))
    val placebo = Extensions123.ipwAttScored(feat, ptreat, trained.traces(1).last)
      .select(col("n_treated").as("n_treated_placebo"),
        col("att_micro").as("att_placebo_micro"))
    real.crossJoin(placebo)
  }

  /** x309: the x274 question refuted — same features, same outcome,
    * treatment replaced by an md5 coin at the observed rate.
    */
  def x309Placebo(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        carryCols = Seq("text", "lang"))
      .select(col("doc_id"), col("text"),
        (col("lang") === "en").cast("long").as("treat"),
        col("keep").cast("long").as("outcome"))
    placeboRefutation(labeled, "doc_id", "text", "treat", "outcome")
  }

  private val x309OracleSql: String = {
    val F = Extensions26.NumBuckets
    val head = s"""WITH d AS (
      SELECT doc_id, lang, text, string_split(lower(text), ' ') AS tk
      FROM documents),
    f0 AS (SELECT doc_id, lang, tk,
              CAST(len(tk) AS BIGINT) AS n_words,
              list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS sum_len,
              len(list_filter(tk, t -> t IN ('the', 'a'))) AS n_stop,
              CASE WHEN len(tk) >= 2
                   THEN list_transform(generate_series(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1])
                   ELSE [] END AS g2
       FROM d),
    lab AS (SELECT doc_id, lang, tk,
        CASE WHEN n_words BETWEEN 50 AND 100000
              AND round(sum_len * 10000.0 / n_words, 0) / 10000.0 BETWEEN 3.0 AND 10.0
              AND round(n_stop * 10000.0 / n_words, 0) / 10000.0 <= 0.25
              AND (CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END) <= 0.2
             THEN 1 ELSE 0 END AS yo
        FROM f0),
    feat AS MATERIALIZED (
      SELECT doc_id, CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
             CAST(yo AS BIGINT) AS yo,
             list_append(list_transform(generate_series(0, ${F - 1}),
               j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)), CAST(1 AS BIGINT)) AS x
      FROM (SELECT doc_id, lang, yo,
                   list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $F) AS bks
            FROM lab)),
    rt AS (SELECT (1000 * sum(y) * 2 + count(*)) // (2 * count(*)) AS rate FROM feat),
    feat2 AS MATERIALIZED (
      SELECT doc_id,
             CAST(CASE WHEN ('0x' || substr(md5('pl:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
                       < (SELECT rate FROM rt) THEN 1 ELSE 0 END AS BIGINT) AS y,
             yo, x
      FROM feat)"""
    val eChain = Extensions117.chainG("e_", 8, "TRUE")
    val pChain = Extensions117.chainG("p_", 8, "TRUE", "feat2")
    def sigOf(w: String): String =
      s"""least(greatest(CAST(round(1e6 / (1.0 + exp(
          -CAST(list_sum(list_transform(generate_series(1, ${F + 1}),
            j -> $w.w[j] * f.x[j])) AS BIGINT) / 1e6)), 0) AS BIGINT),
          10000), 990000)"""
    s"""$head,$eChain,$pChain,
    scr AS (SELECT f.y AS t, f.yo, ${sigOf("we")} AS e
            FROM feat f, e_w8 we),
    scp AS (SELECT f.y AS t, f.yo, ${sigOf("wp")} AS e
            FROM feat2 f, p_w8 wp),
    wr AS (SELECT t, yo,
             (e * 1000000 * 2 + (1000000 - e)) // (2 * (1000000 - e)) AS wm
           FROM scr),
    wp2 AS (SELECT t, yo,
             (e * 1000000 * 2 + (1000000 - e)) // (2 * (1000000 - e)) AS wm
           FROM scp),
    agr AS (SELECT CAST(sum(t) AS BIGINT) AS n_treated,
              CAST((sum(t * yo) * 1000000 * 2 + sum(t)) // (2 * sum(t)) AS BIGINT)
                - CAST((sum((1 - t) * wm * yo) * 1000000 * 2 + sum((1 - t) * wm))
                       // (2 * sum((1 - t) * wm)) AS BIGINT) AS att_micro
            FROM wr),
    agp AS (SELECT CAST(sum(t) AS BIGINT) AS n_treated_placebo,
              CAST((sum(t * yo) * 1000000 * 2 + sum(t)) // (2 * sum(t)) AS BIGINT)
                - CAST((sum((1 - t) * wm * yo) * 1000000 * 2 + sum((1 - t) * wm))
                       // (2 * sum((1 - t) * wm)) AS BIGINT) AS att_placebo_micro
            FROM wp2)
    SELECT n_treated, att_micro, n_treated_placebo, att_placebo_micro
    FROM agr, agp"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x307_rrf_fusion", x307RrfFusion _, x307OracleSql),
    Entry("x308_cluster_agreement", x308ClusterAgreement _, x308OracleSql),
    Entry("x309_placebo_refutation", x309Placebo _, x309OracleSql))
}
