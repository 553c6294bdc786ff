package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Sixty-eighth extension batch — grading the classifiers we already
  * ship:
  *
  *  - language-ID confusion matrix (x168): the x08 stop-word language
    *  detector scored against the corpus's labeled `lang` column —
  *    per (labeled, predicted) cell counts, row recall, and overall
  *    accuracy. x08 ships predictions; this ships its report card.
  *  - centroid silhouette (x169): clustering quality of the labeled
  *    embedding space in the CENTROID form — s = (b − a)/max(a, b)
  *    with a = distance to own-label centroid, b = nearest other
  *    centroid (Rousseeuw 1987's silhouette, centroid approximation —
  *    O(n·L) instead of O(n²), the only form that scales).
  *
  * Determinism discipline: x168 is exact counts (the x08 tie rule is
  * its fixed priority order); x169 quantizes embedding dims to micro
  * longs BEFORE any arithmetic — centroids are half-away means,
  * squared distances exact longs, and each point's silhouette
  * micro-quantizes before the per-label sum.
  */
object Extensions68 {

  // ---- x168: language-ID confusion matrix --------------------------------------

  /** Confusion matrix of the x08 stop-word language detector against
    * the labeled `langCol`: one row per observed (labeled, predicted)
    * cell — (labeled_lang, pred_lang, n, row_frac, accuracy)
    * with row_frac = n / labeled-row total and the overall accuracy
    * repeated (the x120 self-contained-table convention).
    *
    * Scale: one corpus map pass (the score expressions), one cell
    * hash-agg (≤ langs² rows); totals via windows over cells.
    */
  def langIdConfusion(
      corpus: DataFrame, textCol: String, langCol: String): DataFrame = {
    val tk = Extensions.toks(col(textCol))
    def score(words: Seq[String]): Column =
      size(filter(tk, t => t.isin(words.map(x => x: Any): _*)))
    val sEn = score(Extensions.StopWords("en"))
    val sDe = score(Extensions.StopWords("de"))
    val sFr = score(Extensions.StopWords("fr"))
    val sEs = score(Extensions.StopWords("es"))
    val pred = corpus
      .select(col(langCol).as("labeled_lang"),
        sEn.as("s_en"), sDe.as("s_de"), sFr.as("s_fr"), sEs.as("s_es"))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
          col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
    val cells = pred.groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val wRow = Window.partitionBy(col("labeled_lang"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    cells
      .withColumn("row_n", sum(col("n")).over(wRow))
      .withColumn("tot", sum(col("n")).over(wAll))
      .withColumn("hit", sum(when(col("labeled_lang") === col("pred_lang"),
        col("n")).otherwise(0L)).over(wAll))
      .select(col("labeled_lang"), col("pred_lang"), col("n"),
        Extensions.round4o(col("n") / col("row_n")).as("row_frac"),
        Extensions.round4o(col("hit") / col("tot")).as("accuracy"))
  }

  /** x168: the x08 detector's report card on the documents fixture. */
  def x168LangIdEval(s: SparkSession, dir: String): DataFrame =
    langIdConfusion(Tables.load(s, dir, "documents"), "text", "lang")

  private val x168OracleSql: String = """
      WITH p AS (
        SELECT lang AS labeled_lang,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('the', 'and', 'of', 'is', 'a'))) AS s_en,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('der', 'die', 'das', 'und', 'ist'))) AS s_de,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('le', 'la', 'les', 'et', 'est'))) AS s_fr,
               len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('el', 'los', 'y', 'que', 'es'))) AS s_es
        FROM documents),
      pr AS (SELECT labeled_lang,
               CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                    WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                    WHEN s_fr >= s_es THEN 'fr'
                    ELSE 'es' END AS pred_lang
             FROM p),
      cells AS (SELECT labeled_lang, pred_lang, count(*) AS n
                FROM pr GROUP BY 1, 2),
      t AS (SELECT *,
              CAST(sum(n) OVER (PARTITION BY labeled_lang) AS BIGINT) AS row_n,
              CAST(sum(n) OVER () AS BIGINT) AS tot,
              CAST(sum(CASE WHEN labeled_lang = pred_lang THEN n ELSE 0 END)
                OVER () AS BIGINT) AS hit
            FROM cells)
      SELECT labeled_lang, pred_lang, n,
             round(n * 1.0 / row_n * 10000.0, 0) / 10000.0 AS row_frac,
             round(hit * 1.0 / tot * 10000.0, 0) / 10000.0 AS accuracy
      FROM t
      ORDER BY labeled_lang, pred_lang"""

  // ---- x169: centroid silhouette -----------------------------------------------

  /** Centroid-form silhouette of a labeled embedding space: per point,
    * a = ||v − c_own||, b = min over other labels of ||v − c_l||,
    * s = (b − a)/max(a, b); per label the mean silhouette. Output per
    * label: (label, n, mean_silhouette) — well-separated
    * clusters read near 1, overlapping ones near 0, misassigned
    * points negative.
    *
    * Exactness: dims quantize to micro longs FIRST; centroids are
    * sign-split half-away means per (label, dim); squared distances
    * are exact long sums; the one sqrt/ratio per (point, label) is a
    * shared double expression, and each silhouette micro-quantizes
    * before the per-label sum (order-free).
    *
    * Scale: centroids = one (label, dim) hash-agg (≤ labels·dims
    * rows) reassembled and broadcast; each point then scores against
    * ≤ labels centroid arrays map-side — O(n·L·d), never O(n²).
    */
  def centroidSilhouette(
      embeddings: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val q = transform(col(vecCol),
      v => round(v.cast("double") * lit(1e6), 0).cast("long"))
    val base = Extensions.materialized(
      embeddings.select(col(idCol).as("vid"), col(labelCol).as("label"),
        q.as("qv")))
    val cent = base
      .select(col("label"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cn"))
      .select(col("label"), col("dim"),
        expr("CAST(sign(sx) AS BIGINT) * ((abs(sx) * 2 + cn) DIV (2 * cn))")
          .as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("cs"))
      .select(col("label").as("clabel"),
        transform(col("cs"), s => s.getField("c")).as("cvec"))
    val d2 = base.crossJoin(broadcast(cent))
      .withColumn("dist2", aggregate(
        zip_with(col("qv"), col("cvec"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, z) => acc + z))
    val ab = d2.groupBy(col("vid"), col("label")).agg(
      min(when(col("label") === col("clabel"), col("dist2"))).as("a2"),
      min(when(col("label") =!= col("clabel"), col("dist2"))).as("b2"))
    val sil = ab
      .withColumn("a", sqrt(col("a2").cast("double")))
      .withColumn("b", sqrt(col("b2").cast("double")))
      .withColumn("sq", round(lit(1e6) * (col("b") - col("a")) /
        greatest(col("a"), col("b")), 0).cast("long"))
    sil.groupBy(col("label")).agg(
      count(lit(1)).as("n"), sum(col("sq")).as("ssum"))
      .select(col("label"), col("n"),
        expr("(CAST(sign(ssum) AS BIGINT) * ((abs(ssum) * 2 + (100 * n)) DIV (2 * (100 * n)))) / 10000.0D")
          .as("mean_silhouette"))
  }

  /** x169: cluster quality of the labeled fixture embeddings. */
  def x169Silhouette(s: SparkSession, dir: String): DataFrame =
    centroidSilhouette(Tables.load(s, dir, "embeddings"), "vec_id",
      "embedding", "label")

  private val x169OracleSql: String = """
      WITH base AS (
        SELECT vec_id AS vid, label,
               list_transform(embedding::DOUBLE[],
                 v -> CAST(round(v * 1e6, 0) AS BIGINT)) AS qv
        FROM embeddings),
      px AS (SELECT vid, label, u.i AS dim, qv[u.i] AS x
             FROM base, UNNEST(generate_series(1, len(qv))) AS u(i)),
      cd AS (SELECT label, dim,
               CAST(sum(x) AS BIGINT) AS sx, count(*) AS cn
             FROM px GROUP BY label, dim),
      cc AS (SELECT label, dim,
               CAST(sign(sx) AS BIGINT) * ((abs(sx) * 2 + cn) // (2 * cn)) AS c
             FROM cd),
      cv AS (SELECT label AS clabel, list(c ORDER BY dim) AS cvec
             FROM cc GROUP BY label),
      d2 AS (SELECT b.vid, b.label, c.clabel,
               CAST(list_sum(list_transform(generate_series(1, len(b.qv)),
                 i -> (b.qv[i] - c.cvec[i]) * (b.qv[i] - c.cvec[i]))) AS BIGINT) AS dist2
             FROM base b CROSS JOIN cv c),
      ab AS (SELECT vid, label,
               min(CASE WHEN label = clabel THEN dist2 END) AS a2,
               min(CASE WHEN label <> clabel THEN dist2 END) AS b2
             FROM d2 GROUP BY vid, label),
      sil AS (SELECT label,
                CAST(round(1e6 * (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                  / greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))), 0) AS BIGINT) AS sq
              FROM ab)
      SELECT label, count(*) AS n,
             (CAST(sign(sum(sq)) AS BIGINT)
               * ((abs(CAST(sum(sq) AS BIGINT)) * 2 + (100 * count(*)))
                  // (2 * (100 * count(*))))) / 10000.0 AS mean_silhouette
      FROM sil
      GROUP BY label
      ORDER BY label"""

  val entries: Seq[Entry] = Seq(
    Entry("x168_langid_eval", x168LangIdEval _, x168OracleSql),
    Entry("x169_silhouette", x169Silhouette _, x169OracleSql))
}
