package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Expected digests of query results, one `name<TAB>rows<TAB>sha256` line
  * per query.
  */
object DigestFile {
  def read(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, sha) = l.split("\t")
        n -> (rows.toLong, sha)
      }.toMap
}

/** The `ops_fixedcost` workload: closed loop, one client thread, each pass
  * runs a fixed query list through `SparkEntry.queries` in an order
  * shuffled by the seed. A query is timed from the operator call until its
  * rows are collected into the Spark driver; its digest is checked
  * afterwards against `expected(query)`.
  */
final class OpsWorkload(
    val name: String,
    queries: Seq[String],
    tablesDir: String,
    expected: Map[String, (Long, String)]) extends Workload {

  private val registry: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries
  require(queries.forall(registry.contains),
    s"unknown queries: ${queries.filterNot(registry.contains).mkString(", ")}")

  /** Digests seen in this run, by query. */
  val seen = scala.collection.mutable.Map[String, (Long, String)]()
  val queryS = scala.collection.mutable.Map[String, Vector[Double]]()

  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  def prepare(ctx: Ctx): Unit = ()

  def pass(ctx: Ctx, idx: Int, timed: Boolean): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    order(ctx.seed, idx).foreach { q =>
      ctx.attempted += 1
      val t0 = System.nanoTime()
      val result = try {
        Right(t.span("query", q) {
          val df = t.span("ops.build", q)(registry(q)(spark, tablesDir))
          val rows = t.span("query.collect", q)(df.collect())
          (df.schema, rows)
        })
      } catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      result match {
        case Left(e) =>
          ctx.fail(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right((schema, rows)) =>
          val d = Digest.of(schema, rows.toSeq)
          if (seen.get(q).exists(_ != d)) ctx.fail(s"$q: digest changed between passes")
          else expected.get(q) match {
            case None => ctx.fail(s"$q: no expected digest")
            case Some(exp) if exp != d =>
              ctx.fail(s"$q: got ${d._1} rows ${d._2.take(12)}, expected ${exp._1} rows ${exp._2.take(12)}")
            case _ =>
          }
          seen(q) = d
          if (timed) {
            ctx.op(q, dt * 1000.0)
            queryS(q) = queryS.getOrElse(q, Vector.empty) :+ dt
          }
      }
      reset(spark)
    }
  }

  /** Free cached blocks and collect garbage between queries, outside the
    * timed region, so no query pays for the one before it.
    */
  private def reset(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  def layers(ctx: Ctx, spans: Seq[Span], o: Observed): Map[String, Double] = Map.empty

  def extra(ctx: Ctx): Seq[(String, String)] = {
    val all = queryS.values.flatten.toSeq
    Seq(
      "query_s" -> Stats.summaryJson(all),
      "per_query_p50_s" -> Json.obj(queryS.toSeq.sortBy(_._1).map { case (q, v) =>
        q -> Json.num(Stats.median(v)) }),
      // in the format of digests/*.tsv, so that a checked run can refresh them
      "digests_seen" -> Json.obj(seen.toSeq.sortBy(_._1).map { case (q, (rows, sha)) =>
        q -> Json.str(s"$rows\t$sha") }))
  }
}
