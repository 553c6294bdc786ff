package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.ops._

/** Entry points: the flagship query ([[entry]]) and the query registry
  * ([[queries]] runs a query by name, [[oracleSql]] gives its DuckDB oracle).
  *
  * The engine re-expresses the reference CQRS system
  * (robertBrem/pokertracker-cassandra-st) Spark-first: an append-only event
  * log + latest-state materialization (the query service's read model,
  * reference start_container.sh:95), plus the full relational / streaming /
  * data-pipeline operator inventory of SURVEY §2.
  *
  * Each query module declares its queries once, as `entries` (name, runner,
  * oracle SQL); the registry below lists each module once and refuses a
  * name declared twice.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * "Current state of every aggregate" — the reference's findAll
    * (PlayerResourceIT.java:164-171) as one Spark query.
    */
  def entry(spark: SparkSession): DataFrame =
    EventSourcing.latestState(spark, "/root/testdata/sf0.001")

  // module registry as a FLAT Seq flattened at runtime — a literal
  // a ++ b ++ c ... chain over 100+ modules nests the typer past the
  // compiler's default thread stack (StackOverflowError at -Xss1m once
  // the 100th module landed); a Seq literal is one flat application
  private val modules: Seq[Seq[Entry]] = Seq(
    Relational.entries,
    Relational2.entries,
    Relational3.entries,
    Relational4.entries,
    EventSourcing.entries,
    Extensions.entries,
    Extensions2.entries,
    Extensions3.entries,
    Extensions4.entries,
    Extensions5.entries,
    Extensions6.entries,
    Extensions7.entries,
    Extensions8.entries,
    Extensions9.entries,
    Extensions10.entries,
    Extensions11.entries,
    Extensions12.entries,
    Extensions13.entries,
    Extensions14.entries,
    Extensions15.entries,
    Extensions16.entries,
    Extensions17.entries,
    Extensions18.entries,
    Extensions19.entries,
    Extensions20.entries,
    Extensions21.entries,
    Extensions22.entries,
    Extensions23.entries,
    Extensions24.entries,
    Extensions25.entries,
    Extensions26.entries,
    Extensions27.entries,
    Extensions28.entries,
    Extensions29.entries,
    Extensions30.entries,
    Extensions31.entries,
    Extensions32.entries,
    Extensions33.entries,
    Extensions34.entries,
    Extensions35.entries,
    Extensions36.entries,
    Extensions37.entries,
    Extensions38.entries,
    Extensions39.entries,
    Extensions40.entries,
    Extensions41.entries,
    Extensions42.entries,
    Extensions43.entries,
    Extensions44.entries,
    Extensions45.entries,
    Extensions46.entries,
    Extensions47.entries,
    Extensions48.entries,
    Extensions49.entries,
    Extensions50.entries,
    Extensions51.entries,
    Extensions52.entries,
    Extensions53.entries,
    Extensions54.entries,
    Extensions55.entries,
    Extensions56.entries,
    Extensions57.entries,
    Extensions58.entries,
    Extensions59.entries,
    Extensions60.entries,
    Extensions61.entries,
    Extensions62.entries,
    Extensions63.entries,
    Extensions64.entries,
    Extensions65.entries,
    Extensions66.entries,
    Extensions67.entries,
    Extensions68.entries,
    Extensions69.entries,
    Extensions70.entries,
    Extensions71.entries,
    Extensions72.entries,
    Extensions73.entries,
    Extensions74.entries,
    Extensions75.entries,
    Extensions76.entries,
    Extensions77.entries,
    Extensions78.entries,
    Extensions79.entries,
    Extensions80.entries,
    Extensions81.entries,
    Extensions82.entries,
    Extensions83.entries,
    Extensions84.entries,
    Extensions85.entries,
    Extensions86.entries,
    Extensions87.entries,
    Extensions88.entries,
    Extensions89.entries,
    Extensions90.entries,
    Extensions91.entries,
    Extensions92.entries,
    Extensions93.entries,
    Extensions94.entries,
    Extensions95.entries,
    Extensions96.entries,
    Extensions97.entries,
    Extensions98.entries,
    Extensions99.entries,
    Extensions100.entries,
    Extensions101.entries,
    Extensions102.entries,
    Extensions103.entries,
    Extensions104.entries,
    Extensions105.entries,
    Extensions106.entries,
    Extensions107.entries,
    Extensions108.entries,
    Extensions109.entries,
    Extensions110.entries,
    Extensions111.entries,
    Extensions112.entries,
    Extensions113.entries,
    Extensions114.entries,
    Extensions115.entries,
    Extensions116.entries,
    Extensions117.entries,
    Extensions118.entries,
    Extensions119.entries,
    Extensions120.entries,
    Extensions121.entries,
    Extensions122.entries,
    Extensions123.entries,
    Extensions124.entries,
    Extensions125.entries,
    Extensions126.entries,
    Extensions127.entries,
    Extensions128.entries,
    Extensions129.entries,
    Extensions130.entries,
    Extensions131.entries,
    Extensions132.entries,
    Extensions133.entries,
    Extensions134.entries,
    Extensions135.entries,
    Extensions136.entries,
    Extensions137.entries,
    Extensions138.entries,
    Extensions139.entries,
    Extensions140.entries,
    Extensions141.entries,
    Extensions142.entries,
    Extensions143.entries,
    Extensions144.entries,
    Extensions145.entries,
    Extensions146.entries,
    TimeWindows.entries,
    Multimodal.entries,
    Scale.entries,
    Rank.entries)

  /** Name → entry; a name declared twice fails here, naming it. */
  private[graft] def index(entries: Seq[Entry]): Map[String, Entry] = {
    val dup = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dup.isEmpty, s"query registry: duplicate name(s) ${dup.toSeq.sorted.mkString(", ")}")
    entries.map(e => e.name -> e).toMap
  }

  private val registry: Map[String, Entry] = index(modules.flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, e) => n -> e.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    registry.map { case (n, e) => n -> e.oracleSql }
}
