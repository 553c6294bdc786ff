package graftbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import graft.model.Event
import graft.log.EventLog
import graft.state.Materialize
import graft.stream.Materializer

/** Seeded event history and command stream over `aggregates` player
  * aggregates with Zipf-skewed ids.
  *
  * Event mix per draw: a never-created id gets `PlayerCreated`; a live id
  * gets `PlayerDeleted` with probability [[DeleteP]], else `PlayerUpdated`;
  * a deleted id is created again under its next version. With probability
  * [[DupP]] a draw instead redelivers an earlier event unchanged. Every
  * step batch also deletes one id that is never created. Ids are
  * non-negative, as the bucketed snapshot requires.
  */
final class CqrsGen(seed: Long, aggregates: Int) {
  import CqrsGen._

  private val rnd = new java.util.SplittableRandom(seed)
  // rank -> id through a seeded permutation, so hot ids spread over buckets
  private val ids: Array[Long] = {
    val a = Array.tabulate(aggregates)(i => i.toLong + 1)
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(aggregates)(r => 1.0 / math.pow(r + 1.0, ZipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val version = mutable.HashMap[Long, Long]()
  private val deleted = mutable.HashSet[Long]()
  private var ghost = GhostBase
  private var clock = 0L
  private val recent = mutable.ArrayBuffer[Event]()

  def zipfId(): Long = {
    val u = rnd.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    ids(math.min(i, aggregates - 1))
  }

  private def event(id: Long, name: String, v: Long): Event = {
    clock += 1
    val data =
      if (name == Deleted) "{}"
      else s"""{"firstName":"F$id.$v","lastName":"L$id"}"""
    Event(id, name, v, new Timestamp(BaseMs + clock * 1000L), data)
  }

  private def draw(): Event =
    if (recent.nonEmpty && rnd.nextDouble() < DupP) recent(rnd.nextInt(recent.size))
    else {
      val id = zipfId()
      val e = version.get(id) match {
        case None => event(id, Created, 0L)
        case Some(v) if deleted.remove(id) => event(id, Created, v + 1)
        case Some(v) =>
          if (rnd.nextDouble() < DeleteP) { deleted += id; event(id, Deleted, v + 1) }
          else event(id, Updated, v + 1)
      }
      version(id) = e.version
      if (recent.size < RecentCap) recent += e else recent(rnd.nextInt(RecentCap)) = e
      e
    }

  def history(n: Int): Vector[Event] = Vector.fill(n)(draw())

  // batch sizes follow a golden-ratio sequence that every seed starts at the
  // same point: step k has the same size in every run, and any few
  // consecutive steps spread evenly over 1..MaxBatch
  private var sizePhase = 0.0

  /** One command batch of 1..64 events, ending with a delete of an id
    * that is never created.
    */
  def step(): Vector[Event] = {
    sizePhase = (sizePhase + GoldenRatio) % 1.0
    val n = 1 + (sizePhase * MaxBatch).toInt
    val body = Vector.fill(n - 1)(draw())
    ghost += 1
    body :+ event(ghost, Deleted, 0L)
  }

  /** Zipf-drawn ids for point reads. */
  def lookups(n: Int): Seq[Long] = Seq.fill(n)(zipfId())
}

object CqrsGen {
  val Created = "PlayerCreated"
  val Updated = "PlayerUpdated"
  val Deleted = "PlayerDeleted"
  val ZipfS = 1.0
  val DeleteP = 0.05
  val DupP = 0.02
  val MaxBatch = 64
  val GoldenRatio = 0.6180339887498949
  val RecentCap = 4096
  val GhostBase = 1000000000L
  val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  /** The exact serialized form of an event stream, for the
    * same-seed-same-bytes check.
    */
  def serialize(events: Seq[Event]): Array[Byte] =
    events.map(e => s"${e.id},${e.name},${e.version},${e.date.getTime},${e.data}")
      .mkString("", "\n", "\n").getBytes("UTF-8")
}

/** Plain-Scala read model, the reference for every `cqrs_rw` read:
  * the latest version wins, a delete hides the aggregate, and a redelivered
  * event or a delete of an absent id changes nothing.
  */
final class Fold {
  private val latest = mutable.HashMap[Long, Event]()

  def apply(e: Event): Unit =
    if (latest.get(e.id).forall(_.version < e.version)) latest(e.id) = e

  /** (version, firstName, lastName) of a live aggregate. */
  def live(id: Long): Option[(Long, String, String)] =
    latest.get(id).filterNot(_.name.endsWith("Deleted")).map { e =>
      (e.version, Fold.field(e.data, "firstName"), Fold.field(e.data, "lastName"))
    }

  def liveIds: Iterable[Long] = latest.keys.filter(live(_).isDefined)
}

object Fold {
  def field(json: String, f: String): String = {
    val m = ("\"" + f + "\":\"([^\"]*)\"").r
    m.findFirstMatchIn(json).map(_.group(1)).orNull
  }
}

/** `cqrs_rw`: the read-your-writes contract. Set-up writes a seeded history
  * with `EventLog.append` and cold-replays it into the bucketed snapshot
  * with `Materializer.startSnapshot`. Each pass is one step: append a
  * command batch into the log (which is also the stream spool), run the
  * snapshot stream until it terminates, read the touched ids back, then
  * serve 4 point lookups from the snapshot and 1 `findById` over the log.
  */
final class CqrsWorkload(historyEvents: Int, aggregates: Int) extends Workload {
  val name = "cqrs_rw"
  val Lookups = 4

  private var gen: CqrsGen = _
  private val fold = new Fold
  private var logDir, snapDir, ckptDir: String = _
  private var logEvents = 0L
  private var replayS = Double.NaN
  private val visibleMs, lookupMs, logReadMs = mutable.ArrayBuffer[Double]()
  private var stepFindRows = 0L
  /** (batch size, ids touched, write-to-visible ms) per step. */
  private val steps = mutable.ArrayBuffer[(Int, Int, Double)]()

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    gen = new CqrsGen(ctx.seed, aggregates)
    logDir = s"${ctx.workDir}/log"
    snapDir = s"${ctx.workDir}/snapshot"
    ckptDir = s"${ctx.workDir}/checkpoint"
    ctx.phase("history") {
      val hist = gen.history(historyEvents)
      hist.foreach(fold(_))
      EventLog.append(hist.toDS(), logDir)
      logEvents += hist.size
    }
    ctx.phase("replay") {
      val t0 = System.nanoTime()
      val q = Materializer.startSnapshot(Materializer.readEventStream(spark, logDir), snapDir, ckptDir)
      q.awaitTermination()
      replayS = (System.nanoTime() - t0) / 1e9
    }
    ctx.phase("replay check") {
      // the whole replayed read model must equal the fold
      val got = Materializer.readSnapshot(spark, snapDir)
        .select("id", "version", "firstName", "lastName").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
      val want = fold.liveIds.map(id => id -> fold.live(id).get).toMap
      ctx.attempted += 1
      if (got != want) ctx.fail(s"replayed snapshot differs from the fold: ${got.size} rows, expected ${want.size}")
    }
  }

  /** One command step. Failures are counted, not thrown, so one bad step
    * cannot hide the others.
    */
  def pass(ctx: Ctx, idx: Int, timed: Boolean): Unit = {
    val op = s"step$idx"
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val batch = gen.step()
    val touched = batch.map(_.id).distinct
    val lookupIds = gen.lookups(Lookups)
    val logReadId = gen.lookups(1).head
    batch.foreach(fold(_))
    logEvents += batch.size
    def attempt(what: String)(body: => Unit): Unit = {
      ctx.attempted += 1
      try body catch { case e: Throwable =>
        ctx.fail(s"$op: $what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    t.span("step", op) {
      attempt("write") {
        val t0 = System.nanoTime()
        t.span("log.append", op)(EventLog.append(batch.toDS(), logDir))
        val q = t.span("stream.start", op)(
          Materializer.startSnapshot(Materializer.readEventStream(spark, logDir), snapDir, ckptDir))
        t.span("stream.trigger", op)(q.awaitTermination())
        val rows = t.span("read.visible", op) {
          val snap = t.span("log.read_snapshot", op)(Materializer.readSnapshot(spark, snapDir))
          snap.filter(col("id").isin(touched: _*))
            .select("id", "version", "firstName", "lastName").collect()
        }
        val dt = (System.nanoTime() - t0) / 1e6
        val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
        val want = touched.flatMap(id => fold.live(id).map(id -> _)).toMap
        if (got != want) ctx.fail(s"$op: visible read differs from the fold ($got vs $want)")
        else if (timed) {
          visibleMs += dt
          steps += ((batch.size, touched.size, dt))
          ctx.op("visible", dt)
        }
      }

      lookupIds.foreach { id =>
        attempt(s"lookup of $id") {
          val l0 = System.nanoTime()
          val r = t.span("read.lookup", op) {
            val snap = t.span("log.read_snapshot", op)(Materializer.readSnapshot(spark, snapDir))
            snap.filter(col("id") === id).select("version", "firstName", "lastName").collect()
          }
          val dt = (System.nanoTime() - l0) / 1e6
          val got = r.map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq
          if (got != fold.live(id).toSeq) ctx.fail(s"$op: lookup of $id gave $got, expected ${fold.live(id)}")
          else if (timed) lookupMs += dt
        }
      }

      attempt(s"findById($logReadId)") {
        val l0 = System.nanoTime()
        val r = t.span("state.find_by_id", op) {
          Materialize.findById(EventLog.scan(spark, logDir).toDF(), logReadId).collect()
        }
        val dt = (System.nanoTime() - l0) / 1e6
        stepFindRows = r.length.toLong
        val got = r.map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq
        val want = fold.live(logReadId).map { case (_, f, l) => (logReadId, f, l) }.toSeq
        if (got != want) ctx.fail(s"$op: findById($logReadId) gave $got, expected $want")
        else if (timed) logReadMs += dt
      }
    }
  }

  /** Files and bytes under `dir`, keyed by path relative to it. */
  private def listing(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  private var before: (Map[String, Long], Map[String, Long]) = (Map.empty, Map.empty)

  override def beforeTracedPass(ctx: Ctx): Unit = before = (listing(logDir), listing(snapDir))

  def layers(ctx: Ctx, spans: Seq[Span], o: Observed): Map[String, Double] = {
    val (logBefore, snapBefore) = before
    val logNow = listing(logDir)
    val snapNow = listing(snapDir)
    val newSnap = snapNow.filter { case (p, _) => !snapBefore.contains(p) }
    val newLogBytes = logNow.filter { case (p, _) => !logBefore.contains(p) }.values.sum
    val mergeBuckets = newSnap.keys.flatMap(_.split('/').find(_.startsWith("bucket="))).toSet.size
    val findJobs = Layers.jobsIn(spans, o, Set("state.find_by_id"))
    val lookupSpans = Set("read.lookup")
    val states = o.progress.flatMap(_.stateOperators.toSeq)
    Map(
      "log.append_s" -> Layers.sumDur(spans, "log.append"),
      "stream.start_s" -> Layers.sumDur(spans, "stream.start"),
      "stream.trigger_s" -> Layers.sumDur(spans, "stream.trigger"),
      "stream.latestOffset_ms" -> Layers.progressMs(o, "latestOffset"),
      "stream.getBatch_ms" -> Layers.progressMs(o, "getBatch"),
      "stream.queryPlanning_ms" -> Layers.progressMs(o, "queryPlanning"),
      "stream.addBatch_ms" -> Layers.progressMs(o, "addBatch"),
      "stream.walCommit_ms" -> Layers.progressMs(o, "walCommit"),
      "stream.commitOffsets_ms" -> Layers.progressMs(o, "commitOffsets"),
      "stream.state_rows" -> states.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble,
      "stream.state_mem_bytes" -> states.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble,
      "stream.state_commit_ms" -> states.map(_.commitTimeMs).sum.toDouble,
      "log.merge_buckets" -> mergeBuckets.toDouble,
      "log.snapshot_write_amp" ->
        (if (newLogBytes > 0) newSnap.values.sum.toDouble / newLogBytes else 0.0),
      "log.snapshot_files" ->
        graft.ops.StoreManifest.files(ctx.spark, snapDir).size.toDouble,
      "log.read_snapshot_s" -> Layers.sumDur(spans, "log.read_snapshot"),
      "log.files" -> logNow.size.toDouble,
      "log.bytes_per_event" -> logNow.values.sum.toDouble / math.max(1L, logEvents),
      "state.find_by_id_rows_scanned" ->
        Layers.inputRecords(o, findJobs).toDouble / math.max(1L, stepFindRows),
      "spark.jobs.write" ->
        Layers.jobsIn(spans, o, Set("log.append", "stream.start", "stream.trigger")).size.toDouble,
      "spark.jobs.lookup" -> Layers.jobsIn(spans, o, lookupSpans).size.toDouble,
      "spark.plan_s.lookup" -> Layers.planIn(spans, o, lookupSpans))
  }

  def extra(ctx: Ctx): Seq[(String, String)] = Seq(
    "history_events" -> historyEvents.toString,
    "aggregates" -> aggregates.toString,
    "replay_events_per_s" -> Json.num(historyEvents / replayS),
    "visible_ms" -> Stats.summaryJson(visibleMs.toSeq),
    "lookup_ms" -> Stats.summaryJson(lookupMs.toSeq),
    "log_read_ms" -> Stats.summaryJson(logReadMs.toSeq),
    "steps_batch_touched_visible_ms" -> steps.map { case (b, t, v) =>
      s"[$b,$t,${Json.num(v)}]" }.mkString("[", ",", "]"))
}
