package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is -1 for a root; `op` identifies the
  * operation (query name, or step number) the span belongs to.
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1000.0
  def toJson: String = Json.obj(Seq(
    "id" -> id.toString, "parent" -> parent.toString, "name" -> Json.str(name),
    "op" -> Json.str(op), "start_ms" -> Json.num(startMs),
    "end_ms" -> Json.num(endMs)))
}

/** In-memory span recorder. Spans are kept only while `enabled`; the job
  * group is set to the innermost span's name so Spark jobs started inside
  * it (eager barriers and collects inside an operator call, too) carry it.
  * Times are epoch milliseconds derived from the monotonic clock, so they
  * line up with Spark's listener timestamps.
  */
final class Tracer(spark: SparkSession) {
  var enabled = false
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String, String)]
  private var nextId = 0

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, op) :: stack
      sc.setJobGroup(name, op, interruptOnCancel = false)
      val t0 = nowMs
      try body
      finally {
        done += Span(id, parent, name, op, t0, nowMs)
        stack = stack.tail
        stack.headOption match {
          case Some((_, n, o)) => sc.setJobGroup(n, o, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Reserve `n` span ids for spans built outside the tracer. */
  def allocate(n: Int): Int = { val first = nextId; nextId += n; first }

  /** Spans finished since the last call. */
  def take(): Seq[Span] = { val s = done.toList; done.clear(); s }
}

final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long,
    stageIds: Seq[Int])

/** Task metrics summed over the tasks of one stage. */
final class StageAgg {
  var tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, shuffleRecords = 0L
  var spill, result, input, inputRecords = 0L
  var peakExecMem = 0L
}

/** What the listeners saw during one traced pass. */
final case class Observed(
    jobs: Seq[JobRec],
    stages: Int,
    stageAgg: Map[Int, StageAgg],
    taskIntervals: Seq[(Long, Long)],
    phases: Seq[(String, Long, Long)],
    progress: Seq[StreamingQueryProgress])

/** Shared buffer the three listeners write to from the listener bus. */
final class Recorder {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private var stages = 0
  private val stageAgg = mutable.HashMap[Int, StageAgg]()
  private val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val info = e.taskInfo
      if (info != null) taskIntervals += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.result += m.resultSize
        a.input += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Recorder.this.synchronized {
      qe.tracker.phases.foreach { case (name, s) =>
        phases += ((name, s.startTimeMs, s.endTimeMs))
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait for queued events, then hand over and clear everything seen. */
  def take(spark: SparkSession): Observed = {
    GraftBenchBus.drain(spark.sparkContext)
    synchronized {
      val o = Observed(jobs.values.toList, stages, stageAgg.toMap, taskIntervals.toList,
        phases.toList, progress.toList)
      jobs.clear(); stages = 0; stageAgg.clear(); taskIntervals.clear()
      phases.clear(); progress.clear()
      o
    }
  }
}

/** Turns one traced pass's spans and listener records into layer metrics. */
object Layers {

  /** Total length of the union of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time per span name: duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      s.name -> ((s.endMs - s.startMs - covered) / 1000.0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The name of the innermost span open at time `t` (epoch ms), if any. */
  def spanAt(spans: Seq[Span], t: Double): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startMs)

  def sumDur(spans: Seq[Span], name: String): Double =
    spans.filter(_.name == name).map(_.durS).sum

  /** Layer metrics common to every workload, plus the operator-layer ones. */
  def common(spans: Seq[Span], o: Observed, heapPeak: Long): Map[String, Double] = {
    val aggs = o.stageAgg.values
    def sum(f: StageAgg => Long): Double = aggs.iterator.map(f).sum.toDouble
    def phase(n: String) = o.phases.filter(_._1 == n).map(p => p._3 - p._2).sum / 1000.0
    val jobIv = o.jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))
    val execMs = unionLength(jobIv)
    // tasks run only inside jobs, so execution wall time minus the task
    // union is the time jobs were open with no task running
    val busyMs = unionLength(o.taskIntervals.map { case (s, e) => (s.toDouble, e.toDouble) })
    val idleMs = math.max(0.0, execMs - busyMs)
    val analysis = phase("analysis")
    val optimization = phase("optimization")
    val planning = phase("planning")
    Map(
      "ops.build_s" -> sumDur(spans, "ops.build"),
      "ops.build_jobs" -> o.jobs.count(_.group == "ops.build").toDouble,
      "spark.plan_s" -> (analysis + optimization + planning),
      "spark.plan.analysis_s" -> analysis,
      "spark.plan.optimization_s" -> optimization,
      "spark.plan.planning_s" -> planning,
      "spark.jobs" -> o.jobs.size.toDouble,
      "spark.stages" -> o.stages.toDouble,
      "spark.tasks" -> sum(_.tasks),
      "spark.idle_s" -> idleMs / 1000.0,
      "spark.exec_s" -> execMs / 1000.0,
      "spark.task_run_s" -> sum(_.runMs) / 1000.0,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1000.0,
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.shuffle_records" -> sum(_.shuffleRecords),
      "spark.spill_bytes" -> sum(_.spill),
      "spark.result_bytes" -> sum(_.result),
      "spark.input_bytes" -> sum(_.input),
      "spark.peak_exec_mem_bytes" -> aggs.map(_.peakExecMem).maxOption.getOrElse(0L).toDouble,
      "jvm.heap_peak_bytes" -> heapPeak.toDouble)
  }

  /** Whether the innermost span open at `t`, or one of its ancestors, has
    * one of `names`.
    */
  def within(spans: Seq[Span], t: Double, names: Set[String]): Boolean = {
    val byId = spans.map(s => s.id -> s).toMap
    Iterator.iterate(spanAt(spans, t))(_.flatMap(s => byId.get(s.parent)))
      .takeWhile(_.isDefined).exists(_.exists(s => names.contains(s.name)))
  }

  /** Jobs started inside a span with one of `names`. */
  def jobsIn(spans: Seq[Span], o: Observed, names: Set[String]): Seq[JobRec] =
    o.jobs.filter(j => within(spans, j.startMs.toDouble, names))

  /** Planning seconds of query executions that started inside `names`. */
  def planIn(spans: Seq[Span], o: Observed, names: Set[String]): Double =
    o.phases.filter(p => within(spans, p._2.toDouble, names))
      .map(p => p._3 - p._2).sum / 1000.0

  /** Input rows read by the stages of `jobs`. */
  def inputRecords(o: Observed, jobs: Seq[JobRec]): Long =
    jobs.flatMap(_.stageIds).distinct.flatMap(o.stageAgg.get).map(_.inputRecords).sum

  /** Spark jobs and planning phases as spans under the innermost traced
    * span open when they started, for the span file and self times.
    */
  def sparkSpans(spans: Seq[Span], o: Observed, firstId: Int): Seq[Span] = {
    def parent(t: Double) = spanAt(spans, t).map(_.id).getOrElse(-1)
    val jobs = o.jobs.map(j => ("spark.job", j.group, j.startMs.toDouble, j.endMs.toDouble))
    val phases = o.phases.map { case (n, s, e) => (s"spark.plan.$n", "", s.toDouble, e.toDouble) }
    (jobs ++ phases).zipWithIndex.map { case ((n, op, s, e), i) =>
      Span(firstId + i, parent(s), n, op, s, e)
    }
  }

  /** Sum of one `durationMs` key over the pass's streaming progress. */
  def progressMs(o: Observed, key: String): Double =
    o.progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum
}

/** Peak JVM heap over an interval: reset before, read after. */
object HeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def read(): Long = pools.map(_.getPeakUsage.getUsed).sum
}
