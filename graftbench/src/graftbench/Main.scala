package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One workload: an untimed set-up, then timed passes. */
trait Workload {
  def name: String
  /** Input preparation before the first pass, after the session exists. */
  def prepare(ctx: Ctx): Unit
  /** One pass. When `timed`, records each operation's latency with
    * [[Ctx.op]]; `op_p50_ms` is the median over kinds of each kind's
    * median latency. Every pass checks its outputs.
    */
  def pass(ctx: Ctx, idx: Int, timed: Boolean): Unit
  def beforeTracedPass(ctx: Ctx): Unit = ()
  /** Workload-specific layer metrics of one traced pass. */
  def layers(ctx: Ctx, spans: Seq[Span], o: Observed): Map[String, Double]
  /** Workload-specific metrics for the run artifact, as JSON values. */
  def extra(ctx: Ctx): Seq[(String, String)]
}

/** Per-run state shared by the main loop and a workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val workDir: String) {
  val tracer = new Tracer(spark)
  var attempted = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** Latencies (ms) of the current pass's unit operations, by kind. */
  val ops = mutable.ArrayBuffer[(String, Double)]()
  def op(kind: String, ms: Double): Unit = ops += kind -> ms
  /** Durations (s) of the named set-up phases. */
  val setupPhases = mutable.ArrayBuffer[(String, Double)]()
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupPhases += name -> (System.nanoTime() - t0) / 1e9
  }
  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[graftbench] FAIL $msg")
  }
}

/** Watches for other work on the machine during a run: samples the
  * 1-minute load average in the background, and measures the CPU time that
  * other processes and the hypervisor (steal) took from /proc/stat.
  */
final class LoadSampler extends Thread("graftbench-loadavg") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var peak: Double = LoadSampler.now()
  private val wall0 = System.nanoTime()
  private val cpu0 = LoadSampler.hostCpuS()
  private val own0 = LoadSampler.ownCpuS()
  override def run(): Unit = while (running) {
    peak = math.max(peak, LoadSampler.now())
    try Thread.sleep(500) catch { case _: InterruptedException => () }
  }

  /** Stop; return (peak loadavg, cores used by other processes and steal). */
  def finish(): (Double, Double) = {
    running = false; interrupt(); join()
    val wall = (System.nanoTime() - wall0) / 1e9
    val other = (LoadSampler.hostCpuS() - cpu0 - (LoadSampler.ownCpuS() - own0)) / wall
    (peak, other)
  }
}

object LoadSampler {
  def now(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Busy plus steal CPU seconds of the whole machine, NaN if unknown. */
  def hostCpuS(): Double = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    // user nice system idle iowait irq softirq steal ...
    (f.sum - f(3) - f(4)) / 100.0
  } catch { case _: Exception => Double.NaN }

  /** Seconds a fixed single-threaded integer loop takes: a host speed
    * probe, recorded beside the timings so that a drifting host shows.
    */
  def speedProbeS(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + i; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 0L) System.err.println("") // keeps the loop from being removed
    dt
  }

  def ownCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
}

object Main {

  val Workloads: Seq[String] = Seq("ops_fixedcost", "cqrs_rw")

  /** The end-to-end metrics every workload reports. */
  val EndToEnd: Seq[String] = Seq("setup_s", "pass_s", "op_p50_ms")

  /** Every per-layer metric, in output order; a workload that never calls a
    * layer reports 0 for it.
    */
  val LayerNames: Seq[String] = Seq(
    "ops.build_s", "ops.build_jobs",
    "spark.plan_s", "spark.plan.analysis_s", "spark.plan.optimization_s",
    "spark.plan.planning_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.idle_s", "spark.exec_s", "spark.task_run_s", "spark.task_cpu_s",
    "spark.gc_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_records", "spark.spill_bytes", "spark.result_bytes",
    "spark.input_bytes", "spark.peak_exec_mem_bytes", "jvm.heap_peak_bytes",
    "log.append_s", "stream.start_s", "stream.trigger_s",
    "stream.latestOffset_ms", "stream.getBatch_ms", "stream.queryPlanning_ms",
    "stream.addBatch_ms", "stream.walCommit_ms", "stream.commitOffsets_ms",
    "stream.state_rows", "stream.state_mem_bytes", "stream.state_commit_ms",
    "log.merge_buckets", "log.snapshot_write_amp", "log.snapshot_files",
    "log.read_snapshot_s", "log.files", "log.bytes_per_event",
    "state.find_by_id_rows_scanned", "spark.jobs.write", "spark.jobs.lookup",
    "spark.plan_s.lookup")

  /** Unit of a metric, from its name. */
  def unitOf(m: String): String =
    if (m.endsWith("_ms")) "ms"
    else if (m.endsWith("_s") || m.endsWith("_s.lookup")) "s"
    else if (m.endsWith("_bytes") || m == "log.bytes_per_event") "bytes"
    else if (m.endsWith("_amp") || m.endsWith("_scanned")) "ratio"
    else "count"

  /** The fixed stride sample of the registry for `ops_fixedcost`. */
  val FixedCostStride = 72

  def fixedCostQueries: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .collect { case (n, i) if i % FixedCostStride == 0 => n }

  val CqrsHistoryEvents = 20000
  val CqrsAggregates = 2000

  final case class Opts(
      workload: String = "", seed: Long = 1L, seconds: Double = 10.0, trace: Boolean = false,
      data: String = "", results: String = "", work: String = "", digests: String = "",
      git: String = "unknown", build: String = "unknown")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--results" :: v :: t => parse(t, o.copy(results = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--digests" :: v :: t => parse(t, o.copy(digests = v))
    case "--git" :: v :: t => parse(t, o.copy(git = v))
    case "--build" :: v :: t => parse(t, o.copy(build = v))
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  /** Spark's cores: half the machine's, whatever `SPARK_GRAFT_CPUS` says
    * (it is only recorded), so that every run of the benchmark on one
    * machine uses the same. Leaving the other half free keeps a run's
    * timings steady while other processes use up to that many cores.
    */
  def cpus: Int = math.max(1, Runtime.getRuntime.availableProcessors / 2)

  /** Timed passes in every run, however long they take, so that `pass_s`
    * and `op_p50_ms` are medians.
    */
  val MinPasses = 2

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(o: Opts): Workload =
    o.workload match {
      case "ops_fixedcost" =>
        new OpsWorkload("ops_fixedcost", fixedCostQueries, o.data,
          DigestFile.read(Paths.get(o.digests, "sf0.01.tsv")))
      case "cqrs_rw" => new CqrsWorkload(CqrsHistoryEvents, CqrsAggregates)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }

  /** Pass times of the newest untraced run artifact with the same
    * workload, seed, run length, build and cores: the baseline for the
    * tracing overhead. The build id hashes every source file, so the two
    * runs are the same program even when the sources differ from git HEAD.
    * The same seed gives the same inputs pass by pass.
    */
  def untracedBaseline(dir: Path, o: Opts): Option[(String, Seq[Double])] = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val prefix = s"${o.workload}-seed${o.seed}-trace0-"
    val files = if (!Files.isDirectory(dir)) Nil else {
      val s = Files.list(dir)
      try s.iterator.asScala.filter { f =>
        val n = f.getFileName.toString
        n.startsWith(prefix) && n.endsWith(".json")
      }.toList finally s.close()
    }
    files.sortBy(f => Files.getLastModifiedTime(f).toMillis).reverseIterator.flatMap { f =>
      val t = mapper.readTree(f.toFile)
      if (t.path("seconds").asDouble != o.seconds || t.path("build_id").asText != o.build ||
          t.path("local_cpus").asInt != cpus) None
      else Some(f.getFileName.toString -> t.path("pass_s_all").elements.asScala.map(_.asDouble).toSeq)
    }.nextOption()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val loadIdle = LoadSampler.now()
    val probeStart = LoadSampler.speedProbeS()
    val t0 = System.nanoTime()
    val sampler = new LoadSampler
    sampler.start()
    val w = workload(o)
    val spark = session(o.work)
    val ctx = new Ctx(spark, o.seed, o.work)
    ctx.setupPhases += "session" -> (System.nanoTime() - t0) / 1e9
    w.prepare(ctx)
    // the first pass pays for class loading, JIT, code generation and
    // fixture caches: it belongs to set-up
    ctx.phase("untimed pass")(w.pass(ctx, -1, timed = false))
    val setupS = (System.nanoTime() - t0) / 1e9

    val passS = mutable.ArrayBuffer[Double]()
    val opMs = mutable.ArrayBuffer[(String, Double)]()
    val layerRuns = mutable.ArrayBuffer[Map[String, Double]]()
    val spans = mutable.ArrayBuffer[Span]()
    val recorder = new Recorder
    if (o.trace) recorder.register(spark)
    ctx.tracer.enabled = o.trace
    // The first timed pass fixes the pass count: as many passes as fit the
    // run length at its speed, and at least MinPasses. Deciding again after
    // each pass would give runs different counts while passes still speed up
    // (JIT), and so move the median.
    var planned = MinPasses
    while (passS.size < planned) {
      val idx = passS.size
      if (o.trace) {
        w.beforeTracedPass(ctx)
        HeapPeak.reset()
      }
      ctx.ops.clear()
      val p0 = System.nanoTime()
      ctx.tracer.span("pass", s"pass-$idx")(w.pass(ctx, idx, timed = true))
      val last = (System.nanoTime() - p0) / 1e9
      passS += last
      if (passS.size == 1) planned = math.max(MinPasses, (o.seconds / last).toInt)
      opMs ++= ctx.ops
      if (o.trace) {
        val heap = HeapPeak.read()
        val obs = recorder.take(spark)
        val s = ctx.tracer.take()
        spans ++= s ++ Layers.sparkSpans(s, obs,
          ctx.tracer.allocate(obs.jobs.size + obs.phases.size))
        layerRuns += Layers.common(s, obs, heap) ++ w.layers(ctx, s, obs)
      }
    }
    if (o.trace) recorder.unregister(spark)

    val failed = ctx.failures.size.toLong
    val errorRate = failed.toDouble / math.max(1L, ctx.attempted)
    val (loadPeak, otherCores) = sampler.finish()
    val probeEnd = LoadSampler.speedProbeS()
    // the load average can read high on an idle virtual machine, so the
    // CPU time others took is the second signal
    val contended = loadIdle > cpus || otherCores > 0.5
    val opP50 = Stats.median(opMs.groupMap(_._1)(_._2).values.map(v => Stats.median(v.toSeq)).toSeq)
    val endToEnd = EndToEnd.zip(Seq(setupS, Stats.median(passS.toSeq), opP50))
    val perLayer = LayerNames.map { n =>
      n -> (if (layerRuns.isEmpty) 0.0 else Stats.median(layerRuns.map(_.getOrElse(n, 0.0)).toSeq))
    }
    val resultsDir = Paths.get(o.results)
    val baseline = if (o.trace) untracedBaseline(resultsDir, o) else None
    // paired by pass index: pass i of both runs ran the same inputs
    val overheadS = baseline.map { case (_, b) =>
      val n = math.min(b.size, passS.size)
      Stats.median(passS.take(n).toSeq) - Stats.median(b.take(n))
    }

    val stamp = Seq(
      "workload" -> Json.str(w.name), "seed" -> o.seed.toString,
      "seconds" -> Json.num(o.seconds), "trace" -> o.trace.toString,
      "git_head" -> Json.str(o.git), "build_id" -> Json.str(o.build),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_graft_cpus" -> sys.env.get("SPARK_GRAFT_CPUS").map(Json.str).getOrElse("null"),
      "local_cpus" -> cpus.toString,
      "driver_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "loadavg_idle" -> Json.num(loadIdle), "loadavg_peak" -> Json.num(loadPeak),
      "other_cpu_cores" -> Json.num(otherCores), "contended" -> contended.toString,
      "speed_probe_s" -> s"[${Json.num(probeStart)},${Json.num(probeEnd)}]")
    val summary = Seq(
      "attempted" -> ctx.attempted.toString, "failed" -> failed.toString,
      "error_rate" -> Json.num(errorRate), "failures" -> ctx.failures.map(Json.str).mkString("[", ",", "]"),
      "passes" -> passS.size.toString,
      "pass_s_all" -> passS.map(Json.num).mkString("[", ",", "]"),
      "op_ms" -> Stats.summaryJson(opMs.map(_._2).toSeq),
      "setup_phases_s" -> Json.obj(ctx.setupPhases.toSeq.map { case (k, v) => k -> Json.num(v) })) ++
      endToEnd.map { case (k, v) => k -> Json.num(v) } ++ w.extra(ctx)
    val base = {
      val ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss"))
      s"${w.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}-$ts-${ProcessHandle.current.pid}"
    }
    val spansFile = resultsDir.resolve(s"$base.spans.jsonl")
    val traceFields =
      if (!o.trace) Nil
      else Seq(
        "tracing_overhead_s" -> overheadS.map(Json.num).getOrElse("null"),
        "tracing_overhead_share" -> baseline.zip(overheadS).map { case ((_, b), d) =>
          Json.num(d / Stats.median(b.take(passS.size))) }.getOrElse("null"),
        "tracing_baseline" -> baseline.map(b => Json.str(b._1)).getOrElse("null"),
        "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) }),
        "self_time_s" -> Json.obj(Layers.selfTimes(spans.toSeq).toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }),
        "spans_file" -> Json.str(spansFile.getFileName.toString))
    Files.createDirectories(resultsDir)
    if (o.trace) Files.write(spansFile, spans.map(_.toJson).mkString("", "\n", "\n").getBytes(UTF_8))
    val artifact = resultsDir.resolve(s"$base.json")
    Files.write(artifact, (Json.obj(stamp ++ summary ++ traceFields) + "\n").getBytes(UTF_8))

    spark.stop()

    endToEnd.foreach { case (k, v) => println(f"graftbench: $k%-10s ${Json.num(v)} ${unitOf(k)}") }
    w.extra(ctx).foreach { case (k, v) => println(s"graftbench: $k $v") }
    println(s"graftbench: error_rate ${Json.num(errorRate)} ($failed of ${ctx.attempted})")
    if (o.trace) {
      println("graftbench: tracing_overhead_s " + overheadS.map(Json.num).getOrElse(
        "unknown (run the same workload, seed and --seconds with --trace 0 first)"))
      perLayer.foreach { case (k, v) => println(s"graftbench: $k ${Json.num(v)} ${unitOf(k)}") }
    }
    println(s"graftbench: contended=$contended loadavg idle=$loadIdle peak=$loadPeak " +
      s"other_cpu_cores=${Json.num(otherCores)} speed_probe_s=$probeStart,$probeEnd; artifact $artifact")
    val metrics = (if (o.trace) perLayer else endToEnd).map { case (k, v) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unitOf(k))))
    }
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics))))
  }
}
