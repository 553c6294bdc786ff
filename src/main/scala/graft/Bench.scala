package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** One timed pass over `names` (or all queries) in a fresh session:
    * warm-up, then per query REPEATS runs with a state reset between,
    * returning name -> times. Shared by the in-suite pass and the
    * isolated child JVMs.
    */
  private[graft] def timeQueries(
      spark: SparkSession, sfDir: String, repeats: Int,
      only: Option[Set[String]],
      failed: scala.collection.mutable.LinkedHashSet[String]): Seq[(String, Seq[Double], Seq[Double])] = {
    // Reset shared-JVM state between queries so each timed number measures
    // the query, not the decay of everything that ran before it. Round-2
    // data: x02 measured 26.5s in-suite vs 7.0s isolated (same JVM, same
    // data) — the gap was accumulated checkpoint blocks, broadcast
    // remnants, and GC pressure, not the query. Unpersisting alone was not
    // enough; an explicit GC lets the ContextCleaner actually reap dropped
    // broadcasts/blocks before the next query starts. Clearing the fixture
    // cache makes every timed run pay for its own fixture build.
    def reset(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      graft.ops.FixtureCache.clear()
      System.gc()
    }
    // Per query: REPEATS timed runs (reset between each), report the MIN.
    // Round-3 data: the driver's recording showed 21.0s for a query that
    // costs 2.8s in any clean run — one co-tenant load spike on a single
    // recording faked a 5× regression. The min over independent runs is
    // robust to one-sided noise (a run can only be slowed, never sped up
    // past the query's true cost). The max/min spread per query is emitted
    // alongside so a noisy recording environment is visible in the artifact
    // itself rather than indistinguishable from a real regression.
    // Forcing is a noop-format write, not count(): count() lets Spark prune
    // every unreferenced projection, so map-only queries (normalize digests,
    // ratio columns) were costed at ~scan price. The noop sink evaluates
    // every output column and discards the rows — honest map-stage numbers,
    // zero I/O attributed.
    // Failures must be LOUD in the artifact: a query that throws fails at
    // plan time in milliseconds, so silently swallowing it would record a
    // tiny number that reads as a speedup. Failed queries are listed in an
    // "errors" array and excluded from the total.
    // Per-measurement 1-min loadavg (max of the samples bracketing the
    // timed region): rounds 11-12 both lost per-query triage to co-tenant
    // noise that was invisible in the artifact (x99 suite-min 39.6s vs
    // fresh-JVM 10.97s under loadavg ~8 with zero code change). Recording
    // load NEXT TO each number makes "the box was busy" distinguishable
    // from "the plan regressed" without re-running anything.
    def loadavg(): Double = {
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      if (l.isNaN) -1.0 else l
    }
    SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        val timed = (1 to math.max(1, repeats)).map { _ =>
          val l0 = loadavg()
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
          catch { case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          val dt = (System.nanoTime() - t0) / 1e9
          val l1 = loadavg()
          reset() // outside the timed region
          (dt, math.max(l0, l1))
        }
        (name, timed.map(_._1), timed.map(_._2))
      }
      .filter { case (name, _, _) => !failed.contains(name) }
  }

  private def newSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    // Untimed warm-up: spin up executor threads, codegen, and the parquet
    // reader path once so JVM/JIT startup is not attributed to whichever
    // query happens to run first. Timed numbers below are unaffected
    // otherwise (each query is still a cold plan).
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("count(*)", "sum(l_quantity)").collect()
    } catch { case _: Throwable => () }
  }

  private def fmt(d: Double): String = BigDecimal(d)
    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  // Median (upper median for even n) alongside min: min is robust to
  // one-sided noise but can't distinguish "this recording was noisy"
  // from "this query regressed" when ALL repeats are inflated (round-5
  // driver artifact: slowest entries 2-3x their clean cost even at
  // min-of-3). min ≈ median → the number is trustworthy; min << median
  // → the environment was loaded and only min is usable.
  private def med(v: Seq[Double]): Double = { val s = v.sorted; s(s.size / 2) }

  private def jsonMap(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Fork ONE fresh JVM running this main in isolated-child mode over
    * `names`; parse the child's single JSON line back into name -> min
    * seconds. Fresh JVM = zero suite pressure: no accumulated broadcast
    * blocks, no code-cache/metaspace load from the 300+ plans compiled
    * before, no heap churn — the round-9 verdict's open question (x99's
    * in-suite min drifted 9.4→14.2s across rounds with zero code change)
    * is answerable only by this number. Returns None when forking is
    * unavailable (classpath not visible, java binary missing).
    */
  /** Structural balance check for a JSON blob about to be spliced
    * verbatim into the bench artifact: every `{`/`[` closed, none
    * over-closed, no unterminated string — counted OUTSIDE string
    * literals (a brace inside a note string is content, not structure).
    * Not a full parser; exactly the guard the splice needs against a
    * truncated or half-written scaling.json.
    */
  private[graft] def jsonBalanced(s: String): Boolean = {
    var depth = 0; var inStr = false; var esc = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1; if (depth < 0) return false
        case _ =>
      }
      i += 1
    }
    depth == 0 && !inStr
  }

  private def runIsolated(
      names: Seq[String]): Option[(Map[String, Double], Map[String, Double])] = {
    if (names.isEmpty) return Some((Map.empty, Map.empty))
    try {
      val javaBin = new java.io.File(new java.io.File(
        sys.props("java.home"), "bin"), "java").getAbsolutePath
      val cp = sys.props("java.class.path")
      if (cp == null || !cp.contains("classes")) return None
      import scala.jdk.CollectionConverters._
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("--add-opens") || a.startsWith("-Xmx") ||
          a.startsWith("-D"))
      // --add-opens pairs arrive as single "--add-opens=..." or split; the
      // MXBean reports them joined with '=' so pass-through is safe
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench") ++ names
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_ISOLATED", "1")
      // The child is a full Spark JVM whose log4j output lands on stderr.
      // Left unconsumed, the ~64KB pipe fills, the child blocks writing
      // stderr while this parent blocks reading stdout — a mutual-wait
      // hang. INHERIT routes child stderr straight to the parent's stderr
      // (no pipe, no drain thread needed).
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
        .getLines().toList
      // stdout hit EOF above, so the child is exiting; the bounded wait +
      // forcible kill is a backstop against a child wedged after closing
      // stdout (e.g. a non-daemon thread refusing shutdown).
      if (!proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)) {
        System.err.println("[bench] isolated child did not exit; killing")
        proc.destroyForcibly()
        proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      out.reverseIterator.find(_.startsWith("{\"isolated\":")).map { line =>
        // minimal parse of
        // {"isolated":{"name":1.23,...},"isolated_load":{"name":2.1,...}}
        // — the load map is the r13 verdict's watch item: iso children
        // also run under whatever the box is doing, so their loadavg
        // must land in the artifact like every suite measurement's
        val stripped = line.stripPrefix("{\"isolated\":{").stripSuffix("}}")
        val sepTok = "},\"isolated_load\":{"
        val (minsBody, loadsBody) = stripped.indexOf(sepTok) match {
          case -1 => (stripped, "")
          case i => (stripped.substring(0, i),
            stripped.substring(i + sepTok.length))
        }
        def parse(body: String): Map[String, Double] =
          if (body.isEmpty) Map.empty
          else body.split(",").map { kv =>
            val Array(k, v) = kv.split(":", 2)
            k.stripPrefix("\"").stripSuffix("\"") -> v.toDouble
          }.toMap
        (parse(minsBody), parse(loadsBody))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] isolated fork unavailable: ${e.getMessage}")
      None
    }
  }

  /** Where the per-query artifact goes: the full-suite file, or
    * bench_filtered.json for a run given query names. */
  private[graft] def artifactPath(filtered: Boolean): String =
    if (filtered) "bench_filtered.json"
    else sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt
    val isolatedChild = sys.env.get("SPARK_GRAFT_ISOLATED").contains("1")
    val spark = newSession(cpus)
    warmup(spark, sfDir)
    // optional args: query names (dev iteration filter / the isolated
    // child's worklist; driver passes none)
    val only = if (args.nonEmpty) Some(args.toSet) else None
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val results = timeQueries(spark, sfDir, repeats, only, failed)
    if (isolatedChild) {
      // child contract: ONE JSON line, min + max-loadavg per query, exit
      val body = results.map { case (k, v, _) => s"\"" + k + "\":" + fmt(v.min) }
        .mkString(",")
      val loads = results.map { case (k, _, ls) =>
        s"\"" + k + "\":" + fmt(ls.max) }.mkString(",")
      println(s"""{"isolated":{$body},"isolated_load":{$loads}}""")
      spark.stop()
      return
    }
    val qs = jsonMap(results.map { case (k, v, _) => k -> fmt(v.min) })
    val qsMed = jsonMap(results.map { case (k, v, _) => k -> fmt(med(v)) })
    val spread = jsonMap(results.map { case (k, v, _) =>
      k -> fmt(v.max / math.max(1e-9, v.min)) })
    // Per-query max loadavg over the repeats, plus the clean-bench gate:
    // a recording is "clean" only when NO measurement ran above the
    // threshold (default: the session's CPU count — at local[cpus] a
    // loadavg beyond the cores this JVM may use means someone else's).
    val cleanThresh = sys.env.getOrElse("SPARK_GRAFT_CLEAN_LOADAVG",
      cpus).toDouble
    val loadJson = jsonMap(results.map { case (k, _, ls) =>
      k -> fmt(ls.max) })
    val loadMax = if (results.isEmpty) 0.0 else results.map(_._3.max).max
    val cleanBench = loadMax >= 0.0 && loadMax <= cleanThresh
    val total = results.map(_._2.min).sum
    val totalMed = results.map { case (_, v, _) => med(v) }.sum
    val errs = failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    // Isolated-JVM triage of the slowest queries: a fresh JVM per batch,
    // so in-suite vs isolated separates real query cost from suite-JVM
    // pressure (the round-9 x99 question). Skipped when the classpath is
    // not forkable or SPARK_GRAFT_ISOLATE_TOP=0.
    val isolateTop = sys.env.getOrElse("SPARK_GRAFT_ISOLATE_TOP", "5").toInt
    // {slowest N by min} ∪ {spread > 2}: a query whose max/min spread
    // exceeds 2 was visibly perturbed by suite or box pressure in at least
    // one repeat — fork those too so contention is self-diagnosing per
    // query, not only for the headline slowest (round-10 verdict item 6).
    val spreadThresh =
      sys.env.getOrElse("SPARK_GRAFT_ISOLATE_SPREAD", "2.0").toDouble
    val slowNames = (results.sortBy { case (_, v, _) => -v.min }
      .take(math.max(0, isolateTop)).map(_._1) ++
      results.collect { case (n, v, _)
        if v.max / math.max(1e-9, v.min) > spreadThresh => n }).distinct
    val isolated = if (isolateTop <= 0) None else runIsolated(slowNames)
    val isoJson = isolated match {
      case Some((m, _)) => jsonMap(slowNames.flatMap(n => m.get(n).map(n -> fmt(_))))
      case None => "{}"
    }
    // Per-iso-child loadavg + gate (r13 verdict item 4): an isolated
    // number recorded under co-tenant load is the noisiest signal left —
    // bind the children to the same clean threshold as the suite, so a
    // dirty iso rerun is flaggable from the artifact alone.
    val isoLoadJson = isolated match {
      case Some((_, l)) => jsonMap(slowNames.flatMap(n => l.get(n).map(n -> fmt(_))))
      case None => "{}"
    }
    val isolatedClean = isolated.forall { case (_, l) =>
      l.values.forall(v => v >= 0.0 && v <= cleanThresh) }
    // The sf1 scaling audit (graft.ScalingAudit: the slowest queries at
    // sf0.1 AND a synthesized 10× sf1, per-query scaling exponents) rides
    // along whole so the round artifact answers the 100×-question with
    // measurements, not plan-shape argument. Regenerate with
    // `runMain graft.ScalingAudit`; absent file → empty object.
    val scalingPath = sys.env.getOrElse("SPARK_GRAFT_SCALING_FILE", "scaling.json")
    val scalingJson = try {
      val f = new java.io.File(scalingPath)
      if (f.exists()) {
        val raw = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
        // A truncated or half-written file (ScalingAudit is a separate
        // main) must not corrupt the bench artifact it gets spliced into:
        // require balanced braces/brackets outside strings, not just a
        // leading '{' (round-11 advice). Staleness is made visible by
        // recording the file's mtime alongside.
        if (raw.startsWith("{") && raw.endsWith("}") && jsonBalanced(raw)) {
          val mtime = java.time.Instant.ofEpochMilli(f.lastModified()).toString
          val inner = raw.substring(1, raw.length - 1).trim
          val sep = if (inner.isEmpty) "" else ","
          "{" + inner + sep + s""""file_mtime":"$mtime"}"""
        } else {
          System.err.println(s"[bench] $scalingPath is not balanced JSON; skipping embed")
          "{}"
        }
      } else "{}"
    } catch { case _: Throwable => "{}" }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"queries_median":$qsMed,"spread_max_over_min":$spread,"loadavg":$loadJson,"loadavg_max":${fmt(loadMax)},"clean_bench":$cleanBench,"isolated_min":$isoJson,"isolated_load":$isoLoadJson,"isolated_clean":$isolatedClean,"sf1_scaling":$scalingJson,"runs_per_query":$repeats,"errors":$errs,"sf":"$sfDir"}""")
    // The FULL per-query artifact as a standalone file: the driver's tail
    // capture truncates the line above past ~56 queries, leaving 84% of
    // queries invisible to cross-round regression triage (round-9 item 7).
    // bench_full.json carries every map whole; a filtered run writes
    // bench_filtered.json, so it can never replace the full-suite file.
    val fullPath = artifactPath(filtered = only.isDefined)
    try {
      val w = new java.io.PrintWriter(new java.io.File(fullPath), "UTF-8")
      try w.println(
        s"""{"metric":"total","value":${fmt(total)},"value_median":${fmt(totalMed)},"unit":"sec","n_queries":${results.size},"queries":$qs,"queries_median":$qsMed,"spread_max_over_min":$spread,"loadavg":$loadJson,"loadavg_max":${fmt(loadMax)},"clean_loadavg_threshold":${fmt(cleanThresh)},"clean_bench":$cleanBench,"isolated_min":$isoJson,"isolated_load":$isoLoadJson,"isolated_clean":$isolatedClean,"sf1_scaling":$scalingJson,"runs_per_query":$repeats,"errors":$errs,"sf":"$sfDir"}""")
      finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    // The driver keeps only the TAIL of stdout (last ~2000 bytes), and
    // the full line above grows with the query count — round 4's artifact
    // lost the leading "total" field to truncation, and round 11's lost
    // the ENTIRE parse when the embedded scaling.json (6.8 KB) pushed the
    // final line past the window (BENCH_r11 parsed: null). Emit a compact
    // summary as the FINAL line — total min+median, count, errors, top-5
    // slowest — with sf1_scaling as a POINTER to bench_full.json, never
    // the blob itself; the full section lives only in the file artifacts.
    val slowest = results.sortBy { case (_, v, _) => -v.min }.take(5)
      .map { case (k, v, ls) =>
        val iso = isolated.flatMap(_._1.get(k)).map(d => ",\"iso\":" + fmt(d)).getOrElse("")
        s"\"" + k + "\":{\"min\":" + fmt(v.min) + ",\"med\":" + fmt(med(v)) +
          ",\"load\":" + fmt(ls.max) + iso + "}"
      }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"value_median":${fmt(totalMed)},"unit":"sec","n_queries":${results.size},"loadavg_max":${fmt(loadMax)},"clean_bench":$cleanBench,"errors":$errs,"slowest":$slowest,"sf1_scaling":"$fullPath","bench_full":"$fullPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
