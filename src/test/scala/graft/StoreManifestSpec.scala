package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.hadoop.fs.Path
import graft.log.EventLog
import graft.model.Tables
import graft.ops.{Extensions15, SignatureStore, StoreManifest}

/** The atomic-commit contract of the persisted stores: a reader
  * concurrent with an append or compaction sees the pre-state or the
  * post-state, NEVER a torn mix — proven two ways: deterministically
  * (a pinned file list survives a compaction byte-identical) and by
  * racing a live reader loop against the compaction.
  */
class StoreManifestSpec extends SparkSpec {

  // the sf0.001 corpus's signatures, computed once per suite; a doc's
  // signature depends on its own text only, so each test filters the rows
  // it needs
  private lazy val corpusSigs = Extensions15.minhashSignatures(
    Tables.load(spark, sf0001, "documents"), "doc_id", "text").localCheckpoint()

  private def sigs(pred: org.apache.spark.sql.Column) = corpusSigs.filter(pred)

  private def verdictSet(root: String, batch: org.apache.spark.sql.DataFrame) =
    SignatureStore.dedupAgainstStore(spark, root, batch)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet

  /** `body`'s result and the number of Spark jobs it started on this
    * thread (counted by job group, after the listener bus drains).
    */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"store-manifest-spec-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "build a store read")
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The pinned read starts no job while it is built, and matches the
    * plain `spark.read.parquet` of the same files in schema (order and
    * nullability included) and rows.
    */
  private def assertPinnedReadMatchesParquet(root: String, files: Seq[String],
      read: => DataFrame): Unit = {
    val (pinned, pinnedJobs) = jobsStartedBy(read)
    assert(pinnedJobs == 0, s"building the pinned read of $root started $pinnedJobs job(s)")
    val base = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(new Path(root)).toString
    val (plain, plainJobs) = jobsStartedBy(spark.read.option("basePath", base)
      .parquet(files.map(f => s"$base/$f"): _*).drop("batch"))
    assert(plainJobs > 0, "the job counter must see the jobs a plain parquet read starts")
    assert(pinned.schema == plain.schema,
      s"schema differs:\n${pinned.schema.treeString}\nvs\n${plain.schema.treeString}")
    assert(sortedRows(pinned) == sortedRows(plain))
  }

  test("building a pinned read starts no Spark job and matches a plain parquet read") {
    // a 64-bucket snapshot: more pinned files than Spark's parallel
    // listing threshold (32)
    val snap = tmpDir("manifest_parity_buckets")
    EventLog.mergeSnapshotKeyed(
      spark.range(0, 640).select(col("id"), lit(1L).as("version"),
        (col("id") * 7 % 13).as("score"), concat(lit("p"), col("id")).as("name")),
      snap, "id", "version", 64)
    val snapFiles = StoreManifest.files(spark, snap)
    assert(snapFiles.size > 32, s"fixture must pin more than 32 files: ${snapFiles.size}")
    assertPinnedReadMatchesParquet(snap, snapFiles, EventLog.readSnapshot(spark, snap))
    assertPinnedReadMatchesParquet(snap, snapFiles.take(5),
      StoreManifest.readFiles(spark, snap, snapFiles.take(5)))
    // a cell= store
    val cells = tmpDir("manifest_parity_cells")
    SignatureStore.write(sigs(col("doc_id") < 200), cells)
    assertPinnedReadMatchesParquet(cells, StoreManifest.files(spark, cells),
      StoreManifest.readPinned(spark, cells))
  }

  /** Files the scans of `df` select, from the planned file listing. */
  private def filesScanned(df: DataFrame): Long =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }.sum

  test("a key predicate reads only the key's bucket files; other predicates read them all") {
    val snap = tmpDir("manifest_key_pruning")
    val nb = 64
    EventLog.mergeSnapshotKeyed(
      spark.range(0, 640).select(col("id"), lit(1L).as("version"),
        concat(lit("p"), col("id")).as("name")),
      snap, "id", "version", nb)
    val pinned = StoreManifest.files(spark, snap)
    assert(pinned.size == nb)
    val base = new Path(snap).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(new Path(snap)).toString
    val plain = spark.read.option("basePath", base)
      .parquet(pinned.map(f => s"$base/$f"): _*).drop("batch")
    def check(pred: org.apache.spark.sql.Column, wantFiles: Long): Unit = {
      val read = EventLog.readSnapshot(spark, snap).filter(pred)
      assert(filesScanned(read) == wantFiles, s"$pred")
      assert(sortedRows(read) == sortedRows(plain.filter(pred)), s"$pred")
    }
    def buckets(ids: Seq[Long]) = ids.map(Math.floorMod(_, nb.toLong)).distinct.size.toLong
    val present = Seq(5L, 70L, 133L) ++ (200L until 217L)
    val absent = Seq(640L, 1000L, 1234567L) ++ (5000L until 5017L)
    for (ids <- Seq(present, absent, present.take(10) ++ absent.take(10))) {
      check(col("id") === ids.head, 1)
      check(col("id").isin(ids.take(3): _*), buckets(ids.take(3)))
      val inSet = EventLog.readSnapshot(spark, snap).filter(col("id").isin(ids: _*))
      assert(inSet.queryExecution.optimizedPlan.toString.contains("INSET"),
        "20 ids must plan as InSet")
      check(col("id").isin(ids: _*), buckets(ids))
    }
    assert(sortedRows(EventLog.readSnapshot(spark, snap).filter(col("id") === 640L)).isEmpty)
    // predicates the bucket cannot be read from scan every file
    check(col("id").cast("int") === 5, nb)
    check(col("id") === 5L || col("id") === 70L, nb)
    check(col("id") > 600L, nb)
    // a pin without the key meta (a snapshot merged before it was
    // recorded) scans every file until its next merge records it
    val (files, meta) = StoreManifest.pin(spark, snap)
    StoreManifest.publish(spark, snap, files, meta - StoreManifest.BucketKeyKey)
    check(col("id") === 5L, nb)
    check(col("id").isin(present: _*), nb)
    EventLog.mergeSnapshotKeyed(
      spark.range(0, 1).select(col("id"), lit(2L).as("version"), lit("q0").as("name")),
      snap, "id", "version", nb)
    assert(filesScanned(EventLog.readSnapshot(spark, snap).filter(col("id") === 5L)) == 1)
  }

  test("a missing pinned file fails the read loudly; a built read keeps its version across a publish") {
    val root = tmpDir("manifest_missing")
    SignatureStore.write(sigs(col("doc_id") < 200), root)
    val pin = StoreManifest.files(spark, root)
    val built = StoreManifest.readFiles(spark, root, pin)
    val answer = sortedRows(built)
    // a later publish: the built DataFrame still answers the pinned
    // version (its index never refreshes), a fresh read sees the new one
    SignatureStore.append(sigs(col("doc_id") >= 200 && col("doc_id") < 300), root)
    assert(StoreManifest.readPinned(spark, root).filter(col("doc_id") >= 200).count() > 0)
    assert(sortedRows(built) == answer, "a built read must keep answering its pinned version")
    // delete one pinned file: building the read fails, and so does the
    // query of a read built before the delete — never a partial answer
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(root, pin.head), false))
    intercept[java.io.FileNotFoundException] {
      StoreManifest.readFiles(spark, root, pin)
    }
    intercept[java.io.FileNotFoundException] {
      StoreManifest.readPinned(spark, root)
    }
    val failed = intercept[Exception](built.collect())
    assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]),
      s"the query must fail with a FileNotFoundException, got: $failed")
  }

  test("a pinned snapshot survives a compaction unchanged; a fresh pin sees the post-state") {
    val root = tmpDir("manifest_pin")
    SignatureStore.write(sigs(col("doc_id") < 450), root)
    val pin = StoreManifest.files(spark, root)
    val v1 = StoreManifest.currentVersion(spark, root).get
    val preRows = StoreManifest.readFiles(spark, root, pin)
      .select("doc_id").distinct().count()
    // compact half the store's docs away
    val removeSigs = sigs(col("doc_id") < 200)
    assert(SignatureStore.compact(spark, root, removeSigs).nonEmpty)
    // the OLD pin still reads the exact pre-compaction state (files untouched)
    val pinnedRows = StoreManifest.readFiles(spark, root, pin)
      .select("doc_id").distinct().count()
    assert(pinnedRows == preRows,
      s"pinned snapshot changed under a compaction: $preRows -> $pinnedRows")
    // a FRESH pin is the post-state: no removed doc remains
    val v2 = StoreManifest.currentVersion(spark, root).get
    assert(v2 > v1, "compaction must publish a new version")
    val live = StoreManifest.readPinned(spark, root)
      .filter(col("doc_id") < 200).count()
    assert(live == 0, s"$live removed docs still in the live snapshot")
  }

  test("a reader racing a compaction answers pre- or post-state, never a mix") {
    val root = tmpDir("manifest_race")
    SignatureStore.write(sigs(col("doc_id") < 450), root)
    val batch = sigs(col("doc_id") >= 480)
    val pre = verdictSet(root, batch)
    // compute the post-state on an identical twin store first, so the
    // racy observations can be checked against BOTH endpoints
    val twin = tmpDir("manifest_race_twin")
    SignatureStore.write(sigs(col("doc_id") < 450), twin)
    val dupTargets = pre.collect { case (_, false, d) if d >= 0 => d }.toSeq
    assert(dupTargets.nonEmpty, "fixture must produce dup verdicts")
    val removeSigs = sigs(col("doc_id").isin(dupTargets.map(Long.box): _*))
    SignatureStore.compact(spark, twin, removeSigs)
    val post = verdictSet(twin, batch)
    assert(post != pre, "compaction must change the verdicts for the race to mean anything")
    // race: reader loop on the REAL store while it compacts
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, Boolean, Long)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() => {
      try while (!stop.get()) observed.add(verdictSet(root, batch))
      catch { case t: Throwable => failures.add(t) }
    })
    reader.start()
    try SignatureStore.compact(spark, root, removeSigs)
    finally { stop.set(true); reader.join(120000) }
    // one last read after the commit — guaranteed post-state
    observed.add(verdictSet(root, batch))
    assert(failures.isEmpty, s"reader must never crash mid-commit: ${failures.peek()}")
    import scala.jdk.CollectionConverters._
    observed.asScala.zipWithIndex.foreach { case (o, i) =>
      assert(o == pre || o == post,
        s"read $i saw a torn state: ${(o -- pre) ++ (o -- post)}")
    }
    assert(observed.asScala.last == post, "the final read must be the post-state")
  }

  test("compactSmallPartitions heals a fragmented store to one file per flagged cell with identical answers") {
    val root = tmpDir("manifest_heal")
    // fragment: a seed write plus 6 tiny appends -> every touched cell
    // accumulates one micro-file per batch
    SignatureStore.write(sigs(col("doc_id") < 100), root)
    (0 until 6).foreach { i =>
      SignatureStore.append(
        sigs(col("doc_id") >= 100 + i * 50 && col("doc_id") < 100 + (i + 1) * 50), root)
    }
    val batch = sigs(col("doc_id") >= 480)
    val before = verdictSet(root, batch)
    def filesPerCell(): Map[String, Int] =
      StoreManifest.files(spark, root)
        .groupBy(f => StoreManifest.partValueOf(f, "cell").get)
        .map { case (c, fs) => c -> fs.length }
    val fragmented = filesPerCell()
    assert(fragmented.values.max > 1, "fixture must actually fragment")
    val healed = StoreManifest.compactSmallPartitions(spark, root, "cell")
    assert(healed.nonEmpty, "micro-file cells must be flagged")
    val after = filesPerCell()
    healed.foreach { c =>
      assert(after(c) == 1, s"healed cell $c still has ${after(c)} files") }
    assert(verdictSet(root, batch) == before,
      "healing the layout must not change a single answer")
    // idempotent: a second pass finds nothing left to heal
    assert(StoreManifest.compactSmallPartitions(spark, root, "cell").isEmpty)
  }

  test("compactSmallPartitions commits the pinned meta: geometry survives a compaction") {
    val root = tmpDir("manifest_heal_meta")
    SignatureStore.write(sigs(col("doc_id") < 100), root, bands = 16)
    (0 until 3).foreach { i =>
      SignatureStore.append(
        sigs(col("doc_id") >= 100 + i * 100 && col("doc_id") < 200 + i * 100), root)
    }
    val batch = sigs(col("doc_id") >= 480)
    val metaBefore = StoreManifest.meta(spark, root)
    assert(metaBefore.get("bands").contains("16"))
    val before = verdictSet(root, batch)
    assert(StoreManifest.compactSmallPartitions(spark, root, "cell").nonEmpty,
      "the appends must leave micro-file cells to heal")
    assert(StoreManifest.meta(spark, root) == metaBefore,
      "a compaction must commit the meta of the version it rewrites")
    assert(verdictSet(root, batch) == before,
      "a probe after the compaction must answer as before it")
  }

  test("a parquet directory without a manifest is refused by every read and merge, naming its root") {
    val root = tmpDir("manifest_none")
    spark.range(0, 8).select(col("id"), lit(1L).as("version"))
      .write.mode("overwrite").parquet(root)
    def refused(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(root), s"the error must name $root: ${e.getMessage}")
    }
    refused(StoreManifest.pin(spark, root))
    refused(StoreManifest.readPinned(spark, root))
    refused(EventLog.mergeSnapshot(
      spark.range(0, 2).select(col("id"), lit(2L).as("version")), root, 8))
    assert(!StoreManifest.hasManifest(spark, root), "a refused merge must publish nothing")
    // an absent store is empty, not refused: its first commit creates it
    assert(StoreManifest.pinOrEmpty(spark, s"$root-absent") == ((Nil, Map.empty)))
  }

  test("a failed commit put never becomes current (S3-semantics injection)") {
    val root = tmpDir("manifest_failput")
    SignatureStore.write(sigs(col("doc_id") < 300), root)
    val batch = sigs(col("doc_id") >= 480)
    val preVersion = StoreManifest.currentVersion(spark, root).get
    val preFiles = StoreManifest.files(spark, root)
    val preVerdicts = verdictSet(root, batch)
    // inject the object-store failure mode: the conditional put does not
    // take effect (copy+delete rename lost the race / If-None-Match 412)
    val realPut = StoreManifest.commitPut
    StoreManifest.commitPut = (_, _, _) => false
    try {
      // an overwrite write with NEW geometry — the exact scenario where a
      // torn commit would leave new geometry over old postings
      val thrown = intercept[IllegalArgumentException] {
        SignatureStore.write(sigs(col("doc_id") < 300), root, bands = 16)
      }
      assert(thrown.getMessage.contains("commit put failed"))
    } finally StoreManifest.commitPut = realPut
    // nothing published: version, file list, geometry, and every answer
    // are exactly the pre-failure state
    assert(StoreManifest.currentVersion(spark, root).get == preVersion,
      "a failed put must not advance the version")
    assert(StoreManifest.files(spark, root) == preFiles,
      "a failed put must not change the pinned file list")
    assert(verdictSet(root, batch) == preVerdicts,
      "a failed put must not change a single answer")
    // and a retry with the real put succeeds cleanly
    SignatureStore.write(sigs(col("doc_id") < 300), root, bands = 16)
    assert(StoreManifest.meta(spark, root)("bands") == "16")
  }

  test("geometry commits atomically with the file list (one pin, one version)") {
    val root = tmpDir("manifest_geom")
    SignatureStore.write(sigs(col("doc_id") < 200), root, bands = 8)
    assert(StoreManifest.meta(spark, root)("bands") == "8")
    val (files8, meta8) = StoreManifest.pin(spark, root)
    // re-band the store: a fresh pin sees (16-band files, 16-band meta);
    // the OLD pin still pairs the 8-band files with the 8-band geometry
    SignatureStore.write(sigs(col("doc_id") < 200), root, bands = 16)
    val (files16, meta16) = StoreManifest.pin(spark, root)
    assert(meta16("bands") == "16" && meta8("bands") == "8")
    assert(files8.toSet.intersect(files16.toSet).isEmpty,
      "a re-band write must replace every data file")
    // both snapshots stay readable under their own geometry
    assert(StoreManifest.readFiles(spark, root, files8).count() > 0)
    assert(StoreManifest.readFiles(spark, root, files16).count() > 0)
    // appends key under the pinned version's geometry and carry it forward
    SignatureStore.append(sigs(col("doc_id") >= 200 && col("doc_id") < 250), root)
    assert(StoreManifest.meta(spark, root)("bands") == "16")
  }

  test("two racing publishers: exactly one wins, the loser fails loudly, a retry lands, readers never tear") {
    val root = tmpDir("manifest_two_writers")
    def docsBatch(lo: Int, hi: Int): String = {
      val batch = StoreManifest.newBatchDirName(spark, root)
      Tables.load(spark, sf0001, "documents")
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id"), col("text"), (col("doc_id") % 4).cast("int").as("cell"))
        .write.partitionBy("cell").parquet(s"$root/$batch")
      batch
    }
    // seed v1
    StoreManifest.publish(spark, root,
      StoreManifest.listBatchFiles(spark, root, docsBatch(0, 50)))
    assert(StoreManifest.currentVersion(spark, root).contains(1L))
    // a TRUE conditional put (what object-store deployment swaps in),
    // plus a one-shot barrier holding the first committer until the
    // second has also selected its version — forcing both writers to
    // contend for v2 deterministically instead of depending on thread
    // scheduling
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val gated = new java.util.concurrent.atomic.AtomicInteger(0)
    val lock = new Object
    val realPut = StoreManifest.commitPut
    StoreManifest.commitPut = (fs, tmp, dest) => {
      if (gated.incrementAndGet() <= 2)
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
      lock.synchronized { if (fs.exists(dest)) false else fs.rename(tmp, dest) }
    }
    import scala.jdk.CollectionConverters._
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
    try {
      val pinned = StoreManifest.files(spark, root)
      val batchA = docsBatch(50, 60)
      val batchB = docsBatch(60, 70)
      def writer(name: String, batch: String) = new Thread(() => {
        try {
          val v = StoreManifest.publish(spark, root,
            pinned ++ StoreManifest.listBatchFiles(spark, root, batch))
          outcomes.put(name, Right(v))
        } catch { case t: Throwable => outcomes.put(name, Left(t)) }
      })
      val (ta, tb) = (writer("A", batchA), writer("B", batchB))
      ta.start(); tb.start(); ta.join(120000); tb.join(120000)
      val (wins, losses) = outcomes.asScala.values.toSeq.partition(_.isRight)
      assert(wins.size == 1 && losses.size == 1,
        s"exactly one writer must win the v2 commit: $outcomes")
      assert(wins.head.toOption.get == 2L)
      val loserErr = losses.head.swap.toOption.get
      assert(loserErr.getMessage.contains("commit put failed"),
        s"the loser must fail LOUDLY at the conditional put: $loserErr")
      // the committed state is the winner's — a reader sees 60 rows, never
      // a torn mix, and the loser's batch dir is an invisible orphan
      assert(StoreManifest.readPinned(spark, root).count() == 60)
      // the loser retries against the fresh pin and lands v3
      val loserName = outcomes.asScala.collectFirst {
        case (k, v) if v.isLeft => k }.get
      val loserBatch = if (loserName == "A") batchA else batchB
      val v3 = StoreManifest.publish(spark, root,
        StoreManifest.files(spark, root) ++
          StoreManifest.listBatchFiles(spark, root, loserBatch))
      assert(v3 == 3L)
      assert(StoreManifest.readPinned(spark, root).count() == 70)
    } finally StoreManifest.commitPut = realPut
    // vacuum over the post-race state: the final version references every
    // surviving batch, so nothing live reclaims and the 70 rows survive
    StoreManifest.vacuum(spark, root, keepVersions = 1, retentionMs = 0L)
    assert(StoreManifest.readPinned(spark, root).count() == 70)
  }

  test("vacuum honors the retention clock: young files survive, aged files reclaim") {
    val root = tmpDir("manifest_retention")
    SignatureStore.write(sigs(col("doc_id") < 200), root)
    val pin = StoreManifest.files(spark, root)
    SignatureStore.compact(spark, root, sigs(col("doc_id") < 100))
    // everything is seconds old: a default-retention vacuum must delete
    // NOTHING, and the superseded pin must still read
    assert(StoreManifest.vacuum(spark, root).isEmpty,
      "files inside the retention window must survive vacuum")
    val pinnedRows = StoreManifest.readFiles(spark, root, pin).count()
    assert(pinnedRows > 0, "a pinned reader inside retention still reads")
    // age every data file past the clock, then vacuum reclaims
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 8L * 24 * 60 * 60 * 1000
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile) fs.setTimes(f.getPath, old, -1)
    }
    val deleted = StoreManifest.vacuum(spark, root)
    assert(deleted.nonEmpty, "aged unreferenced files must reclaim")
    // the live snapshot is untouched either way
    assert(StoreManifest.readPinned(spark, root).count() > 0)
    intercept[IllegalArgumentException] {
      StoreManifest.vacuum(spark, root, keepVersions = 0)
    }
  }

  test("vacuum keeps the live version readable and removes only superseded files") {
    val root = tmpDir("manifest_vacuum")
    SignatureStore.write(sigs(col("doc_id") < 300), root)
    SignatureStore.append(sigs(col("doc_id") >= 300 && col("doc_id") < 450), root)
    SignatureStore.compact(spark, root, sigs(col("doc_id") < 100))
    val liveBefore = StoreManifest.readPinned(spark, root)
      .select("doc_id").distinct().count()
    val deleted = StoreManifest.vacuum(spark, root, retentionMs = 0L)
    assert(deleted.nonEmpty, "three versions must leave something to reclaim")
    val liveAfter = StoreManifest.readPinned(spark, root)
      .select("doc_id").distinct().count()
    assert(liveAfter == liveBefore, "vacuum must never touch the live snapshot")
    val liveFiles = StoreManifest.files(spark, root).toSet
    assert(deleted.forall(f => !liveFiles.contains(f)),
      "vacuum must delete only unreferenced files")
  }
}
