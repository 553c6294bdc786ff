package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, In,
  InSet, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Atomic snapshot commits for the persisted stores — the one store
  * format of [[graft.log.EventLog]]'s snapshot, [[PqStore]], [[IvfStore]],
  * [[SignatureStore]], [[PostingStore]], [[SketchStore]], [[TrainStore]]
  * and [[graft.stream.IdempotentSink]], and the manifest discipline of
  * every production table format (Delta/Iceberg's core idea, reduced to
  * the minimum these stores need):
  *
  * {{{
  *   root/_manifest/v-000000000001.list    (`#k=v` meta lines, then relative
  *                                          data-file paths, one per line)
  *   root/batch=<v>-<rand>/cell=N/part-....parquet
  * }}}
  *
  * A keyed snapshot ([[graft.log.EventLog.mergeSnapshotKeyed]]) stores
  * `bucket=N` dirs and commits its layout as meta:
  * {{{
  *   #bucket_key=id
  *   #buckets=64
  *   batch=000007-1f2e3d4c/bucket=5/part-....parquet
  * }}}
  *
  * Every store write is one [[commit]]: a fresh batch dir, the write
  * into it, then one [[publish]] of (the kept files) + (the batch's
  * files) with the store's meta. A directory holding data but no
  * `_manifest` is not a store: [[pin]] and [[pinOrEmpty]] refuse it,
  * naming the root (rewrite such data through its store's `write`).
  *
  * Invariants:
  *  - Data files are IMMUTABLE once written: every write (initial build,
  *    append batch, compaction) goes into a fresh `batch-*` directory.
  *    Nothing ever rewrites or deletes a live file in place.
  *  - The manifest is the ONLY source of truth for what a store version
  *    contains, and it is written LAST: tmp file + atomic rename. A
  *    reader that pins a manifest (one metadata read) sees exactly that
  *    version's files forever after, no matter how many appends or
  *    compactions land concurrently — either the pre-state or the
  *    post-state, never a torn mix (StoreManifestSpec races a reader
  *    against a compaction to prove it).
  *  - Old versions' files stay on disk until [[vacuum]] — snapshot reads
  *    keep working across a compaction; space is reclaimed explicitly,
  *    after in-flight readers drain (the reader-lease window is the
  *    operator's retention policy, exactly as in Delta/Iceberg VACUUM).
  *
  * Partition pruning survives: batches are read with `basePath = root`,
  * so the `cell=N` / `bucket=N` path segments below each batch dir still
  * surface as partition columns and a literal `isin` still prunes at
  * file-index level (the store specs assert PartitionFilters unchanged).
  * Key pruning adds to it: when the current pin's meta names a
  * `bucket_key` and its `buckets` modulus, [[readPinned]] keeps only the
  * files of the buckets a key predicate can match — `key = literal`,
  * `key IN (literals)` (`In` and `InSet`), with an integral key and
  * literals, bucketed exactly as the merge's `pmod(key, n).cast("int")`.
  * Every other predicate (a cast of the key, an `OR`, a range), and a
  * pin without the key meta, reads every pinned file.
  *
  * Scale: the manifest is O(files) NAMES — kilobytes for thousands of
  * files. A 100 TB store with millions of files shards the list (the
  * Iceberg manifest-list layer); the single-file form here keeps the
  * commit protocol — write-last, rename-atomic, read-first — identical.
  * The pin IS the file index ([[readFiles]]): a read costs O(pinned
  * files) driver-side metadata calls (one `getFileStatus` each) plus one
  * footer read for the schema, and no Spark job runs until the query
  * does — no listing job, no schema-inference job. Recording file sizes
  * in the manifest would remove the per-file status calls too (the
  * at-scale follow-up; not done here).
  * Single committing writer per store is assumed (the stores' existing
  * contract); concurrent readers are the point.
  */
object StoreManifest {

  val ManifestDir = "_manifest"
  private val VersionRe = """v-(\d{12})\.list""".r
  private val MetaPrefix = "#"

  /** Meta keys of a bucketed store: the bucket modulus and the key
    * column the buckets are computed from.
    */
  private[graft] val BucketsKey = "buckets"
  private[graft] val BucketKeyKey = "bucket_key"

  /** The applied-batch watermark of an exactly-once store: the last
    * streaming batch id whose data this version holds.
    */
  private[graft] val LastBatchKey = "last_batch"

  /** Files younger than this are exempt from [[vacuum]] by default —
    * Delta's `deletedFileRetentionDuration` discipline (7 days): a
    * reader pinned to a just-superseded version keeps its files until
    * the retention clock passes, so "run vacuum only after readers
    * drain" is enforced by time, not operator care.
    */
  val DefaultRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** The commit primitive: move `tmp` to `dest`, returning false if the
    * move did not take effect (e.g. `dest` already exists). On HDFS and
    * local filesystems `FileSystem.rename` IS this primitive — atomic
    * and failing on an existing destination — which is what makes the
    * write-last manifest rename a real commit point. Bare object stores
    * (S3 without a consistency layer) implement rename as copy+delete,
    * which is NOT atomic: deploying there requires swapping in a
    * conditional-put implementation (S3 `If-None-Match: *`, GCS
    * `x-goods-if-generation-match: 0`) or fronting with a coordination
    * layer (S3Guard/DynamoDB, as Delta's S3 LogStore does). This var is
    * that abstraction point; StoreManifestSpec injects a failing put
    * through it to prove a failed commit never becomes current.
    */
  private[graft] var commitPut: (FileSystem, Path, Path) => Boolean =
    (fs, tmp, dest) => fs.rename(tmp, dest)

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Latest committed version, if any manifest exists. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val (fs, rootP) = fsOf(spark, root)
    val mdir = new Path(rootP, ManifestDir)
    if (!fs.exists(mdir)) None
    else fs.listStatus(mdir).iterator.map(_.getPath.getName).collect {
      case VersionRe(v) => v.toLong
    }.maxOption
  }

  def hasManifest(spark: SparkSession, root: String): Boolean =
    currentVersion(spark, root).isDefined

  /** The pinned file list of `version` (relative to root). This is the
    * reader's snapshot pin: hold the list, and [[readFiles]] serves that
    * exact state regardless of later commits.
    */
  def filesAt(spark: SparkSession, root: String, version: Long): Seq[String] =
    pinAt(spark, root, version)._1

  /** The `#key=value` metadata committed WITH `version`'s file list —
    * store geometry (LSH bands, bucket moduli, centroid-table pointers)
    * lives here so a pinned read sees a CONSISTENT (geometry, files)
    * pair: geometry in a separately-written sidecar can tear against
    * the manifest (written before → a failed publish leaves new
    * geometry over old postings; written after → the reverse), which
    * silently mis-keys every subsequent probe. One rename commits both.
    */
  def metaAt(spark: SparkSession, root: String, version: Long): Map[String, String] =
    pinAt(spark, root, version)._2

  /** `version`'s (files, meta) from ONE read of its manifest file. */
  private[graft] def pinAt(spark: SparkSession, root: String,
      version: Long): (Seq[String], Map[String, String]) = {
    val (fs, rootP) = fsOf(spark, root)
    val mf = new Path(new Path(rootP, ManifestDir), f"v-$version%012d.list")
    val in = fs.open(mf)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
    val (metaLines, files) = lines.partition(_.startsWith(MetaPrefix))
    (files, metaLines.map { l =>
      val body = l.stripPrefix(MetaPrefix)
      val eq = body.indexOf('=')
      require(eq > 0, s"StoreManifest: malformed meta line '$l' in v$version at $root")
      body.substring(0, eq) -> body.substring(eq + 1)
    }.toMap)
  }

  /** Current version's file list — one metadata read; the atomic pin. */
  def files(spark: SparkSession, root: String): Seq[String] = pin(spark, root)._1

  /** Current version's committed metadata (empty when nothing is
    * committed).
    */
  def meta(spark: SparkSession, root: String): Map[String, String] =
    currentVersion(spark, root)
      .map(metaAt(spark, root, _)).getOrElse(Map.empty)

  /** One consistent (files, meta) pin — a single manifest read, so the
    * geometry and the file list are guaranteed to be the SAME version
    * even when a writer publishes between two calls.
    */
  def pin(spark: SparkSession, root: String): (Seq[String], Map[String, String]) =
    currentVersion(spark, root) match {
      case Some(v) => pinAt(spark, root, v)
      case None => throw noCommittedVersion(root)
    }

  /** [[pin]] for append-creates-the-store call sites: an absent or empty
    * store pins as (no files, no meta) instead of failing — the first
    * [[commit]] then publishes version 1. Orphan `batch=` dirs (a crashed
    * first commit) and `_`/`.` entries do not count as data; any other
    * entry is data no manifest covers, and is refused like [[pin]].
    */
  def pinOrEmpty(spark: SparkSession, root: String): (Seq[String], Map[String, String]) =
    currentVersion(spark, root) match {
      case Some(v) => pinAt(spark, root, v)
      case None =>
        val (fs, rootP) = fsOf(spark, root)
        if (fs.exists(rootP) && fs.listStatus(rootP).exists { s =>
            val n = s.getPath.getName
            !n.startsWith("_") && !n.startsWith(".") && !n.startsWith("batch=")
          }) throw noCommittedVersion(root)
        (Nil, Map.empty)
    }

  private def noCommittedVersion(root: String) = new IllegalStateException(
    s"StoreManifest: no committed version under $root/$ManifestDir")

  /** `key`'s value in a pinned version's `meta`; a store committed
    * without it is refused, naming `root`.
    */
  private[graft] def metaValue(root: String, meta: Map[String, String], key: String): String = {
    require(meta.contains(key),
      s"StoreManifest: the committed version under $root has no #$key= meta")
    meta(key)
  }

  /** A fresh, unique batch directory name for the NEXT commit. Unique by
    * construction (random suffix), so a crashed write leaves only an
    * orphan directory no manifest references — invisible to readers,
    * reclaimed by [[vacuum]].
    *
    * `batch=` (a k=v segment) rather than `batch-`: partition inference
    * walks each file's path up toward basePath and STOPS at the first
    * non-`k=v` directory, so a plain batch dir between basePath and
    * `cell=N` would both hide the real partition column and make
    * different batches look like conflicting table roots
    * (CONFLICTING_DIRECTORY_STRUCTURES). As a partition segment the
    * batch id rides along as one extra column that [[readFiles]] drops —
    * `batch` is therefore a reserved column name inside the stores.
    */
  def newBatchDirName(spark: SparkSession, root: String): String = {
    val v = currentVersion(spark, root).getOrElse(0L) + 1L
    f"batch=$v%06d-${java.util.UUID.randomUUID.toString.take(8)}"
  }

  /** Every file under `p` (or `p` itself, if a file), depth-first in
    * listing order. `listStatus`, not `listFiles`: a located status
    * copies each entry's permissions, which on a local file system
    * without the native Hadoop library forks one `ls` per entry.
    */
  private[graft] def filesUnder(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.flatMap(st =>
      if (st.isDirectory) filesUnder(fs, st.getPath) else Seq(st))

  /** Data files under a just-written batch dir, relative to root. */
  def listBatchFiles(spark: SparkSession, root: String, batchRel: String): Seq[String] = {
    val (fs, rootP) = fsOf(spark, root)
    val rootUri = fs.makeQualified(rootP).toUri.getPath
    filesUnder(fs, new Path(rootP, batchRel)).map(_.getPath).filter { f =>
      !f.getName.startsWith("_") && !f.getName.startsWith(".")
    }.map(_.toUri.getPath.stripPrefix(rootUri).stripPrefix("/"))
  }

  /** Commit `files` (+ optional `#k=v` metadata — geometry, moduli,
    * sidecar-table pointers) as the next version: write the list to a
    * tmp file, move it into place via [[commitPut]] (write-last — the
    * move IS the commit point), return the published version. A failed
    * put raises and leaves the previous version current: the tmp file
    * is an orphan no reader ever resolves, so there is no torn state to
    * observe (StoreManifestSpec injects the failure to prove it).
    */
  def publish(spark: SparkSession, root: String, files: Seq[String],
      meta: Map[String, String] = Map.empty): Long = {
    meta.foreach { case (k, v) =>
      require(!k.contains('=') && !k.contains('\n') && !v.contains('\n'),
        s"StoreManifest: meta key/value must be line-safe, got '$k'='$v'")
    }
    val (fs, rootP) = fsOf(spark, root)
    val mdir = new Path(rootP, ManifestDir)
    fs.mkdirs(mdir)
    var v = currentVersion(spark, root).getOrElse(0L) + 1L
    while (fs.exists(new Path(mdir, f"v-$v%012d.list"))) v += 1L
    val tmp = new Path(mdir,
      s".tmp-$v-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, true)
    val metaLines = meta.toSeq.sortBy(_._1).map { case (k, x) => s"$MetaPrefix$k=$x" }
    try out.write(((metaLines ++ files).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val dest = new Path(mdir, f"v-$v%012d.list")
    require(commitPut(fs, tmp, dest),
      s"StoreManifest: commit put failed for $dest (concurrent writer?)")
    v
  }

  /** The one write path of every store: write a fresh batch dir with
    * `write` (given the dir's full path), then [[publish]] `keep` ++ the
    * batch's files with `meta` as the next version, which is returned.
    * A write or publish that fails leaves the batch an orphan dir no
    * manifest references — invisible, reclaimed by [[vacuum]].
    */
  def commit(spark: SparkSession, root: String, keep: Seq[String],
      meta: Map[String, String] = Map.empty)(write: String => Unit): Long = {
    val batch = newBatchDirName(spark, root)
    write(s"$root/$batch")
    publish(spark, root, keep ++ listBatchFiles(spark, root, batch), meta)
  }

  /** Read an explicit pinned file list. The pin IS the file index: the
    * relation is built straight from the list — one driver-side
    * `getFileStatus` per pinned file and one footer read for the schema
    * — so building the DataFrame starts no Spark job (no listing job,
    * no schema-inference job); the first job is the query's own.
    * `basePath = root` partition inference keeps the partition columns
    * (`cell=`/`bucket=` path segments) and their pruning exactly as a
    * whole-directory read would. A pinned file that is gone fails the
    * read with a `FileNotFoundException`, never a partial answer. The
    * per-file status calls are the remaining O(files) cost; recording
    * sizes in the manifest would remove them (the at-scale follow-up).
    */
  def readFiles(spark: SparkSession, root: String, files: Seq[String]): DataFrame =
    read(spark, root, files, None)

  /** Read the CURRENT snapshot (pin + read in one call) — the same
    * job-free relation as [[readFiles]], with key pruning when the pin's
    * meta records the bucket key (see the header).
    */
  def readPinned(spark: SparkSession, root: String): DataFrame = {
    val (files, meta) = pin(spark, root)
    val bucketKey = for {
      key <- meta.get(BucketKeyKey)
      n <- meta.get(BucketsKey).flatMap(_.toIntOption)
    } yield (key, n)
    read(spark, root, files, bucketKey)
  }

  private def read(spark: SparkSession, root: String, files: Seq[String],
      bucketKey: Option[(String, Int)]): DataFrame = {
    require(files.nonEmpty,
      s"StoreManifest: empty snapshot under $root — nothing to read")
    val (fs, rootP) = fsOf(spark, root)
    val base = fs.makeQualified(rootP)
    val statuses = files.map(f => fs.getFileStatus(new Path(base, f)))
    val index = new PinnedFileIndex(spark, base, statuses, bucketKey)
    // the schema of the first file in path order — the one file Spark's
    // own (mergeSchema=false) inference reads — nullable, as
    // DataSource.resolveRelation makes it
    val first = statuses.minBy(_.getPath.toString)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val dataSchema = GraftSqlBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
      .drop("batch")
  }

  /** A pinned file list as a Spark file index (the shape of Spark's own
    * file-sink reader, `MetadataLogFileIndex`): the leaf files are the
    * pin, `refresh()` is a no-op because a pin never changes, and
    * partitions are inferred from the pinned paths under `root`. The
    * statuses carry no block locations, so scans get no locality hints
    * (a cost only where executors sit on the HDFS datanodes).
    *
    * With `bucketKey = (key, n)`, `listFiles` also drops the `bucket=`
    * files no key predicate among the data filters can match.
    */
  private final class PinnedFileIndex(spark: SparkSession, root: Path,
      statuses: Seq[FileStatus], bucketKey: Option[(String, Int)])
      extends PartitioningAwareFileIndex(spark, Map.empty, None) {
    override val rootPaths: Seq[Path] = Seq(root)
    override protected val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
      scala.collection.mutable.LinkedHashMap.from(statuses.map(s => s.getPath -> s))
    override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      leafFiles.values.toArray.groupBy(_.getPath.getParent)
    private lazy val spec = inferPartitioning()
    override def partitionSpec(): PartitionSpec = spec
    override def refresh(): Unit = ()

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val dirs = super.listFiles(partitionFilters, dataFilters)
      bucketKey.flatMap { case (key, n) => keyBuckets(dataFilters, key, n) } match {
        case None => dirs
        case Some(keep) => dirs.flatMap { d =>
          val kept = d.files.filter(f => partValueOf(f.getPath.getParent.getName, "bucket")
            .flatMap(_.toIntOption).forall(keep))
          if (kept.isEmpty) None else Some(d.copy(files = kept))
        }
      }
    }

    /** The buckets the conjunction of `filters` can match, or None when
      * no filter is a bare key-vs-integral-literal equality or IN list.
      */
    private def keyBuckets(filters: Seq[Expression], key: String,
        n: Int): Option[Set[Int]] = {
      val resolver = spark.sessionState.conf.resolver
      def isKey(a: Attribute) = resolver(a.name, key) && integral(a.dataType)
      def literals(a: Attribute, es: Seq[Expression]): Option[Seq[Any]] = {
        val values = es.collect { case l: Literal if integral(l.dataType) => l.value }
        if (isKey(a) && values.size == es.size) Some(values) else None
      }
      val matched = filters.flatMap {
        case EqualTo(a: Attribute, l: Literal) => literals(a, Seq(l))
        case EqualTo(l: Literal, a: Attribute) => literals(a, Seq(l))
        case In(a: Attribute, list) => literals(a, list)
        case InSet(a: Attribute, hset) if isKey(a) => Some(hset.toSeq)
        case _ => None
      }
      // Spark's bucket: pmod(key, n) — floorMod for a positive n; a null
      // never equals a key, so it selects no bucket
      if (matched.isEmpty) None
      else Some(matched.map(_.collect {
        case v: Number => Math.floorMod(v.longValue, n.toLong).toInt
      }.toSet).reduce(_ intersect _))
    }

    private def integral(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  /** Delete data files referenced by NO surviving manifest (keeping the
    * newest `keepVersions` manifests), plus emptied batch dirs and the
    * dropped manifests themselves. Returns deleted relative paths.
    *
    * Retention guard: files younger than `retentionMs` are NEVER
    * deleted, whatever references them — a reader pinned to a version
    * superseded five minutes ago keeps its files until the clock
    * passes (Delta's `deletedFileRetentionDuration` discipline). The
    * default is 7 days; pass `retentionMs = 0` only where no concurrent
    * reader can exist (tests, single-process batch jobs). A skipped
    * young file stays reclaimable: the next vacuum after the clock
    * passes deletes it, whether or not its manifest is already gone
    * (the pin is the file LIST, not the manifest file).
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1,
      retentionMs: Long = DefaultRetentionMs): Seq[String] = {
    require(keepVersions >= 1,
      "vacuum must keep at least the current version (keepVersions >= 1)")
    require(retentionMs >= 0L)
    val (fs, rootP) = fsOf(spark, root)
    val mdir = new Path(rootP, ManifestDir)
    if (!fs.exists(mdir)) return Nil
    val versions = fs.listStatus(mdir).iterator.map(_.getPath.getName).collect {
      case VersionRe(v) => v.toLong
    }.toSeq.sorted
    if (versions.isEmpty) return Nil
    val cutoff = System.currentTimeMillis() - retentionMs
    val (drop, keep) = versions.splitAt(math.max(0, versions.length - keepVersions))
    val referenced = keep.flatMap(v => filesAt(spark, root, v)).toSet
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    var youngSkipped = false
    val rootUri = fs.makeQualified(rootP).toUri.getPath
    fs.listStatus(rootP).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("batch=")).foreach { b =>
      val toDelete = scala.collection.mutable.ArrayBuffer[Path]()
      filesUnder(fs, b.getPath).foreach { f =>
        val rel = f.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        if (!referenced.contains(rel)) {
          if (f.getModificationTime > cutoff) youngSkipped = true
          else { toDelete += f.getPath; deleted += rel }
        }
      }
      toDelete.foreach(fs.delete(_, false))
      // drop the batch dir when nothing referenced survives under it
      if (filesUnder(fs, b.getPath).isEmpty) fs.delete(b.getPath, true)
    }
    // a dropped manifest is only removed once its files are actually
    // reclaimable — inside retention the version stays listable so a
    // pinned reader (or an operator inspecting history) can still
    // resolve it
    if (!youngSkipped)
      drop.foreach(v => fs.delete(new Path(mdir, f"v-$v%012d.list"), false))
    deleted.toSeq
  }

  /** Reclaim versioned SIDECAR directories (IvfStore/PqStore quantizer
    * dirs: `centroids-<rand>`, `codebook-<rand>`) that no surviving
    * manifest's meta names. These live at the STORE path, outside the
    * manifest root, so [[vacuum]]'s batch-dir sweep never sees them —
    * without this, every `writeIndex` permanently leaks the superseded
    * quantizer directories. Same retention discipline as [[vacuum]]:
    * the newest `keepVersions` manifests' meta values stay referenced,
    * and dirs younger than `retentionMs` are never deleted (a reader
    * pinned to a just-superseded version keeps its quantizers until the
    * clock passes). Returns the deleted directory names.
    */
  def vacuumSidecars(spark: SparkSession, storePath: String,
      manifestRoot: String, metaKeys: Seq[String], keepVersions: Int = 1,
      retentionMs: Long = DefaultRetentionMs): Seq[String] = {
    require(keepVersions >= 1,
      "vacuumSidecars must keep at least the current version (keepVersions >= 1)")
    require(retentionMs >= 0L)
    val (fs, storeP) = fsOf(spark, storePath)
    if (!fs.exists(storeP)) return Nil
    val versions = currentVersion(spark, manifestRoot) match {
      case None => return Nil // nothing committed — nothing is superseded
      case Some(_) =>
        val (mfs, mrootP) = fsOf(spark, manifestRoot)
        mfs.listStatus(new Path(mrootP, ManifestDir)).iterator
          .map(_.getPath.getName)
          .collect { case VersionRe(v) => v.toLong }.toSeq.sorted
    }
    val keep = versions.takeRight(keepVersions)
    val referenced = keep.flatMap { v =>
      val m = metaAt(spark, manifestRoot, v)
      metaKeys.flatMap(m.get)
    }.toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    val prefixes = metaKeys.map(_ + "-")
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    fs.listStatus(storeP).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && prefixes.exists(n.startsWith) &&
          !referenced.contains(n) && s.getModificationTime <= cutoff) {
        fs.delete(s.getPath, true)
        deleted += n
      }
    }
    deleted.toSeq
  }

  /** Heal the small-files partitions of a manifest store — the
    * [[Scale.storeLayoutAudit]] signal wired into the maintenance verb
    * it exists to trigger (the measure-then-act pattern of autoSalted,
    * applied to layout). Per partition value of `partCol` in the LIVE
    * snapshot: if it holds more than one file and its mean file size is
    * below `smallBytes` (the audit's flag, computed here from the same
    * filesystem metadata, manifest-aware), its rows are rewritten into
    * the next batch dir — one task per partition via
    * `repartition(partCol)`, so each healed partition lands as a single
    * file — and ONE manifest rename publishes (untouched files) +
    * (rewritten partitions) with the pinned version's meta (geometry,
    * moduli, quantizer pointers, watermark). Query answers are identical by
    * construction (same rows, new layout; StoreManifestSpec asserts
    * it); readers pinned mid-heal keep their snapshot.
    *
    * Scale: the scan cost is one read+write of ONLY the flagged
    * partitions' bytes — which are small by definition of the flag;
    * the decision is O(files) filesystem metadata, zero Spark jobs.
    * Partitions above the flag threshold are never touched, so a
    * steady-state store converges: heal, and subsequent audits are
    * quiet until appends fragment it again.
    */
  def compactSmallPartitions(
      spark: SparkSession, root: String, partCol: String,
      smallBytes: Long = 8L << 20): Set[String] = {
    val (fs, rootP) = fsOf(spark, root)
    val (pinned, meta) = pin(spark, root)
    val sized = pinned.map { f =>
      (f, partValueOf(f, partCol),
        fs.getFileStatus(new Path(rootP, f)).getLen)
    }
    val flagged = sized.groupBy(_._2).collect {
      case (Some(part), fs0)
        if fs0.length > 1 && fs0.map(_._3).sum / fs0.length < smallBytes => part
    }.toSet
    if (flagged.isEmpty) return Set.empty
    val moving = sized.collect { case (f, Some(p), _) if flagged.contains(p) => f }
    import org.apache.spark.sql.functions.col
    commit(spark, root, pinned.filterNot(moving.toSet), meta) { dir =>
      readFiles(spark, root, moving)
        .repartition(col(partCol))
        .write.partitionBy(partCol).mode("overwrite").parquet(dir)
    }
    flagged
  }

  /** The `k=v` partition value a relative file path carries for
    * `partCol`, if any — compaction uses it to subtract a rewritten
    * partition's old files from the next manifest.
    */
  def partValueOf(rel: String, partCol: String): Option[String] = {
    val prefix = partCol + "="
    rel.split('/').find(_.startsWith(prefix)).map(_.substring(prefix.length))
  }
}
