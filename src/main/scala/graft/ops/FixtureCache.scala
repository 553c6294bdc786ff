package graft.ops

import java.nio.file.Files
import java.security.{DigestInputStream, MessageDigest}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one memo for artifacts built from a fixture table: trained models
  * (BPE merges, logreg weights, the PQ codebook, the PCA direction) and
  * fixture-built stores (x70, x76, x107). Training is deterministic, so a
  * hit serves exactly the value a rebuild would.
  *
  * An entry is keyed on its name, the fixture dir and a SHA-256 over the
  * bytes of every file under `$dir/$table.parquet` in path order, so any
  * rewrite of the table's content rebuilds, whatever its length or mtime.
  * One lock guards the map, held through a build: a key builds once, and
  * a build may look up another entry (x107's store needs the codebook).
  *
  * Every fill prints `[fixture-cache] fill <name> <dir> <seconds>` on
  * stderr. `graft.Bench` calls [[clear]] between timed runs, so each run
  * pays for its own fixture build.
  */
private[graft] object FixtureCache {

  private val entries = scala.collection.mutable.HashMap.empty[String, Any]

  // one root for every store dir, deleted once at JVM exit
  private lazy val root = {
    val f = Files.createTempDirectory("graft-fixture-cache").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(f))
    f
  }

  /** The cached value of `name` over `$dir/$table.parquet`, built by
    * `build` on the first lookup of this content.
    */
  def apply[T](s: SparkSession, dir: String, table: String, name: String)(build: => T): T =
    synchronized {
      val key = s"$name#$dir#${digest(s, dir, table)}"
      entries.getOrElse(key, {
        val t0 = System.nanoTime()
        val v = build
        entries(key) = v
        System.err.println(f"[fixture-cache] fill $name $dir ${(System.nanoTime() - t0) / 1e9}%.3f")
        v
      }).asInstanceOf[T]
    }

  /** The path of a cached store that `write` builds into a fresh
    * directory under the cache root; [[clear]] deletes it.
    */
  def store(s: SparkSession, dir: String, table: String, name: String)(write: String => Unit): String =
    apply(s, dir, table, name) {
      val p = Files.createTempDirectory(root.toPath, name).toString
      write(p)
      p
    }

  /** Drops every entry and deletes every store directory. */
  def clear(): Unit = synchronized {
    entries.clear()
    FileUtils.cleanDirectory(root)
  }

  private def digest(s: SparkSession, dir: String, table: String): String = {
    val p = new Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val md = MessageDigest.getInstance("SHA-256")
    StoreManifest.filesUnder(fs, p).map(_.getPath).sortBy(_.toString).foreach { f =>
      val in = new DigestInputStream(fs.open(f), md)
      try in.transferTo(java.io.OutputStream.nullOutputStream()) finally in.close()
    }
    java.util.HexFormat.of().formatHex(md.digest())
  }
}
