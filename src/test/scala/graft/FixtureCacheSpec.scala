package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.FixtureCache

/** The fixture cache serves what a rebuild would: entries are keyed on the
  * fixture table's content, a build may look up another entry, each key
  * builds once, `clear()` drops entries and store dirs, and `graft.Bench`
  * pays for a fixture build on every timed run. Every test works on a copy
  * of the sf0.001 fixture under a temp dir, so rewriting it touches nothing
  * another suite reads.
  */
class FixtureCacheSpec extends SparkSpec {

  private def fixtureCopy(): String = {
    val dir = tmpDir("graft-fixture-copy")
    Files.list(Paths.get(sf0001)).forEach(f =>
      Files.copy(f, Paths.get(dir).resolve(f.getFileName)))
    dir
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `body`'s result and the `[fixture-cache] fill` lines it printed. */
  private def fills[T](body: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val out = try body finally System.setErr(err)
    (out, buf.toString("UTF-8").linesIterator.filter(_.startsWith("[fixture-cache] fill ")).toSeq)
  }

  test("x76 serves the new content after the fixture's documents is rewritten") {
    val dir = fixtureCopy()
    def x76 = SparkEntry.queries("x76_sigstore_dedup")(spark, dir)
    def x67 = SparkEntry.queries("x67_signature_dedup")(spark, dir)
    val before = rows(x76)
    assert(before == rows(x67))
    // every corpus doc (< 450) takes a batch doc's text, so each batch doc
    // now has an exact duplicate in the store
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batchText = docs.filter(col("doc_id") >= 450)
      .select((col("doc_id") - 450).as("slot"), col("text").as("batch_text"))
    val rewritten = s"$dir/documents.rewritten"
    docs.join(batchText, pmod(col("doc_id"), lit(50L)) === col("slot"), "left")
      .select(docs.columns.map(c =>
        if (c == "text") when(col("doc_id") < 450, col("batch_text")).otherwise(col("text")).as("text")
        else col(c)): _*)
      .coalesce(1).write.parquet(rewritten)
    Files.delete(Paths.get(s"$dir/documents.parquet"))
    Files.move(Paths.get(rewritten), Paths.get(s"$dir/documents.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    val after = rows(x67)
    assert(after != before, "the rewrite must change the dedup verdicts")
    assert(rows(x76) == after, "x76 must serve the rewritten documents")
  }

  test("a rewrite with the same length and the same mtime rebuilds") {
    val dir = fixtureCopy()
    val f = Paths.get(s"$dir/documents.parquet")
    val builds = new AtomicInteger(0)
    def lookup(): Int = FixtureCache(spark, dir, "documents", "same-length")(builds.incrementAndGet())
    assert(lookup() == 1 && lookup() == 1)
    val bytes = Files.readAllBytes(f)
    val mtime = Files.getLastModifiedTime(f)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    Files.write(f, bytes)
    Files.setLastModifiedTime(f, mtime)
    assert(Files.size(f) == bytes.length && Files.getLastModifiedTime(f) == mtime)
    assert(lookup() == 2, "a same-length, same-mtime rewrite must rebuild")
    assert(lookup() == 2)
  }

  test("a nested lookup works and each key builds once, across threads") {
    val dir = fixtureCopy()
    val inner = new AtomicInteger(0)
    val outer = new AtomicInteger(0)
    def lookup(): Int = FixtureCache(spark, dir, "embeddings", "outer") {
      outer.incrementAndGet()
      FixtureCache(spark, dir, "embeddings", "inner") { inner.incrementAndGet(); 41 } + 1
    }
    val wrong = new AtomicInteger(0)
    val threads = (1 to 4).map { _ =>
      val t = new Thread(() => (1 to 3).foreach(_ => if (lookup() != 42) wrong.incrementAndGet()))
      t.start(); t
    }
    threads.foreach(_.join())
    assert(wrong.get == 0 && lookup() == 42)
    assert(FixtureCache[Int](spark, dir, "embeddings", "inner")(fail("inner must hit")) == 41)
    assert((outer.get, inner.get) == (1, 1))
    // x107's store build looks up the x95 codebook: one fill each
    val (_, lines) = fills(SparkEntry.queries("x107_pqstore_recall")(spark, dir).collect())
    assert(lines.map(_.split(" ")(2)).sorted == Seq("pq-codebook", "x107-pqstore"), lines)
    assert(lines.forall(_.split(" ")(3) == dir), lines)
  }

  test("clear() drops the entries and deletes the store dirs") {
    val dir = fixtureCopy()
    SparkEntry.queries("x70_ivfstore_recall")(spark, dir).collect()
    val store = FixtureCache[String](spark, dir, "embeddings", "x70-ivfstore")(fail("x70's store must hit"))
    assert(Files.isDirectory(Paths.get(store)))
    FixtureCache.clear()
    assert(!Files.exists(Paths.get(store)), s"$store must be deleted")
    val builds = new AtomicInteger(0)
    FixtureCache(spark, dir, "embeddings", "x70-ivfstore") { builds.incrementAndGet(); "" }
    assert(builds.get == 1, "a cleared entry must rebuild")
    FixtureCache.clear()
  }

  test("Bench.timeQueries with 2 repeats of x94 trains twice") {
    val dir = fixtureCopy()
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val (timed, lines) = fills(
      Bench.timeQueries(spark, dir, 2, Some(Set("x94_quality_logreg")), failed))
    assert(failed.isEmpty && timed.map(_._1) == Seq("x94_quality_logreg"))
    assert(lines.count(_.startsWith(s"[fixture-cache] fill logreg-weights $dir ")) == 2, lines)
  }
}
