package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted positional token index — the text-retrieval sibling of
  * [[SignatureStore]] (dedup postings), [[IvfStore]] (raw vectors) and
  * [[PqStore]] (codes): phrase/positional search over a 100 TB corpus
  * cannot re-tokenize the corpus per query, so the (doc, pos, token)
  * postings persist once, routed by a token-hash bucket:
  *
  * {{{
  *   path/postings/_manifest/             StoreManifest commit log (file list + #buckets=)
  *   path/postings/batch=V-R/bucket=N/    (tok, doc_id, pos)  partitionBy(bucket), immutable
  * }}}
  *
  * Serving reads ONLY the query tokens' bucket directories: the ≤ m
  * bucket ids compute driver-side (one tiny job over the m query
  * tokens — the same xxhash64 the write used) and become an `isin`
  * literal the Parquet source turns into static partition pruning.
  * The alignment semantics are [[Extensions21.alignChain]] — the SAME
  * body the in-memory operator runs, so store-served equals in-memory
  * by construction (PostingStoreSpec asserts it value-for-value).
  *
  * The bucket modulus is committed INSIDE the manifest version (the
  * `#buckets=` meta line) — geometry and file list publish in one
  * rename, and it is enforced on append: appending under a different
  * modulus would scatter a token's postings across two bucket layouts
  * and silently lose matches (the
  * [[graft.log.EventLog.mergeSnapshotKeyed]] discipline); a version
  * committed without it is refused.
  */
object PostingStore {

  private def postings(
      corpus: DataFrame, idCol: String, textCol: String, buckets: Int): DataFrame =
    corpus
      .select(col(idCol).as("doc_id"), split(lower(col(textCol)), " ").as("tk"))
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "tok")))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(buckets.toLong)).cast("int"))

  private val BucketsKey = "buckets"

  /** Tokenize, bucket by token hash, and write the partitioned index —
    * the modulus commits in the SAME manifest rename as the file list.
    */
  def write(
      corpus: DataFrame, idCol: String, textCol: String, path: String,
      buckets: Int = 64): Unit = {
    require(buckets > 0)
    val spark = corpus.sparkSession
    StoreManifest.commit(spark, s"$path/postings", Nil, Map(BucketsKey -> buckets.toString))(
      postings(corpus, idCol, textCol, buckets)
        .write.partitionBy("bucket").mode("overwrite").parquet(_))
  }

  private def bucketsFrom(path: String, meta: Map[String, String]): Int =
    StoreManifest.metaValue(s"$path/postings", meta, BucketsKey).toInt

  /** Append new documents' postings under the STORED modulus — only
    * the touched bucket directories grow. One [[StoreManifest.pin]]
    * supplies modulus and file list from the same version.
    */
  def append(
      newDocs: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val spark = newDocs.sparkSession
    val root = s"$path/postings"
    val (pinned, meta) = StoreManifest.pin(spark, root)
    StoreManifest.commit(spark, root, pinned, meta)(
      postings(newDocs, idCol, textCol, bucketsFrom(path, meta))
        .write.partitionBy("bucket").mode("overwrite").parquet(_))
  }

  /** Exact-phrase search served from the written index, reading only
    * the query tokens' buckets. Identical semantics (and values) to
    * [[Extensions21.phraseSearch]] over the same corpus.
    */
  def phraseSearchFromIndex(
      spark: SparkSession, path: String, phrase: String): DataFrame = {
    import spark.implicits._
    val qToks = phrase.toLowerCase.split(" ").toSeq
    require(qToks.nonEmpty && qToks.forall(_.nonEmpty),
      "phrase must contain at least one non-empty token")
    // ONE pin supplies modulus and files from the same version
    val (pinned, meta) = StoreManifest.pin(spark, s"$path/postings")
    val buckets = bucketsFrom(path, meta)
    val q = qToks.zipWithIndex.toDF("tok", "qpos")
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(buckets.toLong)).cast("int"))
    // bounded driver-side bucket list (≤ m values) -> literal isin ->
    // static partition pruning on the postings scan
    val cells = q.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val idx = StoreManifest.readFiles(spark, s"$path/postings", pinned)
      .filter(col("bucket").isin(cells: _*))
      .select(col("doc_id"), col("pos"), col("tok"))
    Extensions21.alignChain(idx, q.drop("bucket"), qToks.length)
  }
}
