package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The canonical chunk table (SURVEY §1.1 item 4; FIXTURES §2) and its
  * sink semantics, committed through the manifest log
  * ([[ManifestTableFormat]]) — the one storage format, as the
  * reference writes each variant to exactly one keyed store (a Cosmos
  * container or a SQL table with upsert):
  *
  *  - A19/A21 ensure-schema bootstrap (`ensure()` creates the empty
  *    log),
  *  - A17 idempotent keyed upsert — one copy-on-write MERGE commit by
  *    `document_url`, the reference's only upsert scenario (chunk ids
  *    are per-document ordinals,
  *    AzureCosmosDB/.../CosmosDBClientWrapper.cs:48),
  *  - A18 append mode (the SQL variant's non-idempotent INSERT path),
  *  - A20 delete — completed here (the reference left it a TODO stub).
  *
  * Point and multi-document reads (B5) prune to the files whose
  * per-file url bloom and min/max may hold the probed urls. `format`
  * picks the handle: [[ManifestTableFormat.factory]] (the default) or
  * [[ManifestTableFormat.branchFactory]] for a branch of the log.
  */
final class ChunkStore(
    val spark: SparkSession,
    val path: String,
    format: ChunkStore => ManifestTableFormat = ManifestTableFormat.factory) {

  private lazy val fmt: ManifestTableFormat = {
    ChunkStore.refuseRetiredLayout(fs, path)
    format(this)
  }

  val schema: StructType = StructType(Seq(
    StructField("chunk_id", IntegerType),
    StructField("chunk_text", StringType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("page_number", IntegerType),
    StructField("document_url", StringType)))

  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new Path(path))

  /** A19/A21: bootstrap the empty table — an empty log — if absent. */
  def ensure(): Unit = {
    ChunkStore.refuseRetiredLayout(fs, path)
    fs.mkdirs(new Path(path, "_log"))
  }

  /** A17: idempotent upsert — replaces exactly the documents present
    * in `chunks`, leaves everything else in place.
    */
  def upsert(chunks: DataFrame): Unit = fmt.merge(chunks)

  /** A18: append-only insert (re-processing duplicates, as in the
    * reference's SQL variant). The format sees the raw frame: evolved
    * columns the caller carries are kept.
    */
  def append(chunks: DataFrame): Unit = fmt.append(chunks)

  /** A20 (completed): drop all chunks of the given documents. */
  def delete(documentUrls: Seq[String]): Unit = fmt.delete(documentUrls)

  /** Frame-native A20: the url set flows as a Spark frame end-to-end
    * — the path for deletes keyed by a TABLE (delete detection at
    * catalog scale, `CALL graft.delete_documents`), where collecting
    * the urls would put O(deleted) on the driver.
    */
  def delete(urls: DataFrame): Unit = fmt.delete(urls)

  /** Row-level SQL UPDATE (`UPDATE t SET … WHERE …`): the format's
    * copy-on-write rewrite of the matching rows.
    */
  def update(
      condition: Option[Column], set: Seq[(String, Column)]): Unit =
    fmt.update(condition, set)

  /** Row-level SQL DELETE by arbitrary predicate; url-keyed deletes
    * route through [[delete]] (bloom-pruned, no pre-scan).
    */
  def deleteWhere(condition: Column): Unit = fmt.deleteWhere(condition)

  /** SQL `MERGE INTO` with the full WHEN-clause algebra, as one atomic
    * copy-on-write commit.
    */
  def mergeInto(
      source: DataFrame,
      onCond: Column,
      matched: Seq[GraftMergeAction],
      notMatched: Seq[GraftMergeAction],
      notMatchedBySource: Seq[GraftMergeAction],
      urlProbe: Option[DataFrame]): Unit =
    fmt.mergeInto(source, onCond, matched, notMatched,
      notMatchedBySource, urlProbe)

  /** Maintenance compaction: collapse the small files that append /
    * streaming-batch ingest accumulates (one file set per micro-batch)
    * into target-sized files in one commit. Same rows, fewer files —
    * at 100 TB it is file-open overhead, not bytes, that degrades
    * scans of an append-heavy store.
    */
  def compact(): Unit = fmt.compact()

  /** The document catalog: a distinct over the store's url column. */
  def listDocumentUrls(): Seq[String] =
    documentCatalog().collect().map(_.getString(0)).toSeq

  /** The document catalog as a DataFrame — the scalable form of
    * [[listDocumentUrls]] (delete detection's anti-join side): no
    * driver collect at any catalog size.
    */
  def documentCatalog(): DataFrame = read().select("document_url").distinct()

  /** Multi-document read, pruned to the files the log's per-file url
    * stats admit. Bloom false positives only widen the file list; the
    * exact url semi-join keeps the result identical to a full
    * scan-and-filter.
    */
  def readDocuments(urls: Seq[String]): DataFrame =
    if (urls.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else fmt.readDocuments(urls)

  /** B5: single-document read, pruned like [[readDocuments]]. */
  def readDocument(url: String): DataFrame = fmt.readDocuments(Seq(url))

  def read(): DataFrame = fmt.read()
}

object ChunkStore {

  /** Cosmos id parity: the reference emits chunk ids as
    * invariant-culture decimal STRINGS
    * (`ChunkNumber.ToString("d", CultureInfo.InvariantCulture)`,
    * AzureCosmosDB/.../CosmosDBClientWrapper.cs:47). A user migrating
    * store queries that compare `id` as text gets the same rendering
    * here, alongside the native INT `chunk_id`.
    */
  def withCosmosId(chunks: DataFrame): DataFrame =
    chunks.withColumn("id", col("chunk_id").cast("string"))

  /** Fail loudly on a directory that has no `_log` but holds a retired
    * parquet layout: per-document Hive partitions (`document_url=…`),
    * `doc_bucket=…` buckets, or a `_graft_layout` stamp. Such a
    * directory would otherwise read as an empty manifest table and
    * take a log on top at its next write.
    */
  private[graft] def refuseRetiredLayout(fs: FileSystem, dir: String): Unit = {
    val root = new Path(dir)
    if (!fs.exists(root) || fs.exists(new Path(root, "_log"))) return
    val names = fs.listStatus(root).toSeq.map(_.getPath.getName)
    val layout =
      if (names.exists(_.startsWith("doc_bucket="))) Some("bucketed")
      else if (names.exists(_.startsWith("document_url=")))
        Some("per-document")
      else if (names.contains("_graft_layout")) Some("stamped")
      else None
    layout.foreach { l =>
      throw new IllegalStateException(
        s"chunk store at $dir holds the retired $l parquet layout and " +
          "no manifest log; re-ingest it into a new store")
    }
  }
}
