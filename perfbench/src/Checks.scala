package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.vector_norm
import graft.sink.{ChunkStore, ManifestTableFormat}

/** Whole-store checks and storage figures, run outside the timed phase. */
object Checks {

  /** After `ingest`: every submitted url is present and nothing else,
    * (document_url, chunk_id) is unique with dense ids from 0, and
    * every embedding has `dim` components and unit norm.
    */
  def ingest(store: ChunkStore, urls: Seq[String], dim: Int): Seq[String] = {
    val rows = store.read()
    val perDoc = rows.groupBy("document_url").agg(count(lit(1)), min("chunk_id"),
        max("chunk_id"), countDistinct("chunk_id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))).toMap
    val want = urls.toSet
    val missing = want.filterNot(perDoc.contains)
    val extra = perDoc.keySet.filterNot(want)
    val sparse = perDoc.filter { case (_, (n, lo, hi, d)) => lo != 0 || hi != n - 1 || d != n }
    val badVecs = rows.filter(size(col("embedding")) =!= dim ||
      abs(vector_norm(col("embedding")) - 1.0) > 1e-4).count()
    Seq(
      if (missing.nonEmpty) Some(s"ingest: ${missing.size} submitted urls missing, e.g. ${missing.head}") else None,
      if (extra.nonEmpty) Some(s"ingest: ${extra.size} unexpected urls, e.g. ${extra.head}") else None,
      if (sparse.nonEmpty) Some(s"ingest: ${sparse.size} documents with duplicate or gapped chunk ids") else None,
      if (badVecs > 0) Some(s"ingest: $badVecs embeddings without dimension $dim and unit norm") else None
    ).flatten
  }

  /** Order-independent content hash of the stored rows (see [[Model.contentHash]]). */
  def storeHash(store: ChunkStore): Long = {
    val r = store.read().agg(sum(xxhash64(col("document_url"), col("chunk_id"),
      col("chunk_text"), col("page_number"), col("embedding")).cast("decimal(38,0)"))).head()
    if (r.isNullAt(0)) 0L else r.getDecimal(0).toBigInteger.longValue()
  }

  /** The store holds exactly the model's rows. */
  def storeMatches(store: ChunkStore, model: Model): Seq[String] = {
    val have = storeHash(store)
    val want = model.contentHash
    if (have == want) Nil
    else Seq(f"store content hash $have%016x differs from the expected $want%016x " +
      s"(${store.read().count()} rows stored, ${model.chunkCount} expected)")
  }

  def diskBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(diskBytes).sum

  /** Bytes on disk of `dirs` over the logical bytes of the live rows
    * (url + text + 4 bytes per embedding component + two int columns),
    * plus the sink's own figures.
    */
  def storage(store: ChunkStore, dirs: Seq[String]): Map[String, Double] = {
    val r = store.read().agg(
      sum(length(col("document_url")) + octet_length(col("chunk_text")) +
        size(col("embedding")) * 4 + 8).cast("long"),
      count(lit(1)), countDistinct("document_url")).head()
    val logical = if (r.isNullAt(0)) 0L else r.getLong(0)
    val disk = dirs.map(d => diskBytes(new File(d))).sum
    val mtf = new ManifestTableFormat(store.spark, store.path, store.schema)
    val ms = mtf.maintenanceStats(ManifestTableFormat.defaultTargetFileBytes)
    Map(
      "space_amp" -> disk.toDouble / math.max(1L, logical),
      "chunks" -> r.getLong(1).toDouble,
      "docs" -> r.getLong(2).toDouble,
      "versions" -> (ms.version + 1).toDouble,
      "data_files" -> ms.files.toDouble,
      "data_bytes" -> ms.bytes.toDouble,
      "log_bytes" -> diskBytes(new File(store.path, "_log")).toDouble)
  }
}

/** The fixed per-layer metric list of the traced run (BENCHMARK.json
  * `per_layer`). A span the workload never calls reports zeros.
  */
object Layers {

  private val Action = Seq("wall_ms", "driver_ms", "jobs", "job_ms", "cpu_ms", "input_bytes", "files_read")

  val SpanStats: Seq[(String, Seq[String])] = Seq(
    "batch" -> Seq("calls", "wall_ms"),
    "pipeline.processBatch" -> Seq("calls", "wall_ms", "driver_ms", "jobs", "job_ms", "cpu_ms",
      "input_bytes", "files_read", "shuffle_bytes", "output_bytes", "output_files"),
    "pipeline.processBatch.sink" -> Seq("jobs", "job_ms", "cpu_ms", "input_bytes", "files_read"),
    "ann" -> Seq("calls", "wall_ms"),
    "filtered" -> Seq("calls", "wall_ms"),
    "lookup" -> Seq("calls", "wall_ms"),
    "catalog.select" -> Seq("calls", "wall_ms", "driver_ms", "jobs"),
    "sink.readDocuments" -> Seq("calls", "wall_ms", "driver_ms", "jobs", "job_ms"),
    "ops.VectorIndex.queryIvfPq" -> Seq("calls", "wall_ms", "driver_ms", "jobs", "job_ms"),
    "ops.VectorSearch.topKWhere" -> Seq("calls", "wall_ms"),
    "ann.action" -> Action,
    "filtered.action" -> Action,
    "lookup.action" -> Action)

  /** The span stats of [[SpanStats]], then `counters` as given. */
  def metrics(
      spans: Map[String, Map[String, Double]],
      counters: Seq[(String, (Double, String))]): Seq[(String, (Double, String))] = {
    def unit(stat: String) =
      if (stat.endsWith("_ms")) "ms" else if (stat.endsWith("_bytes")) "bytes" else "count"
    SpanStats.flatMap { case (span, stats) =>
      stats.map(st => s"$span.$st" -> (spans.get(span).flatMap(_.get(st)).getOrElse(0.0), unit(st)))
    } ++ counters
  }
}
