package graft

import java.nio.file.Files

import graft.embed.DeterministicEmbedder
import graft.extract.StubAnalyzeExtractor
import graft.pipeline.{IngestMetrics, IngestPipeline, StreamingIngest}
import graft.sink.{ChunkStore, ManifestTableFormat}

/** The engine calls `perfbench/src` makes on a fresh store, with the
  * same argument shapes. `perfbench` is compiled outside sbt, so this
  * spec is what keeps those calls compiling and working.
  */
class BenchSurfaceSpec extends SparkSpec {

  test("benchmark surface: fresh store, processBatch, reads, log handle") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-bench-surface").toString
    val table = s"$root/chunks"
    val store = new ChunkStore(spark, table, format = ManifestTableFormat.factory)
    store.ensure()
    val docs = Seq(
      "file:/bench/c0/a.txt" -> "alpha words about windows and joins",
      "file:/bench/c1/b.md" -> "# beta\nwords about shuffles")
    val batch = docs.map { case (u, t) => (u, t.getBytes("UTF-8")) }
      .toDF("path", "content")
    val metrics = new IngestMetrics(spark.sparkContext)
    StreamingIngest.processBatch(spark, batch, s"$root/inbox", store,
      DeterministicEmbedder(16), StubAnalyzeExtractor(), IngestPipeline.Config(),
      metrics = Some(metrics))
    assert(metrics.docs.value == 2L)
    val rows = store.read()
    assert(rows.select("document_url").distinct().count() == 2)
    assert(store.readDocuments(Seq(docs.head._1))
      .select("document_url").distinct().collect().map(_.getString(0))
      .toSeq == Seq(docs.head._1))
    val mtf = new ManifestTableFormat(spark, table, store.schema)
    assert(mtf.version == 0L)
    mtf.checkpoint()
    assert(new ManifestTableFormat(spark, table, store.schema).version == 0L)
    assert(mtf.maintenanceStats(ManifestTableFormat.defaultTargetFileBytes)
      .files >= 1L)
    assert(store.read().count() == rows.count())
  }
}
