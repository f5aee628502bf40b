package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.extract.StubAnalyzeExtractor
import graft.ops.{AutoOptimize, IndexSync, Retrieval, TextIndex, VectorIndex, VectorSearch}
import graft.pipeline.{IngestMetrics, IngestPipeline, StreamingIngest}
import graft.sink.{ChunkStore, ManifestTableFormat}

/** The repo benchmark: one seeded, single-client, closed-loop workload
  * per run against the log-committed chunk store, driven only through
  * the engine's public functions. See perfbench/README.md.
  *
  * Usage: Main --workload ingest|search|mixed --seed N --seconds S
  *             --trace 0|1 --scratch DIR
  */
object Main {

  val Dim = 384
  val MaxTokens = 250
  val Containers = 12
  val Setups = 3
  val K = 10
  /** Documents per container in the served store of search and mixed. */
  val SeedDocs = 20
  /** Documents per ingest batch (mostly one container). */
  val BatchDocs = 160
  val ContextTokens = 1500L

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, scratch: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("scratch"))
    require(Set("ingest", "search", "mixed")(o.workload), s"unknown workload ${o.workload}")
    val dir = new File(o.scratch)
    require(!dir.exists(), s"scratch directory ${o.scratch} already exists; refusing to reuse a store")
    require(dir.mkdirs(), s"cannot create ${o.scratch}")
    val cores = Runtime.getRuntime.availableProcessors()
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean
    System.err.println(s"perfbench: JVM up ${up.getUptime} ms")
    val spark = GraftSession.install(GraftSession
      .builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", s"${o.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"${o.scratch}/warehouse")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(s"perfbench: session up ${up.getUptime} ms")
    val code =
      try { new Bench(spark, o, cores).run(); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it,
    * and its value; None below twenty samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None
    else {
      val p = math.floor(100.0 * (xs.size - 10) / xs.size).toInt
      Some((p, quantile(xs, p / 100.0)))
    }
}

final class Bench(spark: SparkSession, o: Main.Opts, cores: Int) {
  import Main._
  import spark.implicits._

  private val tracer = new Tracer(spark)
  private val sc = spark.sparkContext
  private val embedder = new BenchEmbedder(Dim, sc.longAccumulator("embed.calls"),
    sc.longAccumulator("embed.texts"), sc.longAccumulator("embed.nanos"))
  private val ingestMetrics = new IngestMetrics(sc)
  private val corpus = new Corpus(o.seed, Containers)
  private val pool = corpus.queryPool(64)
  private val poolVecs = pool.map(q => BenchEmbedder.vector(q.text, Dim))

  /** Seeded draws of queries and urls; the timed phase starts afresh. */
  private final class Draws(salt: Long) {
    val rnd = new java.util.Random(o.seed * 31 + salt)
    val query = new Corpus.Zipf(pool.size, 1.1, rnd)
  }
  private var draws = new Draws(0)

  private val t00 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - t00) / 1e9}%.1f s $what")

  // every operation of the run counts, set-up and warm-up included; an
  // operation fails when it throws or any check of its result fails
  private var attempted = 0L
  private var failed = 0L
  private var opFailed = false
  private val failures = mutable.ArrayBuffer.empty[String]
  private def check(ok: Boolean, msg: => String): Unit = if (!ok) {
    opFailed = true
    if (failures.size < 20) failures += msg
  }
  /** A check of the whole store, counted as one operation. */
  private def storeCheck(problems: Seq[String]): Unit = {
    attempted += 1
    problems.foreach(check(false, _))
    if (problems.nonEmpty) failed += 1
    opFailed = false
  }

  private val setupSecs = mutable.ArrayBuffer.empty[Double]

  /** Figures of the units of one timed phase. */
  private final class Phase {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var recallHits = 0L
    var recallTotal = 0L
    var userBytes = 0L
    var chunksCommitted = 0L
    var writeMs = 0.0
    val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    /** Latencies of the units of client work: batches, cycles or rounds. */
    val units = mutable.ArrayBuffer.empty[Double]
    var busyNs = 0L
    var heapMb = 0.0
    def secs: Double = busyNs / 1e9
    def xs(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq
    def unitsPerSec: Double = units.size / secs
    def recall: Option[Double] = if (recallTotal > 0) Some(recallHits.toDouble / recallTotal) else None
  }
  private var unitKind = ""
  private val plain = new Phase
  private val traced = new Phase
  /** Figures of set-up and warm-up work land here and are dropped. */
  private var cur = new Phase
  private def sample(kind: String) = cur.samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty)

  /** The timed phase: `unit` (a request cycle, a batch, a round) runs
    * back to back until `--seconds` have passed. A traced run measures
    * twice as long and traces every other unit; the traced units give
    * the per-layer figures, and their pace against the interleaved
    * untraced units is the tracing overhead.
    */
  private def measure(kind: String)(unit: => Unit): Unit = {
    unitKind = kind
    draws = new Draws(1)
    if (o.trace) tracer.start()
    val t0 = System.nanoTime()
    val budget = (o.seconds * 1e9 * (if (o.trace) 2 else 1)).toLong
    var i = 0
    while (System.nanoTime() - t0 < budget) {
      cur = if (o.trace && i % 2 == 1) traced else plain
      tracer.active = cur eq traced
      val before = counters
      val u0 = System.nanoTime()
      unit
      cur.busyNs += System.nanoTime() - u0
      cur.units += (System.nanoTime() - u0) / 1e6
      counters.foreach { case (k, v) => cur.counts(k) += v - before(k) }
      i += 1
    }
    tracer.stop()
    phase("timed phase done")
    // Spark drops unreferenced broadcast and cached blocks asynchronously
    // after a GC finds them; collect until that cleanup has settled
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    plain.heapMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def counters: Map[String, Long] = Map(
    "embed.calls" -> embedder.calls.value, "embed.texts" -> embedder.texts.value,
    "embed.nanos" -> embedder.nanos.value, "pipeline.docs" -> ingestMetrics.docs.value,
    "pipeline.chunks" -> ingestMetrics.chunks.value,
    "pipeline.quarantined" -> ingestMetrics.quarantined.value)

  // ---- store handles and engine calls ---------------------------------

  /** Set-up `i`'s store: catalog table `graft.chunks_i` and its indexes. */
  private final class Store(i: Int) {
    val root = s"${o.scratch}/setup-$i"
    val name = s"graft.chunks_$i"
    val table = s"${o.scratch}/warehouse/chunks_$i"
    val vidx = s"$root/vindex"
    val tidx = s"$root/tindex"
    val store = new ChunkStore(spark, table, format = ManifestTableFormat.factory)
    def mtf = new ManifestTableFormat(spark, table, store.schema)
  }

  /** Both indexes key rows on this content address (see [[Model.contentId]]). */
  private def contentId: Column =
    xxhash64(col("document_url"), col("chunk_id"), col("chunk_text"))
  private val prepareVec: DataFrame => DataFrame =
    rows => rows.select(contentId.as("id"), col("embedding").as("vec"))
  private val prepareText: DataFrame => DataFrame =
    rows => rows.select(contentId.as("id"), col("chunk_text").as("text"))

  private def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** One timed client operation, then the untimed `verify` of its result. */
  private def op[T](kind: String)(body: => T)(verify: T => Unit = (_: T) => ()): Unit = {
    attempted += 1
    opFailed = false
    val t0 = System.nanoTime()
    try {
      val r = span(kind)(body)
      sample(kind) += (System.nanoTime() - t0) / 1e6
      if (sys.env.contains("PERFBENCH_VERBOSE"))
        phase(f"$kind ${(System.nanoTime() - t0) / 1e6}%.0f ms${if (tracer.active) " traced" else ""}")
      verify(r)
    } catch {
      case NonFatal(e) =>
        check(false, s"$kind threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    if (opFailed) failed += 1
    opFailed = false
  }

  private def processBatch(s: Store, docs: Seq[Doc]): Unit = {
    val batch = docs.map(d => (d.url, d.bytes)).toDF("path", "content")
    val t0 = System.nanoTime()
    span("pipeline.processBatch") {
      StreamingIngest.processBatch(spark, batch, s"${s.root}/inbox", s.store,
        embedder, StubAnalyzeExtractor(), IngestPipeline.Config(),
        metrics = Some(ingestMetrics))
    }
    cur.writeMs += (System.nanoTime() - t0) / 1e6
    cur.userBytes += docs.map(_.bytes.length.toLong).sum
  }

  private def sqlDelete(s: Store, urls: Seq[String]): Unit = span("catalog.sql_delete") {
    spark.sql(s"DELETE FROM ${s.name} WHERE document_url IN (" +
      urls.map(u => s"'$u'").mkString(", ") + ")")
  }

  private def catchUp(s: Store): Unit = {
    val v = span("ops.IndexSync.catchUp")(IndexSync.catchUp(spark, s.table, s.vidx, prepareVec))
    val t = span("ops.IndexSync.catchUpText")(IndexSync.catchUpText(spark, s.table, s.tidx, prepareText))
    cur.counts("ops.index.appended") += v.appended + t.appended
    cur.counts("ops.index.tombstoned") += v.tombstoned + t.tombstoned
  }

  /** A fresh, empty store for set-up `i`. */
  private def open(i: Int): Store = {
    val s = new Store(i)
    require(!new File(s.table).exists() && !new File(s.root).exists(), s"${s.table} already exists")
    s.store.ensure()
    s
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Set up `Setups` times, timing each, and keep the last store.
    * `warm` runs untimed on every store after its set-up.
    */
  private def setUp(make: Int => Store, warm: Store => Unit = _ => ()): Store = {
    var last: Store = null
    (0 until Setups).foreach { i =>
      if (last != null) { deleteTree(new File(last.root)); deleteTree(new File(last.table)) }
      val t0 = System.nanoTime()
      last = make(i)
      setupSecs += (System.nanoTime() - t0) / 1e9
      phase(s"set-up $i done")
      warm(last)
    }
    last
  }

  // ---- requests -------------------------------------------------------

  private def probe(q: Int): DataFrame = Seq((-1L, poolVecs(q).toSeq)).toDF("id", "vec")

  private def liveIds(ids: Seq[Long], model: Model, what: String): Unit = {
    val stale = ids.filterNot(model.live)
    check(stale.isEmpty, s"$what returned ${stale.size} ids that are not live (deleted or superseded)")
  }

  private def ann(s: Store, model: Model): Unit = {
    val q = draws.query.next()
    op("ann") {
      val df = span("ops.VectorIndex.queryIvfPq")(VectorIndex.queryIvfPq(spark, s.vidx, probe(q), K))
      span("ann.action")(df.select("nn_id").collect().map(_.getLong(0)).toSeq)
    } { ids =>
      liveIds(ids, model, "ann")
      val exact = model.exactTopK(poolVecs(q), K).map(_._1.id).toSet
      check(ids.size == exact.size, s"ann returned ${ids.size} rows, expected ${exact.size}")
      cur.recallHits += ids.count(exact)
      cur.recallTotal += exact.size
    }
  }

  private def hybrid(s: Store, model: Model): Unit = {
    val q = draws.query.next()
    op("hybrid") {
      val text = span("ops.TextIndex.query")(TextIndex.query(spark, s.tidx, pool(q).terms, 2 * K))
      val vec = span("ops.VectorIndex.queryIvfPq")(VectorIndex.queryIvfPq(spark, s.vidx, probe(q), 2 * K))
      val fused = span("ops.Retrieval.rrfFuse")(Retrieval.rrfFuse(Seq(
        text.select(col("doc_id").as("id"),
          row_number().over(Window.orderBy(desc("score"), asc("doc_id"))).as("rank")),
        vec.select(col("nn_id").as("id"),
          row_number().over(Window.orderBy(asc("dist"), asc("nn_id"))).as("rank"))), "id"))
      val ranked = fused.select(col("id"),
          row_number().over(Window.orderBy(desc("rrf_score"), asc("id"))).as("rank"))
        .filter(col("rank") <= K)
      val docs = span("catalog.select")(spark.table(s.name)).withColumn("id", contentId)
      val ctx = span("ops.Retrieval.assembleContext")(
        Retrieval.assembleContext(ranked, docs, "id", "rank", "chunk_text", ContextTokens))
      span("hybrid.action")(ctx.collect().map(r => (r.getLong(0), r.getLong(4))).toSeq)
    } { ctx =>
      check(ctx.nonEmpty, s"hybrid returned an empty context for query $q")
      check(ctx.forall(_._2 <= ContextTokens), "hybrid context exceeds its token budget")
      liveIds(ctx.map(_._1), model, "hybrid")
    }
  }

  private def filtered(s: Store, model: Model): Unit = {
    val q = draws.query.next()
    val prefix = f"https://bench.blob.core.windows.net/c${pool(q).container}%02d/"
    op("filtered") {
      val t = span("catalog.select")(spark.table(s.name))
      val df = span("ops.VectorSearch.topKWhere")(
        VectorSearch.topKWhere(t, col("document_url").startsWith(prefix), poolVecs(q).toSeq, K))
      span("filtered.action")(df.select("document_url", "chunk_id", "dist").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq)
    } { got =>
      // exact up to the 6-decimal rounding of the returned distance and
      // the order of ties at the k-th place
      val exact = model.exactTopK(poolVecs(q), K, _.url.startsWith(prefix))
      check(got.size == exact.size, s"filtered returned ${got.size} rows, expected ${exact.size}")
      got.foreach { case (u, c, d) =>
        val row = model.rows(u).find(_.chunkId == c)
        check(u.startsWith(prefix) && row.exists(r =>
            math.abs(Model.cosineDistance(r.emb, poolVecs(q)) - d) < 2e-6),
          s"filtered returned $u#$c at distance $d, which the live filtered set does not hold")
      }
      check(exact.map(_._2).sorted.zip(got.map(_._3).sorted).forall { case (a, b) => math.abs(a - b) < 2e-6 },
        s"filtered top-$K distances differ from the exact answer")
    }
  }

  private def lookup(s: Store, model: Model, url: String): Unit =
    op("lookup") {
      val df = span("sink.readDocuments")(s.store.readDocuments(Seq(url)))
      span("lookup.action")(df.collect().toSeq)
    } { rows =>
      val got = rows.map(r => (r.getAs[String]("document_url"), r.getAs[Int]("chunk_id"),
        r.getAs[String]("chunk_text"), Option(r.getAs[Integer]("page_number")).map(_.intValue),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq)).sortBy(_._2)
      val want = model.rows(url).map(c => (c.url, c.chunkId, c.text, c.page, c.emb.toSeq))
      check(got == want, s"lookup of $url returned ${got.size} rows that differ from the ${want.size} expected")
    }

  // ---- workloads ------------------------------------------------------

  private def seedDocs: Seq[Doc] =
    for (c <- 0 until Containers; i <- 0 until SeedDocs) yield corpus.doc(c, i)

  /** The served store: the seed corpus committed in one batch, then the
    * vector index (and for mixed the text index) built over it and
    * marked synced.
    */
  private def servedStore(withText: Boolean)(i: Int): Store = {
    val s = open(i)
    processBatch(s, seedDocs)
    // the seed corpus is small: one write task keeps each index to one
    // file per cell or term bucket instead of one per task
    val rows = s.store.read().coalesce(1)
    VectorIndex.buildIvfPq(prepareVec(rows), s.vidx, "id", "vec", nlist = 8, m = 16, ks = 64, seed = o.seed)
    IndexSync.markSynced(spark, s.vidx, s.mtf.version)
    if (withText) {
      TextIndex.build(prepareText(rows), s.tidx, "id", "text", numBuckets = 8)
      IndexSync.markSynced(spark, s.tidx, s.mtf.version)
    }
    s
  }

  /** The search cycle: one request of each kind, query and url drawn with skew. */
  private def cycle(s: Store, model: Model, urls: IndexedSeq[String], urlZipf: Corpus.Zipf): Unit = {
    ann(s, model)
    filtered(s, model)
    lookup(s, model, urls(urlZipf.next()))
  }

  /** Served set-up; `warm` runs untimed after every set-up, so the
    * timed phase starts with compiled, warmed query paths.
    */
  private def servedSetUp(model: Model, withText: Boolean)(warm: Store => Unit): Store = {
    seedDocs.foreach(model.put)
    val s = setUp(servedStore(withText), warm)
    storeCheck(Checks.storeMatches(s.store, model))
    s
  }

  private def runIngest(): Store = {
    // every set-up commits one full batch of a container the timed phase
    // never uses, which also warms the batch path before timing
    val warm = (0 until BatchDocs).map(i => corpus.doc(Containers, i))
    // and one more untimed batch, the first merge into a non-empty store
    var w = 0
    val s = setUp(i => { val st = open(i); processBatch(st, warm); st }, { st =>
      w += 1
      processBatch(st, (0 until BatchDocs).map(i => corpus.doc(Containers, w * BatchDocs + i)))
    })
    val urls = mutable.ArrayBuffer.empty[String] ++ warm.map(_.url) ++
      (0 until BatchDocs).map(i => corpus.url(Containers, w * BatchDocs + i))
    var b = 0
    measure("batch") {
      // one container per batch, a tenth spilling into the next
      val c = b % Containers
      val docs = (0 until BatchDocs).map { i =>
        corpus.doc(if (i % 10 == 9) (c + 1) % Containers else c, b * BatchDocs + i)
      }
      urls ++= docs.map(_.url)
      val before = ingestMetrics.chunks.value
      op("batch")(processBatch(s, docs))(_ => cur.chunksCommitted += ingestMetrics.chunks.value - before)
      b += 1
    }
    storeCheck(Checks.ingest(s.store, urls.toSeq, Dim))
    s
  }

  private def runSearch(): Store = {
    val model = new Model(Dim, MaxTokens)
    val urls = seedDocs.map(_.url).sorted.toIndexedSeq
    val s = servedSetUp(model, withText = false)(cycle(_, model, urls, new Corpus.Zipf(urls.size, 1.1, draws.rnd)))
    lazy val urlZipf = new Corpus.Zipf(urls.size, 1.1, draws.rnd)
    measure("cycle")(cycle(s, model, urls, urlZipf))
    s
  }

  /** Not in BENCHMARK.json: one round takes about 20 s on 4 cores, so
    * run it by hand with a longer --seconds (see README).
    */
  private def runMixed(): Store = {
    val model = new Model(Dim, MaxTokens)
    val s = servedSetUp(model, withText = true) { first =>
      ann(first, model); filtered(first, model); hybrid(first, model)
      lookup(first, model, seedDocs.head.url)
    }
    val versions = mutable.HashMap.empty[String, Int]
    val live = mutable.ArrayBuffer.empty[(Int, Int)] ++
      (for (c <- 0 until Containers; i <- 0 until SeedDocs) yield (c, i))
    val deleted = mutable.ArrayBuffer.empty[String]
    val next = Array.fill(Containers)(SeedDocs)
    var round = 0
    measure("round") {
      val rnd = draws.rnd
      // one small write batch: new documents, edited re-uploads, deletes
      val fresh = (0 until 10).map { j =>
        val c = (round * 3 + j) % Containers
        next(c) += 1
        (c, next(c) - 1)
      }
      def pick(): (Int, Int) = live.remove(rnd.nextInt(live.size))
      val edits = (0 until 6).map(_ => pick())
      val gone = (0 until 4).map { _ => val (c, i) = pick(); corpus.url(c, i) }
      val docs = fresh.map { case (c, i) => corpus.doc(c, i) } ++ edits.map { case (c, i) =>
        val v = versions.getOrElse(corpus.url(c, i), 0) + 1
        versions(corpus.url(c, i)) = v
        corpus.doc(c, i, v)
      }
      val t0 = System.nanoTime()
      op("batch") {
        processBatch(s, docs)
        sqlDelete(s, gone)
      }()
      docs.foreach(model.put)
      gone.foreach(model.remove)
      cur.chunksCommitted += docs.map(d => model.rows(d.url).size).sum
      live ++= fresh ++ edits
      deleted ++= gone
      op("sync")(catchUp(s))()
      sample("searchable") += (System.nanoTime() - t0) / 1e6
      // read-your-writes: an edited document, a deleted one, then a request
      lookup(s, model, corpus.url(edits.head._1, edits.head._2))
      lookup(s, model, deleted(rnd.nextInt(deleted.size)))
      round % 3 match {
        case 0 => ann(s, model)
        case 1 => filtered(s, model)
        case _ => hybrid(s, model)
      }
      round += 1
      if (round % 2 == 0) op("maintain") {
        span("sink.checkpoint")(s.mtf.checkpoint())
        span("ops.AutoOptimize.run")(AutoOptimize.run(spark, s.table, Seq(s.vidx), Seq(s.tidx)))
      }()
    }
    storeCheck(Checks.storeMatches(s.store, model))
    s
  }

  // ---- run + report ---------------------------------------------------

  def run(): Unit = {
    val s = o.workload match {
      case "ingest" => runIngest()
      case "search" => runSearch()
      case "mixed" => runMixed()
    }
    val storage = Checks.storage(s.store, Seq(s.table, s.vidx, s.tidx))
    val hash = Checks.storeHash(s.store)
    val p = plain

    val e2e: Seq[(String, (Double, String))] = Seq(
      "setup_s" -> (Stats.quantile(setupSecs.toSeq, 0.5), "s"),
      "op_p50_ms" -> (Stats.quantile(p.units.toSeq, 0.5), "ms"),
      "ops_per_s" -> (p.unitsPerSec, "1/s"),
      "ok_frac" -> (1.0 - failed.toDouble / attempted, "1"),
      "space_amp" -> (storage("space_amp"), "x"),
      "driver_heap_mb" -> (p.heapMb, "MB"))

    // the named end-to-end metrics, null where the workload has no sample
    def p50(k: String) = if (p.xs(k).isEmpty) None else Some(Stats.quantile(p.xs(k), 0.5))
    def n(k: String) = Map("n" -> p.xs(k).size.toString)
    def tail(v: Seq[Double]) = (Stats.tail(v).map(_._2),
      Map("n" -> v.size.toString, "pct" -> Stats.tail(v).fold("none")(_._1.toString)))
    val reqKinds = Seq("ann", "hybrid", "filtered", "lookup")
    val (batchTail, batchTailCtx) = tail(p.xs("batch"))
    val (searchTail, searchTailCtx) = tail(reqKinds.flatMap(p.xs))
    val named: Seq[(String, Option[Double], String, Map[String, String])] = Seq(
      ("setup_s", Some(e2e.head._2._1), "s", Map("n" -> setupSecs.size.toString)),
      ("ingest_chunks_per_s", if (p.writeMs > 0) Some(p.chunksCommitted / (p.writeMs / 1000.0)) else None,
        "chunks/s", Map("chunks" -> p.chunksCommitted.toString)),
      ("batch_p50_ms", p50("batch"), "ms", n("batch")),
      ("batch_tail_ms", batchTail, "ms", batchTailCtx),
      ("searchable_p50_ms", p50("searchable"), "ms", n("searchable"))) ++
      reqKinds.map(k => (s"${k}_p50_ms", p50(k), "ms", n(k))) ++ Seq(
      ("search_tail_ms", searchTail, "ms", searchTailCtx),
      ("recall_at_10", p.recall, "1", Map("n" -> (p.recallTotal / K).toString)),
      ("failed_frac", Some(failed.toDouble / attempted), "1", Map("attempted" -> attempted.toString)),
      ("space_amp", Some(storage("space_amp")), "x", Map()),
      ("driver_heap_mb", Some(p.heapMb), "MB", Map()))

    val ctx = Seq(
      "workload" -> o.workload, "seed" -> o.seed.toString, "seconds" -> o.seconds.toString,
      "trace" -> (if (o.trace) "1" else "0"), "nproc" -> cores.toString,
      "jvm" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "none"),
      "source_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA256", "none"),
      "dim" -> Dim.toString, "containers" -> Containers.toString, "setups" -> Setups.toString,
      "seed_docs_per_container" -> SeedDocs.toString, "batch_docs" -> BatchDocs.toString,
      "timed_s" -> f"${p.secs}%.3f", "unit" -> unitKind, "units" -> p.units.size.toString,
      "store_docs" -> storage("docs").toLong.toString, "store_chunks" -> storage("chunks").toLong.toString,
      "content_hash" -> f"$hash%016x")
    println("perfbench context " + Json.obj(ctx.map { case (k, v) => k -> Json.str(v) }))
    println("perfbench report " + Json.obj(named.map { case (k, v, u, extra) =>
      k -> Json.obj(Seq("value" -> v.fold("null")(Json.num), "unit" -> Json.str(u)) ++
        extra.toSeq.sortBy(_._1).map { case (a, b) => a -> Json.str(b) }) }))
    failures.foreach(f => println(s"perfbench failure $f"))

    val metrics =
      if (!o.trace) e2e
      else {
        val t = traced
        val spans = tracer.report()
        println("perfbench trace " + Json.obj((spans + ("counters" -> t.counts.toMap.map {
            case (k, v) => k -> v.toDouble })).toSeq.sortBy(_._1).map { case (k, m) =>
          k -> Json.obj(m.toSeq.sortBy(_._1).map { case (a, b) => a -> Json.num(b) }) }))
        def c(k: String) = t.counts.getOrElse(k, 0L).toDouble
        val written = spans.collect { case (k, m) if !k.startsWith(Tracer.SplitSpan + ".") =>
          m.getOrElse("output_bytes", 0.0) }.sum
        Layers.metrics(spans, Seq(
          "embed.calls" -> (c("embed.calls"), "count"), "embed.texts" -> (c("embed.texts"), "count"),
          "embed.ms" -> (c("embed.nanos") / 1e6, "ms"),
          "pipeline.docs" -> (c("pipeline.docs"), "count"), "pipeline.chunks" -> (c("pipeline.chunks"), "count"),
          "pipeline.quarantined" -> (c("pipeline.quarantined"), "count"),
          "sink.versions" -> (storage("versions"), "count"), "sink.data_files" -> (storage("data_files"), "count"),
          "sink.data_bytes" -> (storage("data_bytes"), "bytes"), "sink.log_bytes" -> (storage("log_bytes"), "bytes"),
          "sink.bytes_written_per_user_byte" -> (if (t.userBytes > 0) written / t.userBytes else 0.0, "ratio"),
          "ops.VectorIndex.queryIvfPq.recall_at_10" -> (t.recall.getOrElse(0.0), "1"),
          "trace.op_p50_ms" -> (Stats.quantile(t.units.toSeq, 0.5), "ms"),
          "trace.ops_per_s" -> (t.unitsPerSec, "1/s"),
          "trace.overhead_frac" -> (plain.unitsPerSec / t.unitsPerSec - 1.0, "ratio")))
      }
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
