package perfbench

import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import graft.chunk.Chunkers
import graft.embed.Embedder
import graft.extract.TextDecode

/** The embedding-service stand-in: the repo's `bow_embed` random
  * indexing recipe (every word hashes to a fixed random unit vector, a
  * text embeds as the normalised sum), so texts that share vocabulary
  * land near each other. Counts calls, texts and nanoseconds into
  * accumulators for the `embed.*` layer counters.
  */
final class BenchEmbedder(
    val dimensions: Int,
    val calls: LongAccumulator,
    val texts: LongAccumulator,
    val nanos: LongAccumulator) extends Embedder {

  override def embed(ts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val out = ts.map(BenchEmbedder.vector(_, dimensions))
    nanos.add(System.nanoTime() - t0)
    calls.add(1L)
    texts.add(ts.size.toLong)
    out
  }
}

object BenchEmbedder {
  def vector(text: String, dim: Int): Array[Float] =
    graft.functions.BowOps.encode(UTF8String.fromString(text), dim).toFloatArray()
}

/** One chunk row as the store should hold it. `id` is the content
  * address both indexes key on: xxhash64(document_url, chunk_id,
  * chunk_text), the same expression the benchmark hands the engine.
  */
final case class Chunk(
    url: String,
    chunkId: Int,
    text: String,
    page: Option[Int],
    emb: Array[Float],
    id: Long)

/** Plain-Scala model of the live store: every live document's expected
  * chunks, produced by the engine's pure chunking kernels and the
  * benchmark's embedder without Spark. The checks compare what the
  * engine returns against brute-force answers computed here.
  */
final class Model(dim: Int, maxTokens: Int) {
  private val docs = scala.collection.mutable.HashMap.empty[String, IndexedSeq[Chunk]]
  private val ids = scala.collection.mutable.HashSet.empty[Long]

  def put(d: Doc): Unit = {
    remove(d.url)
    val lines = TextDecode.decodeLines(d.bytes)
    // .txt and .md both take the markdown splitter, as the router does
    val chunks = Chunkers.chunkMarkdownLines(lines, maxTokens, 0).map { c =>
      Chunk(d.url, c.chunkNumber, c.text, c.pageNumber,
        BenchEmbedder.vector(c.text, dim), Model.contentId(d.url, c.chunkNumber, c.text))
    }.toIndexedSeq
    docs(d.url) = chunks
    chunks.foreach(c => ids += c.id)
  }

  def remove(url: String): Unit =
    docs.remove(url).foreach(_.foreach(c => ids -= c.id))

  def rows(url: String): IndexedSeq[Chunk] = docs.getOrElse(url, IndexedSeq.empty)
  def urls: Iterable[String] = docs.keys
  def live(id: Long): Boolean = ids.contains(id)
  def chunkCount: Long = docs.valuesIterator.map(_.size.toLong).sum

  /** Exact top-k by cosine distance among the rows `keep` admits. */
  def exactTopK(q: Array[Float], k: Int, keep: Chunk => Boolean = _ => true)
      : IndexedSeq[(Chunk, Double)] = {
    val heap = new java.util.PriorityQueue[(Chunk, Double)](k + 1,
      (a: (Chunk, Double), b: (Chunk, Double)) => java.lang.Double.compare(b._2, a._2))
    docs.valuesIterator.flatten.filter(keep).foreach { c =>
      val d = Model.cosineDistance(c.emb, q)
      if (heap.size < k) heap.add((c, d))
      else if (d < heap.peek()._2) { heap.poll(); heap.add((c, d)) }
    }
    val out = new Array[(Chunk, Double)](heap.size)
    var i = out.length - 1
    while (!heap.isEmpty) { out(i) = heap.poll(); i -= 1 }
    out.toIndexedSeq
  }

  /** Order-independent hash of the live rows: the sum, modulo 2^64, of
    * xxhash64(document_url, chunk_id, chunk_text, page_number,
    * embedding) per row — the same value [[Checks.storeHash]] computes
    * in Spark over the stored rows.
    */
  def contentHash: Long = docs.valuesIterator.flatten.map(Model.rowHash).sum
}

object Model {
  /** Seed of Spark's `xxhash64` function. */
  private val Seed = 42L

  def contentId(url: String, chunkId: Int, text: String): Long =
    XxHash64(Seq(Literal(url), Literal(chunkId), Literal(text)), Seed)
      .eval(null).asInstanceOf[Long]

  def rowHash(c: Chunk): Long =
    XxHash64(Seq(Literal(c.url), Literal(c.chunkId), Literal(c.text),
      Literal(c.page.map(Int.box).orNull, IntegerType),
      Literal(new GenericArrayData(c.emb.map(x => x: Any)),
        ArrayType(FloatType, containsNull = false))), Seed)
      .eval(null).asInstanceOf[Long]

  /** The engine's cosine distance kernel, in the same order of
    * operations (double accumulation over float inputs).
    */
  def cosineDistance(x: Array[Float], y: Array[Float]): Double = {
    var d = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      val a = x(i).toDouble; val b = y(i).toDouble
      d += a * b; nx += a * a; ny += b * b
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 1.0 else 1.0 - d / denom
  }
}
