package perfbench

import java.nio.charset.StandardCharsets.{UTF_16LE, UTF_8}

/** One generated blob: its url (the store's `document_url`), the
  * source container it sits in, and the raw bytes the pipeline decodes.
  */
final case class Doc(url: String, container: Int, bytes: Array[Byte])

/** A seeded query from the fixed pool: text to embed, BM25 terms and
  * the source container a filtered request restricts to.
  */
final case class Query(text: String, terms: Seq[String], container: Int)

/** Seeded topic-mixture corpus of `.txt`/`.md` blobs.
  *
  * Every document draws most of its words from one dominant topic, some
  * from a secondary topic and the rest from a shared vocabulary, so a
  * bag-of-words embedding puts documents of one topic near each other
  * and ANN recall means something. Containers favour two topics each,
  * which gives container-filtered queries related neighbours. A share
  * of the blobs carry a UTF-8 or UTF-16LE byte-order mark, CRLF line
  * ends or non-ASCII words, the shapes the decoder has to handle.
  *
  * Every document is a pure function of (seed, container, index,
  * version), so generation order never changes the bytes.
  */
final class Corpus(seed: Long, val containers: Int) {
  import Corpus._

  private val vocab = new java.util.Random(seed)
  private def word(r: java.util.Random): String =
    (0 until 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
  private val topics: Array[Array[String]] =
    Array.fill(Topics)(Array.fill(TopicWords)(word(vocab)))
  private val general: Array[String] = Array.fill(GeneralWords)(word(vocab))

  private def rng(parts: Long*): java.util.Random =
    new java.util.Random(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) =>
      (h ^ p) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL))

  private def favoured(container: Int): (Int, Int) =
    (container % Topics, (container * 5 + 3) % Topics)

  def url(container: Int, index: Int): String = {
    val ext = if (rng(container, index, -1L).nextInt(10) < 6) "md" else "txt"
    f"https://bench.blob.core.windows.net/c$container%02d/doc-$index%06d.$ext"
  }

  /** The document at (container, index); `version` > 0 is an edited
    * re-upload of the same url with new text.
    */
  def doc(container: Int, index: Int, version: Int = 0): Doc = {
    val u = url(container, index)
    val r = rng(container, index, version.toLong)
    val (fa, fb) = favoured(container)
    val main = if (r.nextInt(10) < 7) (if (r.nextBoolean()) fa else fb)
      else r.nextInt(Topics)
    val second = r.nextInt(Topics)
    val nonAscii = r.nextInt(5) == 0
    def sentence(): String = {
      val n = 8 + r.nextInt(9)
      val ws = (0 until n).map { _ =>
        val p = r.nextInt(100)
        if (nonAscii && p < 3) Accented(r.nextInt(Accented.length))
        else if (p < 55) topics(main)(r.nextInt(TopicWords))
        else if (p < 75) topics(second)(r.nextInt(TopicWords))
        else general(r.nextInt(GeneralWords))
      }
      ws.head.capitalize + " " + ws.tail.mkString(" ") + "."
    }
    def paragraph(): String =
      (0 until 4 + r.nextInt(4)).map(_ => sentence()).mkString(" ")
    val paras = (0 until 6 + r.nextInt(7)).map(_ => paragraph())
    val markdown = u.endsWith(".md")
    val text =
      if (markdown) {
        val title = s"# ${topics(main)(r.nextInt(TopicWords)).capitalize} " +
          s"${general(r.nextInt(GeneralWords))} v$version"
        (title +: paras.zipWithIndex.flatMap { case (p, i) =>
          if (i % 3 == 0) Seq(s"## ${topics(second)(i % TopicWords).capitalize}", p)
          else Seq(p)
        }).mkString("\n\n")
      } else {
        val nl = if (r.nextInt(10) < 3) "\r\n" else "\n"
        paras.mkString(nl + nl)
      }
    val enc = r.nextInt(100)
    val bytes =
      if (enc < 10) Bom8 ++ text.getBytes(UTF_8)
      else if (enc < 16) Bom16le ++ text.getBytes(UTF_16LE)
      else text.getBytes(UTF_8)
    Doc(u, container, bytes)
  }

  /** Fixed pool of queries; requests draw from it with Zipf skew so
    * repeated work exists for a future cache to find.
    */
  def queryPool(size: Int): IndexedSeq[Query] = (0 until size).map { i =>
    val r = rng(-7L, i.toLong)
    val t = r.nextInt(Topics)
    val topicWords = (0 until 7).map(_ => topics(t)(r.nextInt(TopicWords)))
    val ws = topicWords ++ (0 until 3).map(_ => general(r.nextInt(GeneralWords)))
    val container = (0 until containers).find(c => favoured(c)._1 == t)
      .getOrElse(r.nextInt(containers))
    Query(ws.mkString(" "), topicWords.distinct.take(3), container)
  }
}

object Corpus {
  val Topics = 24
  val TopicWords = 48
  val GeneralWords = 400
  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti",
    "vo", "ze", "pa", "do", "fe", "gu", "hi", "ja", "be", "co", "di", "fu",
    "ga", "ho", "ki", "lu", "ma", "no", "pi", "re", "so", "tu", "va", "wi",
    "xo", "yu", "an", "el", "or", "is", "um")
  private val Accented = Array("café", "naïve", "Zürich", "façade", "résumé",
    "smörgåsbord", "São", "Ångström", "piñata", "Straße", "Dvořák", "東京",
    "データ", "ñandú", "Þórr")
  private val Bom8 = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
  private val Bom16le = Array(0xFF, 0xFE).map(_.toByte)

  /** Zipf(s) sampler over `n` ranks. */
  final class Zipf(n: Int, s: Double, r: java.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
