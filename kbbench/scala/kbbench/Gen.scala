package kbbench

import java.util.SplittableRandom
import graft.core.{InputDoc, Span, SpanOps}

/** Seeded input generators. Every value is a pure function of
  * (seed, index), so the same seed gives byte-identical inputs and a
  * prefix of a larger draw equals a smaller draw.
  *
  * Documents follow the input-table shape `(doc_id, spans[kind, text,
  * media_ref, offset])`. Text is drawn from the 30-word vocabulary of
  * the engine's synthetic corpus, so the gazetteer, the regex NER and
  * the linker see the same token mix they see on the corpus; the seed
  * varies length, date tokens, span splits and media spans.
  */
object Gen {

  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  private val MediaKinds = Array("img", "vid", "aud")

  /** Stream of independent generators, one per (seed, stream, index). */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i)

  private def dateToken(r: SplittableRandom): String = {
    val y = 1990 + r.nextInt(40)
    val m = 1 + r.nextInt(12)
    val d = 1 + r.nextInt(28)
    if (r.nextBoolean()) f"$y%04d-$m%02d-$d%02d" else s"$m/$d/$y"
  }

  /** Document `i` of the draw for `seed`. */
  def doc(seed: Long, i: Int): InputDoc = {
    val r = rng(seed, 1, i)
    val id = f"s$seed%d-d$i%07d"
    val nWords = 10 + r.nextInt(91)
    val words = Array.fill(nWords) {
      if (r.nextInt(100) < 3) dateToken(r) else Vocab(r.nextInt(Vocab.length))
    }
    // 1-3 text spans split at word boundaries; each keeps its trailing
    // space so the assembled text reads like the corpus text
    val nText = 1 + r.nextInt(math.min(3, nWords))
    val cuts = (1 until nWords).map(_ => r.nextInt(1 << 30))
      .zipWithIndex.sortBy(_._1).take(nText - 1).map(_._2 + 1).sorted
    val bounds = (0 +: cuts) :+ nWords
    val texts = bounds.sliding(2).map { case Seq(a, b) =>
      words.slice(a, b).mkString(" ") + (if (b < nWords) " " else "")
    }.toSeq
    // 0-2 media spans at seeded positions among the text spans
    val nMedia = r.nextInt(3)
    val spans = scala.collection.mutable.ArrayBuffer(
      texts.map(t => Span("text", t, "", 0)): _*)
    (0 until nMedia).foreach { j =>
      val kind = MediaKinds(r.nextInt(MediaKinds.length))
      spans.insert(r.nextInt(spans.size + 1),
        Span("media", "", s"media://$kind/$id/$j", 0))
    }
    InputDoc(id, SpanOps.withOffsets(spans.toSeq))
  }

  def docs(seed: Long, n: Int, from: Int = 0): Seq[InputDoc] =
    (from until from + n).map(doc(seed, _))

  /** Stable text rendering of inputs (determinism tests and digests). */
  def render(d: InputDoc): String =
    d.doc_id + "\u0001" + d.spans.map(s =>
      s"${s.kind}\u0002${s.text}\u0002${s.media_ref}\u0002${s.offset}").mkString("\u0003")

  def sha256(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
