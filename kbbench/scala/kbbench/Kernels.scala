package kbbench

import graft.fixtures.Gazetteer
import graft.functions.Similarity
import graft.link.Embed
import graft.ner.TrieNer

/** Single-threaded timings of the hot kernels on fixed seeded inputs:
  * ns per call, median of five timed rounds after a warm-up round.
  */
object Kernels {

  private val KernelSeed = 20261017L
  private val Rounds = 5

  /** Results are summed into a volatile field so no call is dead code. */
  @volatile private var sink = 0.0

  private def time(run: Run, name: String, ops: Int)(call: Int => Double): Unit = {
    def round(): Double = {
      var acc = 0.0
      val t0 = System.nanoTime()
      var i = 0
      while (i < ops) { acc += call(i); i += 1 }
      val ns = (System.nanoTime() - t0).toDouble / ops
      sink += acc
      ns
    }
    round()
    run.metric(s"kern.${name}_ns", Run.median((0 until Rounds).map(_ => round())))
    run.metric(s"kern.${name}_ops", ops.toDouble * Rounds)
  }

  def apply(run: Run): Unit = {
    val texts = Gen.docs(KernelSeed, 256).map(d => graft.core.SpanOps.assemble(d.spans)).toArray
    val pats = Gazetteer.patterns
    val maxTok = Gazetteer.maxPatternTokens
    val surfaces = Array.tabulate(512) { i =>
      val r = Gen.rng(KernelSeed, 5, i)
      Seq.fill(2 + r.nextInt(2))(Gen.Vocab(r.nextInt(Gen.Vocab.length))).mkString(" ")
    }
    val vecs = surfaces.map(Embed.embed)
    val n = surfaces.length

    time(run, "trie_probe", 4096)(i =>
      TrieNer.findMatches(texts(i % texts.length), pats, maxTok).size)
    time(run, "damlev", 100000)(i =>
      Similarity.damerauLevenshtein(surfaces(i % n), surfaces((i * 7 + 1) % n)))
    time(run, "jaccard", 200000)(i =>
      Similarity.jaccardTokens(surfaces(i % n), surfaces((i * 7 + 1) % n)))
    time(run, "dot", 1000000)(i => Similarity.dot(vecs(i % n), vecs((i * 7 + 1) % n)))
    time(run, "embed_mention", 50000)(i =>
      Embed.embedMention(surfaces((i + 3) % n), surfaces(i % n), surfaces((i * 7 + 1) % n))(0))
  }
}
