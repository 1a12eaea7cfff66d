package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.Similarity
import graft.cluster.NilCluster
import graft.core.{Mention, Span, SpanOps}
import graft.merge.MergeAnnsets

/** Property-based checks (SURVEY.md §5.3) — raw ScalaCheck driven from
  * ScalaTest (no scalatestplus bridge in the offline cache).
  */
class PropertySpec extends SparkTestBase {

  private def check(p: Prop, n: Int = 60): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  private val word = Gen.oneOf("spark", "merge", "join", "fast", "key",
    "slow", "part", "tablex", "scan", "kay", "keys")
  private val surfaceGen: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  test("local clustering is permutation-invariant (property)") {
    check(Prop.forAll(Gen.listOfN(12, surfaceGen)) { surfaces =>
      val a = NilCluster.clusterSurfacesLocal(surfaces)
      val b = NilCluster.clusterSurfacesLocal(surfaces.reverse)
      a.view.mapValues(_._1).toMap == b.view.mapValues(_._1).toMap
    })
  }

  test("levenshtein is a metric: symmetry + triangle inequality (property)") {
    val s = Gen.alphaLowerStr.map(_.take(8))
    check(Prop.forAll(s, s, s) { (a, b, c) =>
      val ab = Similarity.levenshtein(a, b)
      val ba = Similarity.levenshtein(b, a)
      val ac = Similarity.levenshtein(a, c)
      val cb = Similarity.levenshtein(c, b)
      ab == ba && ab <= ac + cb
    })
  }

  test("span withOffsets + assemble is consistent for any span list (property)") {
    val spanGen: Gen[Span] = Gen.oneOf(
      Gen.alphaNumStr.map(t => Span("text", t.take(12), "", -1)),
      Gen.alphaNumStr.map(m => Span("media", "", "ref:" + m.take(6), -1)))
    check(Prop.forAll(Gen.listOfN(6, spanGen)) { spans =>
      val off = SpanOps.withOffsets(spans)
      val text = SpanOps.assemble(off)
      off.filter(_.kind == "text").forall { s =>
        text.substring(s.offset, s.offset + s.text.length) == s.text
      } && SpanOps.invariantSeq(off).map(x => (x._1, x._2, x._3)) ==
        spans.map(s => (s.kind, s.text, s.media_ref))
    })
  }

  test("triHash is bit-identical to MurmurHash3.stringHash on trigrams (property)") {
    import scala.util.hashing.MurmurHash3
    val ch = Gen.frequency(
      (8, Gen.alphaNumChar), (2, Gen.oneOf('\u0001', '\u0002', ' ', '\u00e9', '\u4e2d')))
    check(Prop.forAll(ch, ch, ch) { (a, b, c) =>
      graft.link.Embed.triHash(a, b, c) ==
        MurmurHash3.stringHash(new String(Array(a, b, c)), 0x9747b28c)
    })
  }

  test("jaccard bounded in [0,1] and 1 iff equal token sets (property)") {
    val s = Gen.listOfN(4, word).map(_.mkString(" "))
    check(Prop.forAll(s, s) { (a, b) =>
      val j = Similarity.jaccardTokens(a, b)
      val sa = a.split("\\s+").toSet
      val sb = b.split("\\s+").toSet
      j >= 0.0 && j <= 1.0 && ((j == 1.0) == (sa == sb))
    })
  }

  test("jaccardTokens == regex/Set reference formula (r6 tokenizer property)") {
    // r6 replaced split("\\s+").toSet with a hand scan; pin bit-equality
    // against the original formula over strings with mixed whitespace
    // (every char class Java's \s matches), case, duplicates and empties
    val wsGen = Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r')
    val tokGen = Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n + 1, Gen.oneOf(Gen.alphaChar, Gen.const('X'), Gen.const('é'))))
      .map(_.mkString)
    val strGen = for {
      toks <- Gen.listOf(tokGen)
      seps <- Gen.listOfN(toks.length + 1, Gen.listOf(wsGen).map(_.mkString))
    } yield seps.zipAll(toks, "", "").flatMap { case (w, t) => Seq(w, t) }.mkString
    def ref(a: String, b: String): Double = {
      val sa = a.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
      val sb = b.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
      if (sa.isEmpty && sb.isEmpty) 1.0
      else { val u = (sa ++ sb).size; if (u == 0) 0.0 else (sa & sb).size.toDouble / u }
    }
    check(Prop.forAll(strGen, strGen) { (a, b) =>
      Similarity.jaccardTokens(a, b) == ref(a, b)
    })
  }

  // Random annotation sets of one document: nested, tied, same-span and
  // cross-type mentions from several annsets and sources (two of them
  // unmapped, priority 0), with repeated surfaces so the dedup and the
  // parts limits fire.
  private def docAnns(doc: String): Gen[Seq[Mention]] = {
    val ann = for {
      annset <- Gen.oneOf("entities_trie", "entities_regex", "a3")
      source <- Gen.oneOf("trie", "regex", "x", "y")
      tpe <- Gen.oneOf("PER", "ORG", "ROLE", "PRODUCT", "ALG", "OP", "TYPE",
        "LOC", "TRIBUNALE", "person", "Person", "DATE")
      start <- Gen.chooseNum(0, 14)
      len <- Gen.chooseNum(1, 7)
      mention <- Gen.oneOf("alpha", "alpha beta", "a b c d e f g",
        "a b c d e f g h i j k", "x y")
      score <- Gen.oneOf(1.0, 0.8, 0.5)
      skip <- Gen.oneOf(true, false)
      gid <- Gen.oneOf(-1L, 1L, 2L)
    } yield Mention(doc, annset, 0, tpe, start, start + len, mention, score,
      source, skip, gid)
    Gen.chooseNum(0, 14).flatMap(n => Gen.listOfN(n, ann))
  }

  test("mergeDoc is invariant under input permutation (property)") {
    check(Prop.forAll(docAnns("d"), Gen.long) { (anns, seed) =>
      MergeAnnsets.mergeDoc(new scala.util.Random(seed).shuffle(anns)) ==
        MergeAnnsets.mergeDoc(anns)
    }, 300)
  }

  test("merge == mergeDoc per document on multi-document sets (property)") {
    import spark.implicits._
    val docsGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.sequence[Seq[Seq[Mention]], Seq[Mention]](
        (0 until n).map(i => docAnns(s"d$i"))).map(_.flatten))
    check(Prop.forAll(docsGen) { anns =>
      val viaSpark = MergeAnnsets.merge(spark, Seq(spark.createDataset(anns)))
        .collect().toSeq.sortBy(m => (m.doc_id, m.ann_id))
      val perDoc = anns.groupBy(_.doc_id).toSeq.sortBy(_._1)
        .flatMap { case (_, ms) => MergeAnnsets.mergeDoc(ms) }
      viaSpark == perDoc
    }, 20)
  }

  test("context slicer == the Spark substr expressions it replaced (property)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // BMP letters, spaces and surrogate pairs (emoji, CJK Ext-B, math
    // alphanumerics); offsets run from 0 to past the end of the text
    val piece = Gen.frequency(
      (6, Gen.alphaChar.map(_.toString)), (2, Gen.const(" ")),
      (1, Gen.const("\u00e9")),
      (2, Gen.oneOf(0x1F600, 0x20000, 0x1D400).map(cp => new String(Character.toChars(cp)))))
    val row = for {
      text <- Gen.chooseNum(0, 80).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
      n = text.codePointCount(0, text.length)
      start <- Gen.chooseNum(0, n + 35)
      end <- Gen.chooseNum(0, n + 35)
    } yield (text, start, end)
    check(Prop.forAll(Gen.listOfN(200, row)) { rows =>
      val viaSpark = rows.toDF("text", "start", "end").select(
        col("text").substr(greatest(col("start") - lit(29), lit(1)),
          least(lit(30), col("start"))),
        col("text").substr(col("end") + lit(1), lit(30)))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      viaSpark == rows.map { case (t, s, e) => graft.link.Linker.contexts(t, s, e) }
    }, 5)
  }
}
