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

  /** Text pieces for the linker properties: letters, spaces, punctuation,
    * characters whose case mapping changes their length or depends on
    * context (İ, ß, Σ/ς), and surrogate pairs.
    */
  private val linkPiece: Gen[String] = Gen.frequency(
    (6, Gen.alphaChar.map(_.toString)), (2, Gen.const(" ")),
    (1, Gen.oneOf(",", ".", "-", "'")),
    (2, Gen.oneOf("\u0130", "\u00df", "\u03a3", "\u03c2", "\u00c9")),
    (1, Gen.oneOf(0x1F600, 0x20000, 0x1D400).map(cp => new String(Character.toChars(cp)))))
  private def linkText(max: Int): Gen[String] =
    Gen.chooseNum(0, max).flatMap(n => Gen.listOfN(n, linkPiece).map(_.mkString))

  test("linker kernel: lev_sim, norm_score and NIL score == the Spark expressions they replaced (property)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.link.{Embed, Linker}
    // one mention against up to 14 titles; the kernel keeps the top 10
    val caseGen = for {
      mention <- linkText(12).map("m" + _)
      titles <- Gen.chooseNum(0, 14).flatMap(n => Gen.listOfN(n, linkText(14)))
    } yield (mention, titles)
    check(Prop.forAllNoShrink(Gen.listOfN(25, caseGen)) { cases =>
      // lower() stays Spark's, as in the linker
      val lowered = cases.flatMap { case (m, ts) => m +: ts }.distinct
        .toDF("s").select(col("s"), lower(col("s"))).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val scored = cases.zipWithIndex.map { case ((m, ts), i) =>
        val mEmb = Embed.embed(m)
        val em = Linker.EmbeddedMention("d", "a", i, "ORG", 0, 1, m, skip = false,
          -1L, "", "", mEmb)
        Linker.scoreMention(em, lowered(m), ts.zipWithIndex.iterator.map { case (t, j) =>
          val eEmb = Embed.embed(t + j) // distinct embeddings, some near-ties
          Linker.Hit(j.toLong, t, "ORG", lowered(t), Similarity.dot(mEmb, eEmb),
            Similarity.norm(mEmb), Similarity.norm(eEmb), eEmb)
        }, rerank = false)
      }
      // per kept candidate: the pre-kernel Spark expressions
      val kept = scored.flatMap(s => s.candidates.map { c =>
        (s.m.ann_id, c.entity_id, s.m.mention, c.title, Embed.embed(s.m.mention),
          Embed.embed(c.title + c.entity_id), c.lev_sim, c.norm_score)
      }).toDF("i", "e", "mention", "title", "m_emb", "e_emb", "lev", "norm")
      val perCand = kept.select(col("lev"), col("norm"),
          (lit(1.0) - levenshtein(lower(col("mention")), lower(col("title"))).cast("double") /
            greatest(length(col("mention")), length(col("title")), lit(1)).cast("double"))
            .as("lev_spark"),
          (Similarity.dotCol(col("m_emb"), col("e_emb")) /
            pow(greatest(Similarity.normCol(col("m_emb")),
              Similarity.normCol(col("e_emb"))), 2)).as("norm_spark"))
        .collect().forall(r => r.getDouble(0) == r.getDouble(2) &&
          r.getDouble(1) == r.getDouble(3))
      // per mention: array_max features, the rank-1 features, the
      // list statistics, and the logistic as the Spark columns wrote it
      def stats(xs: Seq[Double]): (Double, Double, Double) = {
        val s = xs.sorted; val n = s.length
        val mean = s.sum / n
        val median = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
        (mean, median,
          if (n < 2) 0.0 else math.sqrt(s.map(x => (x - mean) * (x - mean)).sum / (n - 1)))
      }
      val w = Linker.NilWeights
      val perMention = scored.map { s =>
        val bi = s.candidates.map(_.bi_score)
        val (mean, median, stdev) = if (bi.isEmpty) (0.0, 0.0, 0.0) else stats(bi)
        (s.m.nil_score, bi, s.candidates.map(_.cross_score),
          s.candidates.headOption.map(_.jacc).getOrElse(0.0),
          s.candidates.headOption.map(_.lev_sim).getOrElse(0.0),
          mean, median, stdev, bi.nonEmpty)
      }.toDF("nil", "bi", "cross", "jacc", "lev", "mean", "median", "stdev", "has")
      val sig = lit(w(0)) * array_max(col("bi")) + lit(w(1)) * array_max(col("cross")) +
        lit(w(2)) * col("jacc") + lit(w(3)) * col("lev") + lit(w(4)) * col("mean") +
        lit(w(5)) * col("median") + lit(w(6)) * col("stdev") + lit(Linker.NilBias)
      val nilOk = perMention.select(col("nil"),
          when(!col("has"), lit(0.0)).otherwise(lit(1.0) / (lit(1.0) + exp(-sig))))
        .collect().forall(r => r.getDouble(0) == r.getDouble(1))
      perCand && nilOk && scored.forall(s => s.m.is_nil == (s.m.nil_score < 0.5))
    }, 6)
  }

  test("token probe + dedup == the token join + dropDuplicates it replaced (property)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.link.Linker
    // titles: repeated tokens, punctuation, leading whitespace, empty
    // titles and duplicate titles (tied scores)
    val tok = Gen.oneOf("spark", "fast", "key", "merge", "join", "Spark,", "key.",
      "\u0130stanbul", "stra\u00dfe", "\u03a3igma")
    val title = Gen.frequency(
      (6, Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, tok).map(_.mkString(" ")))),
      (1, Gen.const("")), (1, Gen.oneOf(" spark key", "  fast", "key key key")))
    val mention = Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.frequency((4, tok), (1, Gen.const("-")), (1, Gen.const("x"))))
        .map(_.mkString(" ")))
    check(Prop.forAllNoShrink(Gen.listOfN(30, title), Gen.listOfN(30, mention)) { (titles, mentions) =>
      val reg = titles.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "ORG", graft.link.Embed.embed(t)) }.toDF("id", "title", "type_", "emb")
      val ms = mentions.zipWithIndex.map { case (m, i) =>
        (i, m, graft.link.Embed.embed("ctx " + m)) }.toDF("ann_id", "mention", "m_emb")
      // the parent's shape, written out
      val regTokens = reg.select(col("id").as("entity_id"), col("emb").as("e_emb"))
        .join(reg.select(col("id").as("entity_id"),
          explode(split(lower(col("title")), "\\s+")).as("token")), "entity_id")
      val viaJoin = ms.withColumn("token", explode(array_distinct(split(
          regexp_replace(lower(col("mention")), "[^\\p{L}\\p{N}]+", " "), "\\s+"))))
        .filter(col("token") =!= "")
        .join(regTokens, Seq("token"))
        .withColumn("bi", Similarity.dotCol(col("m_emb"), col("e_emb")))
        .withColumn("mn", Similarity.normCol(col("m_emb")))
        .withColumn("en", Similarity.normCol(col("e_emb")))
        .dropDuplicates("ann_id", "entity_id")
        .select("ann_id", "entity_id", "bi", "mn", "en").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toSet
      // the probe, over the linker's own registry and mention columns
      val idx = new Linker.TokenIndex(
        Linker.regEntities(reg).as[Linker.RegEntity].collect())
      val viaProbe = Linker.withTokens(ms)
        .select("ann_id", "m_emb", "tokens").as[(Int, Array[Float], Seq[String])]
        .collect().flatMap { case (i, mEmb, tokens) =>
          val hits = idx.probe(tokens)
          assert(hits.distinct.size == hits.size, "probe returns each entity once")
          hits.map { e =>
            val ent = idx.entities(e)
            (i, ent.entity_id, Similarity.dot(mEmb, ent.e_emb), Similarity.norm(mEmb),
              idx.eNorms(e))
          }
        }.toSet
      viaProbe == viaJoin
    }, 8)
  }
}
