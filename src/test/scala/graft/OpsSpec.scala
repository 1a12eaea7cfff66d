package graft

import graft.ops.{Dedup, Eval, SkewJoin}
import graft.functions.Codec
import org.apache.spark.sql.functions._

class OpsSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedJoin equals the plain join (hot head key)") {
    val large = (Seq.fill(500)("hot") ++ Seq("a", "b", "c"))
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("key", "payload")
    val small = Seq(("hot", "H"), ("a", "A"), ("b", "B")).toDF("key", "v")
    val plain = large.join(small, Seq("key")).collect().map(_.toString).sorted
    val salted = SkewJoin.saltedJoin(large, small, "key",
      Seq(col("payload")), salts = 8).collect().map(_.toString).sorted
    val adaptive = SkewJoin.adaptiveSaltedJoin(large, small, "key",
      Seq(col("payload")), salts = 8, hotThreshold = 100)
      .collect().map(_.toString).sorted
    assert(salted.sameElements(plain))
    assert(adaptive.sameElements(plain))
  }

  test("base64 float32 codec round-trips (little-endian, F10)") {
    val v = Array(1.5f, -2.25f, 0f, 3.14159f)
    assert(Codec.base64ToFloats(Codec.floatsToBase64(v)).sameElements(v))
    // little-endian layout: 1.0f == 00 00 80 3f
    assert(Codec.floatsToBase64(Array(1.0f)) == "AACAPw==")
    val df = Seq(Seq(0.5f, 2f)).toDF("v")
      .withColumn("b64", Codec.encodeVec(col("v")))
      .withColumn("back", Codec.decodeVec(col("b64")))
    val r = df.collect()(0)
    assert(r.getSeq[Float](r.fieldIndex("back")) == Seq(0.5f, 2f))
  }

  test("bCubed on a hand-computed example (A9)") {
    val assign = Seq(
      ("a", "c1", "x"), ("b", "c1", "x"), ("c", "c2", "x"), ("d", "c2", "y"))
      .toDF("item", "cluster", "gold")
    val (p, r) = Eval.bCubed(assign)
    assert(math.abs(p - 0.75) < 1e-9)
    assert(math.abs(r - (2.0 / 3 + 2.0 / 3 + 1.0 / 3 + 1.0) / 4) < 1e-9)
  }

  test("match-predicate taxonomy (strong/left/right/approximate)") {
    val pred = Seq(
      ("d", 0, 5, "PER"),   // strong
      ("d", 10, 14, "ORG"), // left (gold 10..20)
      ("d", 26, 30, "LOC"), // right (gold 22..30)
      ("d", 40, 44, "PER"), // approximate (gold 42..50)
      ("d", 90, 95, "PER")) // none
      .toDF("doc_id", "start", "end", "mention_type")
    val gold = Seq(
      ("d", 0, 5, "PER"), ("d", 10, 20, "ORG"),
      ("d", 22, 30, "ORG"), ("d", 42, 50, "PER"))
      .toDF("doc_id", "start", "end", "mention_type")
    val got = Eval.matchClasses(pred, gold).collect()
      .map(r => r.getInt(1) -> ((r.getString(3), r.getBoolean(4)))).toMap
    assert(got(0) == ("strong", true))
    assert(got(10) == ("left", true))
    assert(got(26) == ("right", false)) // LOC vs ORG: untyped right match
    assert(got(40) == ("approximate", true))
    assert(got(90)._1 == "none")
  }

  test("two-stage topKPerKey equals the window formulation (T5)") {
    import org.apache.spark.sql.expressions.Window
    val rows = (for (k <- 1 to 5; i <- 1 to 40)
      yield (s"key$k", i.toLong, ((i * 37) % 23).toDouble)).toDF("key", "id", "score")
    val byWindow = rows.withColumn("rnk", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("score").desc, col("id").asc)))
      .filter(col("rnk") <= 4)
      .select("key", "id", "score", "rnk")
      .collect().map(_.toString).sorted
    val byAgg = graft.ops.TopK.topKPerKey(rows, Seq("key"), "score", "id", 4)
      .select("key", "id", "score", "rnk")
      .collect().map(_.toString).sorted
    assert(byAgg.sameElements(byWindow))
  }

  test("hungarian assignment on a hand-computed matrix (A10)") {
    // optimal assignment: (0,1)=1, (1,0)=2, (2,2)=3 -> total 6
    val cost = Array(
      Array(4.0, 1.0, 3.0),
      Array(2.0, 0.0, 5.0),
      Array(3.0, 2.0, 2.0))
    val asg = Eval.hungarian(cost)
    val total = asg.map { case (i, j) => cost(i)(j) }.sum
    assert(asg.length == 3)
    assert(total == 5.0) // (0,1)+(1,0)+(2,2) = 1+2+2
  }

  test("CoNLL reader reconstructs mentions with offsets (S12)") {
    import graft.sources.Conll
    val lines = Seq(
      "-DOCSTART- (doc1)",
      "John\tB\tJohn_Smith",
      "Smith\tI\tJohn_Smith",
      "visited\tO\t",
      "Rome\tB\tRome",
      "",
      "-DOCSTART- (doc2)",
      "nothing\tO\t",
      "here\tO\t")
    val (texts, mentions) = Conll.parse(lines)
    assert(texts("doc1") == "John Smith visited Rome")
    assert(texts("doc2") == "nothing here")
    val m = mentions.map(x => x.mention -> x).toMap
    assert(m("John Smith").start == 0 && m("John Smith").end == 10)
    assert(m("Rome").start == 19 && m("Rome").end == 23)
    assert(texts("doc1").substring(m("Rome").start, m("Rome").end) == "Rome")
    assert(m("John Smith").entity == "John_Smith")
    assert(mentions.size == 2)
  }

  test("minhash LSH candidates have full recall on high-jaccard pairs") {
    // two near-identical docs + noise docs
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o q"),
      (3L, "z y x w v u t s r q p o n m l k"),
      (4L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(sh, 0.5).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(sh, 0.5).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 2L)))
    assert(lsh == exact)
  }

  test("prefix-filtered Jaccard pairs equal the uncapped exact join") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o q"),
      (3L, "z y x w v u t s r q p o n m l k"),
      (4L, "a b c d e f g h i j"),
      (5L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val exact = Dedup.ngramJaccardPairs(sh, t, maxDf = Int.MaxValue)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pref = Dedup.prefixJaccardPairs(sh, t)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pref == exact, s"threshold $t: prefix filtering must be lossless")
    }
  }

  test("prefix filter keeps stop-shingles out of the candidate join") {
    // 40 docs share a stop-shingle; only docs 1/2 are true near-dups.
    // An all-shingle self-join would generate 780 candidate pairs
    // through the stop-shingle alone; the prefix join generates only
    // pairs sharing a RARE prefix shingle.
    val stop = "x y z"
    val docs = ((1L, s"$stop a b c d e f g h") +:
      (2L, s"$stop a b c d e f g q") +:
      (3 to 40).map(i => (i.toLong, s"$stop u$i v$i w$i t$i"))).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val cands = Dedup.prefixCandidates(sh, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.size < 10, s"stop-shingle must not fan out pairs: $cands")
    val pairs = Dedup.prefixJaccardPairs(sh, 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("canonicalize resolves chained near-dup pairs per component") {
    // chain 1~2, 2~3 (1 and 3 NOT directly paired) + isolated pair 7~9:
    // per-pair keep/drop would over-delete the chain; per-component
    // canonical keeps exactly one doc per group
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    val canon = Dedup.canonicalize(spark, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // kept set = one representative per component
    assert(canon.filter { case (d, c) => d == c }.keySet == Set(1L, 7L))
  }

  test("bestRepresentatives keeps the max-quality member per component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    val canon = Dedup.canonicalize(spark, pairs)
    val quality = Seq((1L, 10L), (2L, 40L), (3L, 40L), (7L, 5L), (9L, 8L))
      .toDF("doc_id", "n_chars")
    val reps = Dedup.bestRepresentatives(canon, quality, "n_chars")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // cluster {1,2,3}: 2 and 3 tie at 40 -> min doc_id 2 wins; 3 members
    // cluster {7,9}: 9 outranks the min-id canonical 7
    assert(reps === Map(1L -> ((2L, 40L, 3L)), 7L -> ((9L, 8L, 2L))))
  }

  test("shingles: docs shorter than n tokens yield no shingles (no crash)") {
    val docs = Seq(
      (1L, "ab"),                // 1 token  < n=3
      (2L, "ab cd"),             // 2 tokens < n=3
      (3L, "ab cd ef"),          // exactly n -> 1 shingle
      (4L, "a b c d"))           // 2 shingles
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(!sh.exists(_._1 == 1L) && !sh.exists(_._1 == 2L))
    assert(sh.count(_._1 == 3L) == 1 && sh.contains((3L, "ab cd ef")))
    assert(sh.count(_._1 == 4L) == 2)
    // end-to-end: the pair ops survive a short doc in the corpus
    assert(Dedup.ngramJaccardPairs(sh.toSeq.toDF("doc_id", "shingle"), 0.5)
      .count() >= 0)
  }

  test("match tie-break prefers the typed gold within a rank class") {
    // pred 0..10 overlaps two 'approximate' golds: PER (type match) and
    // ORG; the typed one must win the per-span min
    val pred = Seq(("d", 0, 10, "PER")).toDF("doc_id", "start", "end", "mention_type")
    val gold = Seq(("d", 2, 15, "ORG"), ("d", 3, 16, "PER"))
      .toDF("doc_id", "start", "end", "mention_type")
    val r = Eval.matchClasses(pred, gold).collect()(0)
    assert(r.getString(3) == "approximate")
    assert(r.getBoolean(4), "typed gold must win the tie")
  }

  test("sign-LSH embedding pairs: subset of the exact cross join, planted dup found") {
    // near-identical vectors (one flipped low-order dim) + an orthogonal one
    val v1 = Array.tabulate(16)(i => if (i < 8) 1.0f else 0.1f)
    val v2 = Array.tabulate(16)(i => if (i < 8) 1.0f else 0.09f)
    val v3 = Array.tabulate(16)(i => if (i % 2 == 0) -1.0f else 1.0f)
    val emb = Seq((1L, v1.toSeq), (2L, v2.toSeq), (3L, v3.toSeq))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.9))
    val lsh = pairs(Dedup.signLshPairs(emb, "vec_id", "embedding", 0.9))
    assert(exact == Set((1L, 2L)))
    assert(lsh.subsetOf(exact), "LSH verify stage removes false positives")
    assert(lsh.contains((1L, 2L)), "sign-agreeing near-dup must be recalled")
  }

  test("hot-shingle df cap keeps the pair join sub-quadratic under skew") {
    // 40 docs share a stop-shingle prefix; only docs 1/2 are true near-dups
    val stop = "x y z"
    val docs = ((1L, s"$stop a b c d e f g h") +:
      (2L, s"$stop a b c d e f g q") +:
      (3 to 40).map(i => (i.toLong, s"$stop u$i v$i w$i t$i"))).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    // cap 10 drops the df=40 stop-shingle ("x y z"); the near-dup pair
    // still shares its rare shingles and survives, noise pairs vanish
    val capped = Dedup.ngramJaccardPairs(sh, 0.5, maxDf = 10)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
  }

  test("paragraph dedup: first corpus-wide occurrence survives, in place") {
    // doc 1 and doc 2 share segment "a b c d" (4-token segments); doc 1
    // wins by doc_id order. doc 3 is a full duplicate of doc 1's first
    // segment only — everything it has gets dropped. Short tail segments
    // keep their (shorter) text verbatim.
    val docs = Seq(
      (1L, "a b c d e f g h tail"),
      (2L, "a b c d q r s t"),
      (3L, "a b c d"))
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text", segTokens = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((3L, 0L, "a b c d e f g h tail")))
    assert(out(2L) == ((1L, 1L, "q r s t")))
    assert(out(3L) == ((0L, 1L, "")))
  }

  test("rrf fuses bounded top-k lists; missing side contributes nothing") {
    // lexical ranker: 1 > 2 > 3; dense ranker: 2 > 4. perList = 2 cuts
    // doc 3 from the lexical list entirely. Doc 2 appears in both lists
    // and must win; docs 1 and 4 carry a single-list contribution with
    // the absent rank reported as 0.
    val lex = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("doc_id", "score")
    val dense = Seq((2L, 0.9), (4L, 0.8)).toDF("doc_id", "cos")
    val out = graft.ops.Fusion.rrf(lex, col("score"), dense, col("cos"),
      "doc_id", perList = 2, k = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    def rrf(ranks: Int*): Long =
      math.round(ranks.map(r => 1.0 / (r + 60.0)).sum * 1e9)
    assert(out.toSeq == Seq(
      (2L, 2, 1, rrf(2, 1)),
      (1L, 1, 0, rrf(1)),
      (4L, 0, 2, rrf(2))))
  }

  test("bigram LM: conditional probabilities from one corpus aggregate") {
    // "a b a b" yields bigrams (a,b),(b,a),(a,b); "a c" yields (a,c).
    // Prefix counts derive from the bigram counts: c(a ·)=3, c(b ·)=1.
    // The 1-token doc "z" must contribute NO bigrams (the slice/zip pair
    // shape yields an empty list — a sequence(1, size-1) shape would
    // DESCEND for size=1 and emit null-padded pairs).
    val docs = Seq("a b a b", "a c", "z").toDF("text")
    val out = graft.ops.TextAnalysis.bigramLm(docs, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("a", "b", 2L, 666667L),
      ("a", "c", 1L, 333333L),
      ("b", "a", 1L, 1000000L)))
  }

  test("pmi collocations: marginals from the bigram frame, min-count floor") {
    // "x y x y x y" -> xy:3, yx:2; "a b" -> ab:1. T=6; c(x·)=3, c(y·)=2,
    // c(·y)=3, c(·x)=2. minCount=2 drops ab. Expectations computed with
    // the same IEEE ln + quantize the engines run.
    val docs = Seq("x y x y x y", "a b").toDF("text")
    val out = graft.ops.TextAnalysis.pmiCollocations(docs, "text",
      minCount = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    def pmi(n: Long, n1: Long, n2: Long, t: Long): Long =
      math.round(math.log(n.toDouble * t.toDouble / (n1.toDouble * n2.toDouble)) * 1e6)
    assert(out.toSeq == Seq(
      ("y", "x", 2L, pmi(2, 2, 2, 6)),   // ln 3 — rarer pair, higher PMI
      ("x", "y", 3L, pmi(3, 3, 3, 6))))  // ln 2
  }

  test("tfidf top terms: per-doc rank over smoothed idf") {
    val docs = Seq((1L, "apple apple banana"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    def score(tf: Long, df: Long, n: Long): Long =
      math.round(tf.toDouble * (math.log((n + 1.0) / (df + 1.0)) + 1.0) * 1e6)
    assert(out.toSeq == Seq(
      (1L, 1, "apple", 2L, score(2, 1, 2)),
      (1L, 2, "banana", 1L, score(1, 2, 2)),
      (2L, 1, "cherry", 1L, score(1, 1, 2)),
      (2L, 2, "banana", 1L, score(1, 2, 2))))
  }

  test("token entropy: quantized terms sum exactly; degenerate doc is 0") {
    val docs = Seq((1L, "a a b b"), (2L, "x")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.tokenEntropy(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val half = math.round(-0.5 * math.log(0.5) * 1e9)
    assert(out.toSeq == Seq((1L, 4L, 2 * half), (2L, 1L, 0L)))
  }

  test("incremental dedup: new-vs-old leg only, matches exact jaccard") {
    // docs 1,3 (new) near-dup docs 2,4 (old) respectively; 1~3 are ALSO
    // near-dups of each other but new×new pairs must NOT appear; 5 is
    // old and unique.
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (3L, base + " x"), // new (odd)
      (2L, base), (4L, base + " x"), // old (even)
      (5L, "completely different content with no overlap at all here now"))
      .toDF("doc_id", "text")
    val sh = graft.ops.Dedup.shingles(docs, "doc_id", "text")
    val out = graft.ops.Dedup.incrementalPairs(sh,
      graft.ops.Dedup.minhashSignatures(sh), col("doc_id") % 2 === 0, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)) && out.contains((3L, 4L)))
    assert(out.forall { case (a, b) => a % 2 == 1 && b % 2 == 0 })
    assert(!out.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("skyline: two-phase result equals brute-force dominance filter") {
    val out = SparkEntry.queries("q54_skyline")(spark, sfUnit)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pts = spark.read.parquet(s"$sfUnit/orders.parquet")
      .selectExpr("CAST(round(o_totalprice * 100) AS LONG) AS p",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS d")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = pts.filter { case (p, d) =>
      !pts.exists { case (p2, d2) =>
        p2 <= p && d2 >= d && (p2 < p || d2 > d) } }.toSet
    assert(out.nonEmpty && out == brute)
  }

  test("perplexity: add-one bigram LM, quantized NLL, exact mean") {
    // corpus LM from both docs: c(ab)=2, c(ba)=1, c(ac)=1; V = |{a,b,c}|
    // = 3 distinct successors; n1(a·)=3, n1(b·)=1.
    val docs = Seq((0L, "a b a b"), (1L, "a c")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.perplexity(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    def nll(n12: Long, n1: Long): Long =
      math.round(-math.log((n12 + 1.0) / (n1 + 3.0)) * 1e6)
    def ppl(sum: Long, n: Long): Long =
      math.round(math.exp(sum.toDouble / (n.toDouble * 1e6)) * 1e6)
    val d0 = 2 * nll(2, 3) + nll(1, 1)
    val d1 = nll(1, 3)
    assert(out.toSeq == Seq(
      (0L, 3L, d0, ppl(d0, 3)), (1L, 1L, d1, ppl(d1, 1))))
  }

  test("label propagation: neighbor-majority with min-label tie-break") {
    // triangle {1,2,3} + pendant 3-4. Round 1 (labels = self): v1 ties
    // {2,3} -> 2; v2 ties {1,3} -> 1; v3 ties {1,2,4} -> 1; v4 sees {3}.
    // Round 2 collapses everything to community 1.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val edges = graft.ops.Graph.symmetrize(pairs)
    def run(k: Int): Map[Long, Long] =
      graft.ops.Graph.labelPropagation(edges, k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L))
    assert(run(2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("dsir weights: log-ratio of slice bigram LMs, quantized terms") {
    // target slice (even ids) = "a b a b": ct(ab)=2, ct(ba)=1; source
    // (odd) = "a c": cs(ac)=1. tt=3, ts=1, v=3 (joint vocab ab,ba,ac).
    val docs = Seq((0L, "a b a b"), (1L, "a c")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.dsirWeights(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    def term(ct: Long, cs: Long): Long =
      math.round(math.log(((ct + 1.0) / 6.0) / ((cs + 1.0) / 4.0)) * 1e6)
    assert(out.toSeq == Seq(
      (0L, 3L, 2 * term(2, 0) + term(1, 0)),
      (1L, 1L, term(0, 1))))
  }

  test("kmeans step: argmax assignment, quantized element-wise mean") {
    // seeds = 2 smallest ids (axis vectors); id 2 joins cluster 0 and
    // id 3 cluster 1 by cosine. Quantization (round(v*1e6) longs) makes
    // the means exact: (1.0+0.9)/2 = 0.95 despite 0.9f != 0.9 as double.
    val emb = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.1f, 0.9f))).toDF("id", "vec")
    val out = graft.cluster.KMeans.step(emb, graft.cluster.KMeans.seed(emb, 2))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      (0L, 0, 2L, 0.95), (0L, 1, 2L, 0.05),
      (1L, 0, 2L, 0.05), (1L, 1, 2L, 0.95)))
  }

  test("kl divergence: one conditional aggregate, add-one smoothing") {
    // P = even ids {a a b}, Q = odd ids {a c}; joint vocab {a,b,c}, v=3,
    // tp=3, tq=2. Per-word terms quantized then summed exactly.
    val docs = Seq((0L, "a a b"), (1L, "a c")).toDF("doc_id", "text")
    val Seq((nVocab, kl)) = graft.ops.TextAnalysis
      .klDivergence(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def term(cp: Long, cq: Long): Long = {
      val p = (cp + 1.0) / 6.0; val q = (cq + 1.0) / 5.0
      math.round(p * math.log(p / q) * 1e9)
    }
    assert(nVocab == 3L)
    assert(kl == term(2, 1) + term(1, 0) + term(0, 1))
  }

  test("simhash pairs find the planted near-dup only") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o q"),
      (3L, "z y x w v u t s r q p o n m l k"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sh, 16).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("ANN sign-LSH hot-bucket cap: refine skewed orthant, drop degenerate") {
    // cap 20; 30 vectors all in the positive orthant on the leading 8
    // dims (ONE hot level-1 bucket, 30 > cap); the sign of dim 9 splits the
    // refinement into two sub-cap halves by id parity
    val vecs = (0 until 30).map { i =>
      val v = Array.fill(16)(0.1f + (i % 7) * 0.01f)
      v(8) = if (i % 2 == 0) 1f else -1f
      (i.toLong, v.toSeq)
    }.toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    val res = graft.ops.Ann.signLshTopK(vecs, 3, bucketCap = 20).collect()
    assert(res.nonEmpty, "refined hot bucket must still yield neighbors")
    // pairs only form within a refined sub-bucket (same dim-9 sign)
    res.foreach(r => assert(r.getLong(0) % 2 == r.getLong(1) % 2))
    // fully degenerate skew: identical sign pattern on BOTH levels ->
    // the refined bucket stays oversize and is dropped (bounded work,
    // graceful recall loss — never a quadratic blowup)
    val allSame = (0 until 30)
      .map(i => (i.toLong, Seq.fill(16)(0.5f + i * 0.001f)))
      .toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    assert(graft.ops.Ann.signLshTopK(allSame, 3, bucketCap = 20).count() == 0)
  }

  test("ANN IVF: probing all lists equals brute force; pruning stays deterministic") {
    // deterministic spread-out vectors (no float ties in the interior)
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(8)(j =>
        math.sin(i * 1.7 + j * 0.9).toFloat + (if (j == i % 8) 1.5f else 0f)))
    }.toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    val queries = vecs.filter(col("id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // nprobe = nlist probes every list -> candidate set = whole corpus
    // minus self, so IVF must reproduce the exact top-k
    val exact = rows(graft.ops.Ann.bruteForceTopK(queries, vecs, 4))
    val ivfAll = rows(graft.ops.Ann.ivfTopK(queries, vecs, 4, nlist = 8, nprobe = 8))
    assert(ivfAll == exact, "nprobe=nlist IVF must equal brute force")
    // pruned probing: per-query at most k rows, ranks contiguous from 1,
    // and two runs agree (deterministic assignment + tie-breaks)
    val p1 = rows(graft.ops.Ann.ivfTopK(queries, vecs, 4, nlist = 8, nprobe = 2))
    val p2 = rows(graft.ops.Ann.ivfTopK(queries, vecs, 4, nlist = 8, nprobe = 2))
    assert(p1 == p2)
    assert(p1.nonEmpty)
    p1.groupBy(_._1).foreach { case (_, g) =>
      assert(g.size <= 4 && g.map(_._3) == (1 to g.size).toSet)
    }
  }

  test("ANN sign-LSH accepts vectors shorter than 2*dims (ANSI-safe indexing)") {
    // bucket2 reads coordinates dims..2*dims-1; a 12-dim vector covers
    // only 4 of them — under Spark 4's default ANSI mode an element_at
    // past the end would THROW, so the refinement must use null-safe
    // indexing (missing coords contribute bit 0)
    val vecs = (0 until 6).map { i =>
      (i.toLong, Seq.tabulate(12)(j => if ((i + j) % 3 == 0) -0.2f else 0.3f))
    }.toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    val res = graft.ops.Ann.signLshTopK(vecs, 2)
    assert(res.count() >= 0) // materializes without INVALID_ARRAY_INDEX
  }

  test("ngram repetition flags the boilerplate doc, passes the clean one") {
    val docs = Seq(
      (1L, "a b a b a b"),      // bigrams: 5 total, 2 distinct -> flagged
      (2L, "u v w x y z"),      // all distinct -> clean
      (3L, "solo")              // shorter than n: zero n-grams, no crash
    ).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.ngramRepetition(docs, col("text"))
      .select("doc_id", "n_bigrams", "n_distinct_bigrams",
        "n_trigrams", "n_distinct_trigrams", "rep_flagged")
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getBoolean(5)))).toMap
    assert(r(1L) == ((5L, 2L, 4L, 2L, true)))
    assert(r(2L) == ((5L, 5L, 4L, 4L, false)))
    assert(r(3L) == ((0L, 0L, 0L, 0L, false)))
  }

  test("decontam counts distinct shared n-grams once per doc, broadcast plan") {
    val bench = Seq((100L, "the quick brown fox jumps over lazy dogs"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains the benchmark 5-gram twice -> must count ONCE
      (1L, "x quick brown fox jumps over y quick brown fox jumps over z"),
      (2L, "totally unrelated words in this document here"),
      // two DIFFERENT benchmark 5-grams -> counts 2
      (3L, "quick brown fox jumps over p q brown fox jumps over lazy")
    ).toDF("doc_id", "text")
    val hits = graft.ops.Decontam.hits(corpus, bench, "text", "doc_id", n = 5)
    val m = hits.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 3L -> 2L))
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("funnel: stage order and per-stage time bound enforced") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1 completes all three in order, inside 24h windows
      (1L, "view", ts("2024-01-01 00:00:00")),
      (1L, "click", ts("2024-01-01 01:00:00")),
      (1L, "purchase", ts("2024-01-01 02:00:00")),
      // u2: click 25h after view -> out of window
      (2L, "view", ts("2024-01-01 00:00:00")),
      (2L, "click", ts("2024-01-02 01:00:00")),
      // u3: click with no prior view -> no stages at all
      (3L, "click", ts("2024-01-01 00:00:00")),
      // u4: purchase 30h after click -> stops at click
      (4L, "view", ts("2024-01-01 00:00:00")),
      (4L, "click", ts("2024-01-01 01:00:00")),
      (4L, "purchase", ts("2024-01-02 07:00:00")),
      // u5: a purchase BEFORE the click must not count; the later one does
      (5L, "purchase", ts("2024-01-01 00:00:00")),
      (5L, "view", ts("2024-01-01 01:00:00")),
      (5L, "click", ts("2024-01-01 02:00:00")),
      (5L, "purchase", ts("2024-01-01 03:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val r = graft.ops.Funnel.stageCounts(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), windowSec = 24 * 3600)
      .collect().map(x => x.getString(1) -> x.getLong(2)).toMap
    assert(r == Map("view" -> 4L, "click" -> 3L, "purchase" -> 2L))
  }

  test("gap sessionize: boundary strictly-greater, per-user isolation") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: gaps 30min, exactly 1h (NOT a boundary: > is strict), 1h1s
      (1L, ts("2024-01-01 00:00:00"), 10L),
      (1L, ts("2024-01-01 00:30:00"), 11L),
      (1L, ts("2024-01-01 01:30:00"), 12L),
      (1L, ts("2024-01-01 02:30:01"), 13L),
      // u2: single event
      (2L, ts("2024-01-01 00:00:00"), 20L)
    ).toDF("user_id", "ts", "event_id")
    val gap1h = 3600L * 1000000
    val stats = graft.ops.Sessionize.userStats(ev, "user_id", "ts", "event_id", gap1h)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(stats(1L) == ((2L, 4L, 3L))) // sessions: {10,11,12}, {13}
    assert(stats(2L) == ((1L, 1L, 1L)))
    val ids = graft.ops.Sessionize.byGap(ev, "user_id", "ts", "event_id", gap1h)
      .select("event_id", "session_id").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(ids == Map(10L -> 1L, 11L -> 1L, 12L -> 1L, 13L -> 2L, 20L -> 1L))
  }

  test("bloom semi-join equals plain semi-join, probe prunes the scan") {
    import org.apache.spark.sql.functions.col
    val large = (1L to 2000L).map(i => (i % 400, s"row$i"))
      .toDF("k", "payload")
    val small = Seq(3L, 7L, 399L, 9999L).toDF("k") // 9999 matches nothing
    val got = graft.ops.BloomJoin.semiJoin(large, small, "k",
      expectedKeys = 16L)
    val want = large.join(small, Seq("k"), "left_semi")
    assert(got.collect().toSet === want.collect().toSet)
    assert(got.count() === 15L) // 3 live keys x 5 rows each
    // tiny bloom (16 keys): a missing key must still never produce rows
    val none = graft.ops.BloomJoin.semiJoin(
      large, Seq(123456L).toDF("k"), "k", expectedKeys = 16L)
    assert(none.count() === 0L)
    // the probe survives into the physical plan as a pre-shuffle filter on
    // the large side (a LocalRelation would constant-fold it away, so
    // assert on a parquet-backed scan)
    val li = spark.read.parquet(s"$sfUnit/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val keys = Seq(1L, 2L).toDF("l_partkey")
    val planned = graft.ops.BloomJoin.semiJoin(li, keys, "l_partkey", 16L)
    assert(planned.queryExecution.executedPlan.toString
      .contains("might_contain"))
    // null keys on the large side are dropped, as in a plain semi-join
    val withNull = large.union(Seq((Option.empty[Long], "nul"))
      .toDF("k", "payload").select(col("k").cast("long"), col("payload")))
    val gotNull = graft.ops.BloomJoin.semiJoin(withNull, small, "k",
      expectedKeys = 16L)
    assert(gotNull.count() === 15L)
  }

  test("bm25: hand-checked scores, tf ordering, absent docs excluded") {
    val docs = Seq(("d1", "x x y"), ("d2", "x z z"), ("d3", "z z z"))
      .toDF("doc_id", "text")
    val got = graft.ops.Bm25.topDocs(docs, "doc_id", "text", Seq("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // N=3, sum_dl=9, avgdl=3, df(x)=2, idf=ln(1+(3-2+0.5)/2.5)=ln(1.6);
    // dl=3 for every doc so denom = tf + 1.2*(0.25+0.75) = tf + 1.2
    def expected(tf: Int): Long =
      math.round(math.log(1.6) * (tf * (1.2 + 1.0)) / (tf + 1.2) * 1e6)
    assert(got.toSeq === Seq(
      ("d1", 1L, expected(2)), ("d2", 1L, expected(1))))
    // multi-term: per-term quantized scores sum as longs
    val multi = graft.ops.Bm25.topDocs(docs, "doc_id", "text", Seq("x", "y"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(multi("d1") === 2L && multi("d2") === 1L)
    // duplicate terms collapse (not double-count) and arbitrary term
    // content is legal — the string-built unpivot rejected both
    val odd = Seq(("d1", "don't stop"), ("d2", "stop"))
      .toDF("doc_id", "text")
    val got2 = graft.ops.Bm25.topDocs(odd, "doc_id", "text",
      Seq("don't", "don't"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got2.toSeq === Seq(("d1", 1L)))
  }

  test("containment catches a quoted subset that Jaccard misses") {
    val short0 = "alpha beta gamma delta epsilon zeta"
    val long0 = (1 to 40).map(i => s"w$i").mkString(" ") + " " + short0 +
      " " + (41 to 80).map(i => s"w$i").mkString(" ")
    val other = (1 to 45).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, short0), (2L, long0), (3L, other)).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val cont = Dedup.containmentPairs(sh, 0.9)
      .select("a", "b", "containment").as[(Long, Long, Double)].collect()
    assert(cont.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(cont.head._3 == 1.0) // every short-doc shingle is in the long doc
    // the symmetric-Jaccard path does NOT flag this pair even at 0.3
    val jac = Dedup.ngramJaccardPairs(sh, 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)))
    // brute-force oracle over full shingle sets
    val sets = sh.as[(Long, String)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    for (a <- sets.keys; b <- sets.keys if a < b) {
      val c = sets(a).intersect(sets(b)).size.toDouble /
        math.min(sets(a).size, sets(b).size)
      assert((c >= 0.9) == cont.exists(p => p._1 == a && p._2 == b), s"($a,$b)")
    }
  }

  test("dup substring spans: shared runs merge to maximal islands per doc") {
    val X = (1 to 10).map(i => s"x$i")   // shared 10-token run -> 3 windows
    val Y = (1 to 9).map(i => s"y$i")    // shared 9-token run  -> 2 windows
    val doc1 = (X ++ (1 to 8).map(i => s"a$i") ++ Y).mkString(" ")
    val doc2 = ((1 to 5).map(i => s"b$i") ++ X ++ (6 to 13).map(i => s"b$i") ++ Y)
      .mkString(" ")
    val doc3 = (1 to 20).map(i => s"c$i").mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val got = Dedup.dupSubstringSpans(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc1: X at tokens [0,10), Y at [18,27); doc2: X at [5,15), Y at [23,32)
    assert(got == Set(
      (1L, 0L, 10L, 3L), (1L, 18L, 27L, 2L),
      (2L, 5L, 15L, 3L), (2L, 23L, 32L, 2L)))
    // short docs (< k tokens) neither crash nor emit
    val tiny = Seq((1L, "p q r"), (2L, "p q r")).toDF("doc_id", "text")
    assert(Dedup.dupSubstringSpans(tiny, "doc_id", "text").count() == 0)

    // applying the spans: every copy cut, untouched docs pass whole
    val cleaned = Dedup.removeDupSpans(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(cleaned(1L) == (((1 to 8).map(i => s"a$i").mkString(" "), 27L, 19L)))
    assert(cleaned(2L) ==
      (((1 to 13).map(i => s"b$i").mkString(" "), 32L, 19L)))
    assert(cleaned(3L) == ((doc3, 20L, 0L)))
    // all-duplicate doc cleans to the empty string, not null
    val twin = Seq((1L, (1 to 9).map(i => s"z$i").mkString(" ")),
      (2L, (1 to 9).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.removeDupSpans(twin, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().toSet ==
      Set((1L, "", 9L, 9L), (2L, "", 9L, 9L)))
  }

  test("dup spans + despanning match driver-side brute force on random corpora") {
    val k = 4
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 12) {
      // tiny vocab so shared k-token runs occur by chance
      val docs = (1L to (3 + rnd.nextInt(4)).toLong).map { id =>
        val n = rnd.nextInt(30)
        id -> Seq.fill(n)(s"w${rnd.nextInt(3)}").mkString(" ")
      }
      val toks = docs.map { case (id, t) => id -> t.split("\\s+", -1).toSeq }.toMap
      val wins = toks.toSeq.flatMap { case (id, ts) =>
        if (ts.length >= k)
          (0 to ts.length - k).map(i => (id, i, ts.slice(i, i + k).mkString(" ")))
        else Nil
      }
      val dupWins = wins.groupBy(_._3)
        .filter(_._2.map(_._1).distinct.size > 1).keySet
      val expectCover: Map[Long, Set[Int]] = wins.filter(w => dupWins(w._3))
        .groupBy(_._1)
        .map { case (id, ws) => id -> ws.flatMap(w => w._2 until w._2 + k).toSet }

      val df = docs.toDF("doc_id", "text")
      val spans = Dedup.dupSubstringSpans(df, "doc_id", "text", k)
        .as[(Long, Long, Long, Long)].collect()
      // island union == union of flagged windows, islands disjoint with gaps
      val gotCover = spans.groupBy(_._1).map { case (id, ss) =>
        id -> ss.flatMap(s => s._2.toInt until s._3.toInt).toSet
      }
      assert(gotCover == expectCover)
      spans.groupBy(_._1).values.foreach { ss =>
        val sorted = ss.sortBy(_._2)
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._3 < b._2) // strict gap: touching merged
          case _ =>
        }
      }
      // the applied cut mirrors the same coverage exactly
      val cleaned = Dedup.removeDupSpans(df, "doc_id", "text", k)
        .as[(Long, String, Long, Long)].collect()
      assert(cleaned.length == docs.length)
      cleaned.foreach { case (id, text, nTok, nRem) =>
        val cover = expectCover.getOrElse(id, Set.empty)
        val ts = toks(id)
        assert(nTok == ts.length)
        assert(nRem == cover.size)
        assert(text == ts.zipWithIndex.collect {
          case (t, i) if !cover(i) => t
        }.mkString(" "))
      }
    }
  }

  test("auc equals the brute-force pair count, midrank ties exact") {
    val rnd = new scala.util.Random(7)
    // quantized scores force ties; ~1/4 positives
    val rows = (1 to 400).map { i =>
      val pos = rnd.nextInt(4) == 0
      val s = (rnd.nextInt(40) + (if (pos) rnd.nextInt(15) else 0)) / 4.0
      (i.toLong, s, pos)
    }
    val df = rows.toDF("id", "score", "pos")
    val Array((auc, np, nn)) = Eval.auc(df, col("score"), col("pos"))
      .as[(Double, Long, Long)].collect()
    val ps = rows.filter(_._3).map(_._2)
    val ns = rows.filterNot(_._3).map(_._2)
    assert(np == ps.length && nn == ns.length)
    val num2 = (for (p <- ps; n <- ns) yield
      if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert(auc == num2.toDouble / (2.0 * ps.length * ns.length))
    // perfect separation and pure-tie sanity points
    val sep = Seq((1L, 1.0, false), (2L, 2.0, true)).toDF("id", "score", "pos")
    assert(Eval.auc(sep, col("score"), col("pos"))
      .select("auc").as[Double].head() == 1.0)
    val tie = Seq((1L, 1.0, false), (2L, 1.0, true)).toDF("id", "score", "pos")
    assert(Eval.auc(tie, col("score"), col("pos"))
      .select("auc").as[Double].head() == 0.5)
  }
}
