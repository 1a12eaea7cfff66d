package graft

import graft.core.Mention
import graft.merge.MergeAnnsets
import graft.functions.Similarity
import org.apache.spark.sql.functions._

class MergeLinkerSpec extends SparkTestBase {
  import spark.implicits._

  private def m(doc: String, annset: String, src: String, tpe: String,
                s: Int, e: Int, text: String, skip: Boolean = false): Mention =
    Mention(doc, annset, 0, tpe, s, e, text, 1.0, src, skip, -1L)

  test("merge sweep: disjoint mentions all survive, ordered ann_ids") {
    val a = spark.createDataset(Seq(
      m("d", "t", "trie", "ORG", 0, 5, "spark"),
      m("d", "t", "trie", "PER", 10, 18, "customer")))
    val out = MergeAnnsets.merge(spark, Seq(a)).collect().sortBy(_.ann_id)
    assert(out.length == 2)
    assert(out(0).mention == "spark" && out(0).ann_id == 1)
    assert(out(1).mention == "customer" && out(1).ann_id == 2)
    assert(out.forall(_.annset == "entities_merged"))
  }

  test("merge sweep: longest span wins a partial overlap") {
    val a = spark.createDataset(Seq(
      m("d", "t", "regex", "PRODUCT", 0, 10, "slow merge"),
      m("d", "t", "trie", "ALG", 5, 20, "merge join plus")))
    val out = MergeAnnsets.merge(spark, Seq(a)).collect()
    assert(out.length == 1)
    assert(out(0).mention == "merge join plus") // longer wins
  }

  test("merge sweep: equal length -> source priority (trie > regex)") {
    val a = spark.createDataset(Seq(
      m("d", "t", "regex", "PRODUCT", 0, 10, "slow merge"),
      m("d", "t", "trie", "ALG", 5, 15, "merge join")))
    val out = MergeAnnsets.merge(spark, Seq(a)).collect()
    assert(out.length == 1)
    assert(out(0).source == "trie")
  }

  test("merge: anchored groups, not transitive connectivity (merge_sets.py:99-129)") {
    // sorted: [0,10), [5,15), [12,20). Reference groups are anchored at
    // the FIRST element: group1 = {[0,10), [5,15)} ([12,20) starts past
    // the anchor's end and is NOT pulled in although it overlaps [5,15));
    // [12,20) is processed as its own (disjoint) group.
    val a = spark.createDataset(Seq(
      m("d", "t", "regex", "X", 0, 10, "aaaaaaaaaa"),
      m("d", "t", "regex", "X", 5, 15, "bbbbbbbbbb"),
      m("d", "t", "regex", "X", 12, 20, "cccccccc")))
    val out = MergeAnnsets.merge(spark, Seq(a)).collect().sortBy(_.start)
    // group1: same root -> case 1 -> keep ALL tied-longest (10 == 10)
    assert(out.map(x => (x.start, x.end)).toSeq == Seq((0, 10), (5, 15), (12, 20)))
  }

  test("merge consensus case 3: priority-source root type beats a longer span") {
    // roots differ (PRODUCT vs ORG), tied 1-1, trie is the unique
    // max-priority source -> root filter {ORG} -> the SHORTER trie
    // mention wins over the longer regex span (merge_sets.py:207-216)
    val a = spark.createDataset(Seq(
      m("d", "entities_regex", "regex", "PRODUCT", 0, 10, "fast spark"),
      m("d", "entities_trie", "trie", "ORG", 5, 10, "spark")))
    val out = MergeAnnsets.merge(spark, Seq(a)).collect()
    assert(out.length == 1)
    assert(out(0).mention == "spark" && out(0).source == "trie")
  }

  test("merge: same-span role+person pair both survive via contextual root (A6/J7)") {
    // ROLE's root comes from its same-span PER companion (relation
    // ROLE->PER); PER stays PER -> all roots equal -> case 1 -> both kept
    // (dedup is by span+type, types differ)
    val a = spark.createDataset(Seq(
      m("d", "entities_trie", "trie", "ROLE", 0, 8, "presiden"),
      m("d", "entities_trie", "trie", "PER", 0, 8, "presiden")))
    val out = MergeAnnsets.merge(spark, Seq(a)).collect()
    assert(out.length == 2)
    assert(out.map(_.mention_type).sorted.toSeq == Seq("PER", "ROLE"))
    assert(MergeAnnsets.rootType("ROLE", Seq("PER")) == "PER")
    assert(MergeAnnsets.rootType("PER", Seq("ROLE")) == "PER")
  }

  test("merge W3: PER groups cap mentions at 6 parts (10 otherwise)") {
    val seven = "a b c d e f g"      // 7 tokens, PER -> filtered
    val five = "a b c d e"           // 5 tokens
    val a = spark.createDataset(Seq(
      m("d", "t", "trie", "PER", 0, 30, seven + " " * (30 - seven.length)),
      m("d", "t", "trie", "PER", 0, 20, five + " " * (20 - five.length))))
    val out = MergeAnnsets.merge(spark, Seq(a)).collect()
    assert(out.length == 1 && out(0).end == 20, "7-part PER must lose to 5-part")
    // non-PER root: 7 parts pass the 10-part cap, longest wins
    val b = spark.createDataset(Seq(
      m("d", "t", "trie", "ORG", 0, 30, seven + " " * (30 - seven.length)),
      m("d", "t", "trie", "ORG", 0, 20, five + " " * (20 - five.length))))
    val outB = MergeAnnsets.merge(spark, Seq(b)).collect()
    assert(outB.length == 1 && outB(0).end == 30)
  }

  test("merge P4/P5: type whitelist and annset exclusion filters") {
    val a = spark.createDataset(Seq(
      m("d", "entities_trie", "trie", "ORG", 0, 5, "spark"),
      m("d", "entities_trie", "trie", "DATE", 10, 20, "2024-01-01"),
      m("d", "entities_spacy", "spacy", "ORG", 30, 35, "other")))
    val wl = MergeAnnsets.merge(spark, Seq(a),
      typesWhitelist = Some(Set("ORG"))).collect()
    assert(wl.map(_.mention).toSet == Set("spark", "other"))
    val ex = MergeAnnsets.merge(spark, Seq(a),
      annsetExclusion = Set("entities_spacy")).collect()
    assert(ex.map(_.mention).toSet == Set("spark", "2024-01-01"))
  }

  test("merge: tied winners get deterministic ann ids (case 5, roots split 2-2)") {
    // three sources of equal (zero) priority on one span: a1's PER takes
    // root ORG from its same-annset ORG companion, a2's and a3's PER keep
    // PER -> 2-2 tie, no unique priority source -> case 5 keeps all
    // roots. Two PER rows survive (roots ORG and PER) and tie on
    // (start, end, type); the a2/a3 PER pair dedups to one. Ids follow
    // the total order (source next), whatever the input order.
    val rows = Seq(
      m("d", "a1", "x", "PER", 0, 5, "alpha"),
      m("d", "a1", "x", "ORG", 0, 5, "alpha"),
      m("d", "a2", "y", "PER", 0, 5, "alpha"),
      m("d", "a3", "z", "PER", 0, 5, "alpha"))
    val expected = Seq((1, "ORG", "x"), (2, "PER", "x"), (3, "PER", "y"))
    def ids(out: Seq[Mention]) =
      out.map(o => (o.ann_id, o.mention_type, o.source)).sorted
    assert(ids(MergeAnnsets.merge(spark, Seq(spark.createDataset(rows)))
      .collect().toSeq) == expected)
    rows.permutations.foreach(p => assert(ids(MergeAnnsets.mergeDoc(p)) == expected))
  }

  test("Pipeline's per-document prep equals the shuffled merge + embed join") {
    import graft.core.{InputDoc, Span, SpanOps}
    import graft.link.Linker
    import graft.ner.{RegexNer, TrieNer}
    // overlapping trie/regex takes, a DATE, and a supplementary
    // character ahead of the mentions (code-point context windows)
    val docs = spark.createDataset(Seq(
      InputDoc("a", SpanOps.withOffsets(Seq(
        Span("text", "\uD83D\uDE00 spark and customer then fast key on 2024-01-01", "", 0),
        Span("media", "", "img:1", 0),
        Span("text", "slow part meets big data spark", "", 0)))),
      InputDoc("b", SpanOps.withOffsets(Seq(
        Span("text", "merge join plus slow merge of fast keys", "", 0))))))
    val shuffled = Linker.withEmbeddingsDF(spark,
      MergeAnnsets.merge(spark, Seq(TrieNer.mentions(spark, docs),
        RegexNer.mentions(spark, docs))),
      Pipeline.docText(spark, docs), keepCtx = false)
    val (prep, embedded) = Pipeline.prepare(spark, docs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.mkString(",")
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq
    assert(embedded.columns.toSeq == shuffled.columns.toSeq)
    assert(rows(embedded).nonEmpty && rows(embedded) == rows(shuffled))
    prep.unpersist()
  }

  test("F16 normalize_entity (merge_sets.py:50-54)") {
    assert(MergeAnnsets.normalizeEntity("person") == "per")
    assert(MergeAnnsets.normalizeEntity("Person") == "Per")
    assert(MergeAnnsets.normalizeEntity("PERSON") == "PER")
    assert(MergeAnnsets.normalizeEntity("ORG") == "ORG")
  }

  test("merge consensus cases: the reference 5-case table (merge_sets.py:184-226)") {
    import MergeAnnsets.{Ann, checkRootType}
    def ann(src: String, root: String, s: Int = 0, e: Int = 5) =
      Ann("d", "as", root, root, s, e, "m", 1.0, src, skip = false, -1L)
    // 1: all roots equal
    assert(checkRootType(Seq(ann("trie", "ORG"), ann("regex", "ORG"))) == ((1, Set("ORG"))))
    // 2: prevalent root exists
    assert(checkRootType(Seq(ann("trie", "ORG"), ann("regex", "ORG"),
      ann("regex", "OP"))) == ((2, Set("ORG"))))
    // 3: tie, unique priority source with one root
    assert(checkRootType(Seq(ann("trie", "ORG"), ann("regex", "OP"))) == ((3, Set("ORG"))))
    // 4: tie, priority source itself carries multiple roots
    assert(checkRootType(Seq(ann("trie", "ORG"), ann("trie", "OP"),
      ann("regex", "OP"), ann("regex", "ORG"))) == ((4, Set("ORG", "OP"))))
    // 5: tie and no unique max-priority source (both unmapped -> prio 0)
    assert(checkRootType(Seq(ann("x", "ORG"), ann("y", "OP"))) == ((5, Set("ORG", "OP"))))
  }

  test("similarity kernels: reference quirks") {
    // short-token penalty (nilcluster/main.py:57-65)
    assert(Similarity.damLevMetric("ab", "ab") == 0.0)
    assert(Similarity.damLevMetric("ab", "ac") == 4.0)  // dist 1 + 3
    assert(Similarity.damLevMetric("abcd", "abdc") == 1.0) // transposition
    assert(Similarity.damLevMetric("Spark", "spark") == 0.0) // lowercased
    // jaccard on word tokens (nilpredictor qval=None)
    assert(Similarity.jaccardTokens("merge join", "join merge") == 1.0)
    assert(Similarity.jaccardTokens("slow merge", "merge join") == 1.0 / 3.0)
    // levenshtein similarity
    assert(Similarity.levenshteinSim("abc", "abc") == 1.0)
    assert(Similarity.levenshteinSim("abc", "abd") == 1.0 - 1.0 / 3.0)
    // cosine of identical vectors
    val v = graft.link.Embed.embed("spark")
    assert(math.abs(Similarity.cosine(v, v) - 1.0) < 1e-6)
    assert(math.abs(Similarity.norm(v) - 1.0) < 1e-5) // unit-norm embed
  }

  test("linker: cross-encoder rerank keeps exact-title links and stays deterministic") {
    import graft.core.{InputDoc, Span, SpanOps}
    import graft.link.Linker
    import graft.ner.TrieNer
    val docs = spark.createDataset(Seq(
      InputDoc("x", SpanOps.withOffsets(Seq(Span("text", "spark and customer", "", 0))))))
    val text = Pipeline.docText(spark, docs)
    val mentions = TrieNer.mentions(spark, docs)
    val reg = graft.kb.Registry.seed(spark).toDF()
    val plain = Linker.link(spark, mentions, text, reg, rerank = false)
      .select("mention", "is_nil").collect().map(r => (r.getString(0), r.getBoolean(1))).toSet
    val rr = Linker.link(spark, mentions, text, reg, rerank = true)
      .select("mention", "is_nil").collect().map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(plain == rr)
    assert(plain == Set(("spark", false), ("customer", false)))
  }

  test("federated registry: linking spans all indexers, rw head shadows stale rows (S14)") {
    import graft.core.{EntityRecord, InputDoc, Span, SpanOps}
    import graft.kb.Registry
    val ro = Registry.seed(spark).toDF()
    // an rw head carrying a previously-NIL surface + a stale shadow of id 1
    val rw = spark.createDataset(Seq(
      EntityRecord(17L, Registry.RwIndexer, -1L, -1L, -1L, "fast key",
        "novel", "PRODUCT", graft.link.Embed.embed("fast key")),
      EntityRecord(1L, 0, -1L, -1L, -1L, "SHOULD-BE-SHADOWED", "stale",
        "ORG", graft.link.Embed.embed("spark"))))(
      org.apache.spark.sql.Encoders.product[EntityRecord]).toDF()
    val fed = Registry.federate(Seq(rw, ro)) // later table (ro=seed) wins
    assert(fed.count() == 17) // 16 seed + 1 novel; stale dup collapsed
    val title1 = fed.filter(col("id") === 1 && col("indexer") === 0)
      .select("title").collect()(0).getString(0)
    assert(title1 == "spark", "seed row must shadow the stale duplicate")
    // end-to-end: "fast key" now links instead of going NIL
    val docs = spark.createDataset(Seq(
      InputDoc("x", SpanOps.withOffsets(Seq(Span("text", "fast key works", "", 0))))))
    val res = Pipeline.run(spark, docs, fed)
    val row = res.linked.filter(col("mention") === "fast key").collect()(0)
    assert(!row.getAs[Boolean]("is_nil") && row.getAs[Long]("entity_id") == 17L)
  }

  test("linker: salted (non-broadcast) candidate join yields identical links") {
    import graft.core.{InputDoc, Span, SpanOps}
    import graft.link.Linker
    import graft.ner.TrieNer
    val docs = spark.createDataset(Seq(
      InputDoc("a", SpanOps.withOffsets(Seq(Span("text", "spark and customer then fast key", "", 0)))),
      InputDoc("b", SpanOps.withOffsets(Seq(Span("text", "slow part meets spark", "", 0))))))
    val text = Pipeline.docText(spark, docs)
    val mentions = TrieNer.mentions(spark, docs)
    val reg = graft.kb.Registry.seed(spark).toDF()
    def links(cap: Long) = Linker.link(spark, mentions, text, reg,
        broadcastMaxRows = cap)
      .select("doc_id", "mention", "entity_id", "is_nil", "url").collect()
      .map(_.toString).sorted.toSeq
    val broadcastPath = links(Linker.BroadcastMaxRows)
    // cap 0 forces the salted path
    assert(links(0) == broadcastPath,
      "salted token join must reproduce the broadcast join exactly")
    // past the gate NOTHING may carry an explicit broadcast hint — the
    // candidate join salts and the J2 hydrate join (registry id/title/
    // type_) falls back to a plain shuffle join; at a 10^8-entity
    // registry an unconditional broadcast(reg) would OOM the driver
    val analyzed = Linker.link(spark, mentions, text, reg, broadcastMaxRows = 0)
      .queryExecution.analyzed.toString
    // the SHUFFLE_HASH hint on the embed join is fine — only a
    // BROADCAST hint would blow up at a 10^8-entity registry
    assert(!analyzed.toLowerCase.contains("strategy=broadcast"),
      "no broadcast hints allowed when registry exceeds broadcastMaxRows")
    // both paths feed the same per-mention kernel: full linked rows and
    // the candidate lists (incl. top_candidate) agree, with and without
    // the cross-encoder rerank
    Seq(false, true).foreach { rerank =>
      def both(cap: Long) = {
        val (l, c) = Linker.linkWithCandidates(spark, mentions, text, reg,
          rerank = rerank, broadcastMaxRows = cap)
        (l.collect().map(_.toString).sorted.toSeq,
          c.collect().map(_.toString).sorted.toSeq)
      }
      val (bl, bc) = both(Linker.BroadcastMaxRows)
      val (sl, sc) = both(0)
      assert(bl.nonEmpty && bc.nonEmpty)
      assert(sl == bl, s"linked rows differ (rerank=$rerank)")
      assert(sc == bc, s"candidate lists differ (rerank=$rerank)")
    }
  }

  test("linker: NIL features carry max_cross (reference LR parity)") {
    import graft.core.{InputDoc, Span, SpanOps}
    import graft.link.Linker
    import graft.ner.TrieNer
    // under rerank=true the ranking/NIL score consume the cross-encoder
    // max; the candidate struct must expose it for the LR features
    val docs = spark.createDataset(Seq(
      InputDoc("x", SpanOps.withOffsets(Seq(Span("text", "spark and customer", "", 0))))))
    val text = Pipeline.docText(spark, docs)
    val mentions = TrieNer.mentions(spark, docs)
    val reg = graft.kb.Registry.seed(spark).toDF()
    val (_, cands) = Linker.linkWithCandidates(spark, mentions, text, reg, rerank = true)
    val fields = cands.select(explode(col("candidates")).as("c"))
      .select("c.*").columns.toSet
    assert(fields.contains("cross_score"), "candidate struct carries cross_score")
    val top = cands.select(col("top_candidate.cross_score")).collect()
    assert(top.nonEmpty && top.forall(!_.isNullAt(0)))
    // weights: 7 features (max_bi, max_cross, jacc, lev, mean, median, stdev)
    assert(Linker.NilWeights.length == 7)
  }

  test("linker: max_bi under rerank is the LIST max, not the cross-winner's bi") {
    import graft.core.{InputDoc, Span, SpanOps}
    import graft.link.Linker
    import graft.ner.TrieNer
    // under rerank the candidate list is ordered by cross_score; the
    // reference LR consumes max(bi) over the top-k list
    // (nilpredictor/main.py:120-131), which need not be the rank-1 row's
    // bi_score. Invariant: linked.bi_score == max over the mention's
    // candidate list.
    val docs = spark.createDataset(Seq(
      InputDoc("x", SpanOps.withOffsets(Seq(
        Span("text", "spark and customer then fast key meets slow part", "", 0))))))
    val text = Pipeline.docText(spark, docs)
    val mentions = TrieNer.mentions(spark, docs)
    val reg = graft.kb.Registry.seed(spark).toDF()
    val (linked, cands) = Linker.linkWithCandidates(spark, mentions, text, reg, rerank = true)
    val maxBi = cands.select(col("doc_id"), col("annset"), col("ann_id"),
        array_max(transform(col("candidates"), c => c("bi_score"))).as("list_max"))
    val joined = linked.filter(!col("skip"))
      .join(maxBi, Seq("doc_id", "annset", "ann_id"))
      .select(col("bi_score"), col("list_max")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"bi_score ${r.getDouble(0)} must equal list max ${r.getDouble(1)}"))
  }

  test("linker: exact-title match links, zero-candidate is NIL, DATE skips") {
    import graft.core.{InputDoc, Span, SpanOps}
    val docs = spark.createDataset(Seq(
      InputDoc("x", SpanOps.withOffsets(Seq(
        Span("text", "spark then fast key on 2024-01-01", "", 0))))))
    val res = Pipeline.run(spark, docs, graft.kb.Registry.seed(spark).toDF())
    val rows = res.linked.select("mention", "entity_id", "is_nil", "url")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getString(3)))
    val byMention = rows.map(r => r._1.toLowerCase -> r).toMap
    assert(byMention("spark")._2 == 1L && !byMention("spark")._3)
    assert(byMention("spark")._4 == "kb://ent/1")
    assert(byMention("fast key")._3) // NIL
    assert(byMention.get("2024-01-01").forall(r => r._2 == -1L)) // date -> no entity
  }
}
