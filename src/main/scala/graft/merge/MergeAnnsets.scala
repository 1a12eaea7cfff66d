package graft.merge

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Mention

/** Merge of per-source annotation sets into one `entities_merged` set —
  * the Spark re-expression of the reference merger
  * (merge-annotation-sets/merge_sets.py:293-320).
  *
  * Reference algorithm, implemented faithfully:
  *  - P5 annset exclusion + P4 type whitelist (merge_sets.py:77-94);
  *  - F16 normalize_entity (merge_sets.py:50-54);
  *  - span-contextual root type: an annotation's root type comes from a
  *    SAME-SPAN companion in the SAME source annset when the type
  *    relation contains (type -> companion type), else it is its own
  *    normalized type (merge_sets.py:56-74 — determinized: the reference
  *    consults the first overlapping annotation in gatenlp iteration
  *    order, which is insertion-order dependent; we take the minimal
  *    companion type that satisfies the relation);
  *  - ANCHORED overlap groups: annotations sorted by (start, end, type);
  *    a group is its first element plus every following annotation that
  *    starts before the ANCHOR's end — NOT transitive connectivity
  *    (merge_sets.py:99-129: extract_partial compares against
  *    current_element only);
  *  - per group: 5-case root-type consensus (merge_sets.py:184-226),
  *    parts limit (<= 6 tokens if PER root and analyzable else <= 10,
  *    merge_sets.py:243-265 + main.py:15-16), keep ALL tied-longest,
  *    dedup ignoring source (merge_sets.py:151-165).
  *
  * Spark shape: none of its own. [[mergeDoc]] is a pure kernel over ONE
  * document's mentions (transitive overlap CHAINS by running max end,
  * each resolved into anchored groups), so [[graft.Pipeline]] runs it
  * inside the per-document prep map with no shuffle at all; [[merge]]
  * over mention datasets is one hash shuffle on doc_id plus the kernel.
  */
object MergeAnnsets {

  val AnnSet = "entities_merged"

  /** Reference parts limits (merge-annotation-sets/main.py:15-16). */
  val MaxPerParts = 6
  val MaxParts = 10

  /** type -> root_type relation (reference build_type_relation_df.py:4
    * shape; rows adapted to the engine's fixture type vocabulary).
    */
  val typeRelation: Set[(String, String)] = Set(
    ("ALG", "OP"),
    ("PRODUCT", "ORG"),
    ("ROLE", "PER"),
    ("TYPE", "OP"),
    ("PER", "ORG"),
    ("TRIBUNALE", "LOC"))

  /** source -> priority (higher wins; reference annset priority map,
    * merge-annotation-sets/main.py:90-94).
    */
  val sourcePriority: Map[String, Int] = Map("trie" -> 2, "regex" -> 1)

  /** F16 normalize_entity (merge_sets.py:50-54): 'person'-family types
    * collapse to their 3-char prefix, case preserved.
    */
  def normalizeEntity(t: String): String =
    if (t.toLowerCase == "person") t.take(3) else t

  /** Span-contextual root type (merge_sets.py:56-74, determinized).
    * `companions` = normalized types of OTHER same-span annotations in
    * the same source annset.
    */
  def rootType(selfType: String, companions: Seq[String]): String =
    companions.sorted.find(o => typeRelation.contains((selfType, o)))
      .getOrElse(selfType)

  /** Kernel annotation row (all fields the winners carry forward). */
  final case class Ann(
      doc_id: String, annset: String, mention_type: String,
      root_type: String, start: Int, end: Int, mention: String,
      score: Double, source: String, skip: Boolean, gazetteer_id: Long) {
    def len: Int = end - start
    def parts: Int = mention.split("\\s+").count(_.nonEmpty)
    def prio: Int = sourcePriority.getOrElse(source, 0)
  }

  /** Attach span-contextual root types within a chain: same-span anns of
    * the same source annset are necessarily in the same overlap chain,
    * so the companion lookup is chain-local — no extra shuffle.
    */
  def withRoots(chain: Seq[Ann]): Seq[Ann] = chain.map { a =>
    val companions = chain.collect {
      case o if !(o eq a) && o.annset == a.annset &&
        o.start == a.start && o.end == a.end => o.mention_type
    }
    a.copy(root_type = rootType(a.mention_type, companions))
  }

  /** 5-case root-type consensus (merge_sets.py:184-226). Returns
    * (case 1-5, allowed root types).
    */
  def checkRootType(group: Seq[Ann]): (Int, Set[String]) = {
    val counts = group.groupBy(_.root_type).view.mapValues(_.size).toMap
    // deterministic "most common": count desc, then root type asc
    val ranked = counts.toSeq.sortBy { case (t, c) => (-c, t) }
    val priority: Option[String] = {
      val present = group.map(_.source).distinct
        .map(s => s -> sourcePriority.getOrElse(s, 0))
      val mx = present.map(_._2).max
      present.filter(_._2 == mx) match {
        case Seq((s, _)) => Some(s)
        case _ => None
      }
    }
    val priorityRoots: Set[String] = priority
      .map(p => group.filter(_.source == p).map(_.root_type).toSet)
      .getOrElse(Set.empty)

    if (ranked.size == 1) (1, Set(ranked.head._1))                      // all equal
    else if (ranked(0)._2 > ranked(1)._2) (2, Set(ranked.head._1))      // prevalent
    else if (priority.isDefined && priorityRoots.size == 1) (3, priorityRoots)
    else if (priority.isDefined) (4, priorityRoots)                     // multi-root
    else (5, counts.keySet)                                             // keep all
  }

  /** Dedup ignoring source (merge_sets.py:151-165): annotations equal on
    * (start, end, type, root, text) collapse; the highest-priority source
    * survives, ties broken by [[annOrder]] (the reference rewrites source
    * to the merged-set name, so its pick is unobservable — ours keeps
    * provenance deterministically).
    */
  private def uniqueAnns(anns: Seq[Ann]): Seq[Ann] =
    anns.groupBy(a => (a.start, a.end, a.mention_type, a.root_type, a.mention))
      .values.map(_.min(Ordering.by((a: Ann) => -a.prio).orElse(annOrder))).toSeq

  /** Longest-selection over a partial-overlap group
    * (inner_reduce_partial_overlaps, merge_sets.py:243-265): root filter
    * + parts limit, then ALL annotations tied at max length.
    */
  private def innerReducePartial(group: Seq[Ann]): (Int, Seq[Ann]) = {
    val (kase, roots) = checkRootType(group)
    val maxPartsHere =
      if (kase != 4 && roots.contains("PER")) MaxPerParts else MaxParts
    val filtered = group
      .filter(a => roots.contains(a.root_type) && a.parts <= maxPartsHere)
    // the reference indexes [0] of this list and would crash when the
    // parts limit filters everything; keep the root-filtered set instead
    val pool = if (filtered.nonEmpty) filtered
               else group.filter(a => roots.contains(a.root_type))
    val maxLen = pool.map(_.len).max
    (kase, pool.filter(_.len == maxLen))
  }

  /** Resolve one anchored overlap group. */
  def resolveGroup(group: Seq[Ann]): Seq[Ann] = {
    if (group.size == 1) group // disjoint
    else if (group.forall(a => a.start == group.head.start && a.end == group.head.end)) {
      // exact-overlap group (reduce_overlaps): consensus filter + dedup,
      // no longest-selection (spans are all equal)
      val roots = checkRootType(group)._2
      uniqueAnns(group.filter(a => roots.contains(a.root_type)))
    } else {
      val (kase, longest) = innerReducePartial(group)
      // case 4: type analysis was inconclusive — re-run on the longest
      // list (merge_sets.py:285-287)
      val winners = if (kase == 4) innerReducePartial(longest)._2 else longest
      uniqueAnns(winners)
    }
  }

  /** Split a sorted overlap CHAIN into the reference's anchored groups
    * (group = anchor + every following ann starting before the ANCHOR's
    * end; the next group anchors at the first ann past it) and resolve
    * each. Pure; input must be sorted by (start, end, type, source).
    */
  def resolveChain(chain: Seq[Ann]): Seq[Ann] = {
    val out = Seq.newBuilder[Ann]
    var rest = chain
    while (rest.nonEmpty) {
      val anchor = rest.head
      val (group, next) = rest.span(_.start < anchor.end) // head always in
      out ++= resolveGroup(group)
      rest = next
    }
    out.result()
  }

  /** Total order over kernel rows: reading order (start, end, type,
    * source) first, then every other field, so the sort, the dedup pick
    * and the ann ids never depend on input order.
    */
  private val annOrder: Ordering[Ann] = {
    import Ordering.Double.TotalOrdering
    Ordering.by((a: Ann) => (a.start, a.end, a.mention_type, a.source,
      a.mention, a.score, a.skip, a.gazetteer_id, a.annset))
  }

  /** The whole merge of ONE document's mentions (the reference merges
    * per document too): F16 types, sort, split into overlap chains by
    * running max end (anchored groups and same-span companions never
    * cross a chain), root types + anchored-group resolution per chain,
    * then ann ids 1..n in reading order. Pure and input-order invariant.
    */
  def mergeDoc(anns: Seq[Mention]): Seq[Mention] = {
    val sorted = anns.map { m =>
      val t = normalizeEntity(m.mention_type)
      Ann(m.doc_id, m.annset, t, t, m.start, m.end, m.mention, m.score,
        m.source, m.skip, m.gazetteer_id)
    }.sorted(annOrder)
    val chains = Seq.newBuilder[Seq[Ann]]
    var chain = Vector.empty[Ann]
    var maxEnd = Int.MinValue
    sorted.foreach { a =>
      if (chain.nonEmpty && a.start >= maxEnd) { chains += chain; chain = Vector.empty }
      chain :+= a
      maxEnd = math.max(maxEnd, a.end)
    }
    if (chain.nonEmpty) chains += chain
    chains.result().flatMap(c => resolveChain(withRoots(c)))
      .sorted(annOrder).zipWithIndex.map { case (a, i) =>
        Mention(a.doc_id, AnnSet, i + 1, a.mention_type, a.start, a.end,
          a.mention, a.score, a.source, a.skip, a.gazetteer_id)
      }
  }

  /** Full merge. `typesWhitelist` = P4 (None = all types pass, reference
    * types_list); `annsetExclusion` = P5 (reference annset_exclusion_list,
    * keyed on the mention's source annset name). One exchange: the
    * filtered mentions group by doc_id and each document runs
    * [[mergeDoc]].
    */
  def merge(spark: SparkSession, sources: Seq[Dataset[Mention]],
            typesWhitelist: Option[Set[String]] = None,
            annsetExclusion: Set[String] = Set.empty): Dataset[Mention] = {
    import spark.implicits._
    sources.map(_.toDF()).reduce(_ unionByName _)
      .filter(!col("annset").isin(annsetExclusion.toSeq: _*) || lit(annsetExclusion.isEmpty))
      .filter(typesWhitelist match {
        case Some(ts) => col("mention_type").isin(ts.toSeq: _*)
        case None => lit(true)
      })
      .as[Mention]
      .groupByKey(_.doc_id)
      .flatMapGroups((_, it) => mergeDoc(it.toSeq))
  }

}
