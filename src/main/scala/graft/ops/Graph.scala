package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over materialized edge lists — the "graph materialize"
  * leg of the north rule, generalized beyond the KB entity graph so any
  * (src, dst) frame (entity co-mention edges, triple subject→object edges,
  * co-occurrence graphs) gets the same scale-safe kernels.
  *
  * Scale notes (10^12-edge design):
  *  - every kernel is a sequence of equi-joins + hash aggregations — no
  *    collect, no cross join, no per-vertex driver loop;
  *  - `twoHopFromSeeds` is frontier expansion (the BFS building block):
  *    cost is O(|frontier| · avg-degree) per hop, never O(|V|²); the
  *    distinct() between hops collapses the frontier BEFORE the next join;
  *  - `pageRank` is the GraphFrames-style iterative DataFrame join loop
  *    with a `localCheckpoint(true)` per iteration (Catalyst lineage would
  *    otherwise grow exponentially — see CLAUDE.md invariant);
  *  - determinism across engines and shuffle orders: PageRank runs in
  *    FIXED-POINT integer arithmetic (rank scaled by `scale`, integer
  *    division) so every sum is an exact associative long sum — the same
  *    iteration unrolled in ANSI SQL reproduces it bit-for-bit, which is
  *    what lets a DuckDB oracle hash-match a 5-iteration distributed run.
  */
object Graph {

  /** Row cap under which frontier/rank side tables are broadcast (and,
    * for PageRank, iterated as a driver-resident vector): ~2M rows of
    * (long, long) is tens of MB — the same executor-fit reasoning as
    * Linker.broadcastMaxRows. Above the cap every kernel falls back to
    * the shuffle formulation unchanged. The gated kernels take it as a
    * defaulted parameter so a test can force the fallback.
    */
  val BroadcastMaxRows: Long = 2000000L

  /** Directed edge list from an ordered undirected pair table (a < b). */
  def symmetrize(pairs: DataFrame, a: String = "a", b: String = "b"): DataFrame =
    pairs.select(col(a).as("src"), col(b).as("dst"))
      .unionAll(pairs.select(col(b).as("src"), col(a).as("dst")))

  /** Exact 2-hop neighborhoods of a seed set: for each seed, the count of
    * vertices reachable in exactly two hops that are NOT the seed itself
    * and NOT already direct neighbors (friend-of-friend semantics).
    *
    * `seeds` must have a single `vertex` column. Plan shape: two joins on
    * the edge key, a distinct to collapse multiplicity before the
    * anti-join, one final hash aggregation. The frontier frames stay
    * proportional to the seed neighborhood, never to |V|.
    */
  def twoHopFromSeeds(edges: DataFrame, seeds: DataFrame,
                      edgesMaterialized: Boolean = false,
                      broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    // edges feeds two joins and hop1 feeds two consumers — materialize at
    // the stage boundary or every branch re-derives the whole edge list
    // (CLAUDE.md multi-branch invariant); callers that pass an already-
    // checkpointed edge frame skip the second materialization
    val e = if (edgesMaterialized) edges else edges.localCheckpoint(true)
    val hop1 = seeds.join(e, seeds("vertex") === e("src"))
      .select(seeds("vertex"), col("dst").as("mid"))
      .localCheckpoint(true)
    // hop1 is frontier-sized (|seeds| x avg-degree), the 2-hop frame is
    // frontier x degree^2 — orders bigger. Under the broadcast cap both
    // hop1 joins go map-side, so the big frame never crosses an
    // exchange, and the distinct + anti-join + count collapse into one
    // anti-join (on the raw multiset — anti drops every copy of a
    // direct-neighbor pair, so the surviving multiset has the same
    // distinct set) + one count_distinct aggregate: 5 exchanges -> 2,
    // both SortMergeJoins -> BroadcastHashJoins. hop1 is already
    // materialized, so the gate count is a cheap block-count job.
    val h1b =
      if (hop1.count() <= broadcastMaxRows) (df: DataFrame) => broadcast(df)
      else identity[DataFrame] _
    val hop2 = e.select(col("src").as("mid"), col("dst").as("nbr2"))
      .join(h1b(hop1), Seq("mid"))
      .filter(col("nbr2") =!= col("vertex"))
    hop2.join(h1b(hop1.select(col("vertex"), col("mid").as("nbr2"))),
        Seq("vertex", "nbr2"), "left_anti")
      .groupBy("vertex")
      .agg(count_distinct(col("nbr2")).as("n_2hop"))
  }

  /** Per-seed count of vertices reachable within `k` hops (seed included)
    * — iterative BFS with an explicit visited set: each round expands only
    * the NEW frontier (anti-join against visited), so saturated regions
    * stop costing joins; both frames checkpoint per round (CLAUDE.md
    * iterative invariant).
    */
  def reachableWithin(edges: DataFrame, seeds: DataFrame, k: Int,
                      edgesMaterialized: Boolean = false): DataFrame = {
    val e = if (edgesMaterialized) edges else edges.localCheckpoint(true)
    var reach = seeds.select(col("vertex").as("seed"), col("vertex"))
      .localCheckpoint(true)
    var frontier = reach
    for (_ <- 1 to k) {
      val nxt = frontier.join(e, frontier("vertex") === e("src"))
        .select(col("seed"), col("dst").as("vertex"))
        .distinct()
      frontier = nxt.join(reach, Seq("seed", "vertex"), "left_anti")
        .localCheckpoint(true)
      reach = reach.unionAll(frontier).localCheckpoint(true)
    }
    reach.groupBy("seed").agg(count(lit(1)).as("n_reach"))
  }

  /** Global triangle and wedge counts (plus the global clustering
    * coefficient) over a SYMMETRIC edge list, via degree-ordered
    * orientation: each undirected edge is kept only in the direction of
    * increasing (degree, id), turning the graph into a DAG where every
    * triangle appears exactly once as a path a→b→c closed by a→c. The
    * orientation bounds each vertex's forward degree by O(sqrt(|E|)) on
    * skewed graphs — the standard trick that keeps the wedge join from
    * going quadratic on hub vertices.
    */
  def triangleStats(edges: DataFrame,
                    edgesMaterialized: Boolean = false): DataFrame = {
    val e = if (edgesMaterialized) edges else edges.localCheckpoint(true)
    val deg = e.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val oriented = e
      .join(deg.select(col("v").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("ddeg")), "dst")
      .filter(col("sdeg") < col("ddeg") ||
        (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select("src", "dst")
      .localCheckpoint(true)
    val paths = oriented.toDF("a", "b")
      .join(oriented.toDF("b", "c"), "b")
      .select("a", "c")
    val tri = paths.join(oriented.toDF("a", "c"), Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("t"))
    val wed = deg.agg(sum(expr("deg * (deg - 1) div 2")).as("w"))
    tri.crossJoin(wed).select(
      col("w").as("n_wedges"), col("t").as("n_triangles"),
      round(lit(3.0) * col("t").cast("double") / col("w").cast("double"), 6)
        .as("global_cc"))
  }

  /** Deterministic fixed-point PageRank over `edges(src, dst)`.
    *
    * rank := base + 0.85 · Σ_in rank(u)/outdeg(u), with every quantity a
    * long scaled by `scale` and every division integral — the standard
    * damped iteration quantized so that the result is independent of
    * shuffle order, partitioning and engine (dangling vertices keep the
    * base term only; in a symmetrized graph none exist). Returns
    * (vertex, pr_int) where pr ≈ pr_int / scale.
    */
  def pageRank(edges: DataFrame, iterations: Int,
               scale: Long = 1000000000L,
               edgesMaterialized: Boolean = false,
               broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    // the edge list is read every iteration — materialize it once instead
    // of re-deriving the upstream (self-join + distinct) per iteration
    val e = if (edgesMaterialized) edges else edges.localCheckpoint(true)
    // (vertex, outdeg) in ONE aggregate over both edge endpoints (src
    // occurrences count 1, dst occurrences 0) — equivalent to the
    // distinct ∪ left-join-outdegree ∪ fill(0) chain it replaces (a
    // dst-only vertex sums to 0) with one exchange instead of three.
    val vertsPlan = e.select(col("src").as("vertex"), lit(1L).as("one"))
      .unionAll(e.select(col("dst").as("vertex"), lit(0L).as("one")))
      .groupBy("vertex").agg(sum(col("one")).as("outdeg"))
    // take(cap + 1) both gates the path and feeds the local one — the
    // same one-job pattern as NilCluster's surface take
    val head =
      if (broadcastMaxRows < Int.MaxValue - 1)
        vertsPlan.take(broadcastMaxRows.toInt + 1)
      else Array.empty[org.apache.spark.sql.Row]
    val isLocal = head.nonEmpty && head.length <= broadcastMaxRows

    if (isLocal) {
      val n = head.length.toLong
      val base = (15L * scale / 100L) / n
      // Rank-vector path: the rank table is |V| rows of (vertex, long) —
      // under the broadcast cap it lives as a driver-local array (same
      // guarded-driver-materialization discipline as Pipeline's cluster
      // heads) and each iteration is ONE job: a map-side broadcast join
      // of the per-source contribution onto the static edge checkpoint
      // plus a partial/final sum by dst. The edge list never shuffles and
      // nothing is re-checkpointed per iteration — the shuffle loop below
      // paid 3 exchanges + a checkpoint barrier per iteration for frames
      // that are vertex-sized. Long arithmetic identical (floorDiv on
      // non-negative operands == SQL `div`), so ranks are bit-equal.
      val spark = edges.sparkSession
      val vtype = vertsPlan.schema("vertex").dataType
      val order = head.map(_.get(0))
      val outdeg = head.map(r => r.get(0) -> r.getLong(1)).toMap
      var pr: Map[Any, Long] = order.iterator.map(_ -> scale / n).toMap
      val cSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("src", vtype, nullable = false),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.LongType, nullable = false)))
      for (_ <- 1 to iterations) {
        val contribs = order.iterator
          .filter(v => outdeg(v) > 0L)
          .map(v => org.apache.spark.sql.Row(v, Math.floorDiv(pr(v), outdeg(v))))
          .toSeq
        val cDf = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(contribs).asJava), cSchema)
        val sums = e.join(broadcast(cDf), Seq("src"))
          .groupBy(col("dst").as("vertex"))
          .agg(sum(col("c")).as("m"))
          .collect()
          .map(r => r.get(0) -> r.getLong(1)).toMap
        pr = order.iterator.map(v =>
          v -> (base + Math.floorDiv(85L * sums.getOrElse(v, 0L), 100L))).toMap
      }
      val outRows = order.map(v => org.apache.spark.sql.Row(v, pr(v)))
      val oSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vertex", vtype, nullable = false),
        org.apache.spark.sql.types.StructField("pr_int",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(outRows.toSeq).asJava),
        oSchema)
    }

    // distributed fallback (vertex set above the broadcast cap)
    val verts = vertsPlan.localCheckpoint(true)
    val n = verts.count()
    val base = (15L * scale / 100L) / n
    var pr = verts.withColumn("pr", lit(scale / n))
    for (_ <- 1 to iterations) {
      val sums = e
        .join(pr.filter(col("outdeg") > 0)
          .select(col("vertex").as("src"), expr("pr div outdeg").as("c")), "src")
        .groupBy(col("dst").as("vertex"))
        .agg(sum(col("c")).as("m"))
      pr = verts.join(sums, Seq("vertex"), "left")
        .select(col("vertex"), col("outdeg"),
          (lit(base) + expr("85 * coalesce(m, CAST(0 AS BIGINT)) div 100"))
            .as("pr"))
        .localCheckpoint(true)
    }
    pr.select(col("vertex"), col("pr").as("pr_int"))
  }

  /** Transitive closure via path doubling: returns every (src, dst) pair
    * connected by a directed path of length ≤ 2^rounds — so `rounds` =
    * ⌈log₂(max path length)⌉, a handful of joins where the frontier loop
    * needs one join PER HOP. The right kernel when the closure itself is
    * the product (ontology subclass/ancestor chains, category rollups):
    * per-vertex closure size is bounded by DAG depth there, so the
    * doubled frame grows linearly with Σdepth(v), never |V|².
    *
    * Scale shape per round: one self-equi-join on the midpoint key + one
    * distinct (both plain hash shuffles on the same key — AQE coalesces
    * them), localCheckpoint to truncate the doubling lineage. NOT for
    * dense graphs: closure of a strongly-connected component is |C|² by
    * definition — use [[reachableWithin]]/ConnectedComponents there.
    */
  def transitiveClosure(edges: DataFrame, rounds: Int): DataFrame = {
    var r = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    // (r6 A/B, rejected: a fixpoint early-exit — stop when the row count
    // stops growing — measured WORSE: the per-round count over the
    // checkpoint is a full block scan, and 6 counts cost more than the
    // one join+distinct round they save at bench scale.)
    for (_ <- 1 to rounds) {
      val hop = r.as("x")
        .join(r.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
      r = r.unionAll(hop).distinct().localCheckpoint(true)
    }
    r
  }

  /** Synchronous label propagation (community detection, Raghavan et al.
    * 2007): every vertex starts labeled by itself; each round it adopts
    * the most frequent label among its NEIGHBORS, ties broken by the
    * smallest label — a total order, so the result is deterministic
    * under any shuffle order and reproducible in unrolled SQL (no RNG,
    * unlike the classic asynchronous variant). Fixed iteration count =
    * the operator contract (callers pick k; convergence detection would
    * make the oracle unreproducible).
    *
    * Scale shape: per iteration, one edge⋈labels equi-join + one
    * (vertex, label) hash aggregate + one argmax window partitioned by
    * vertex (group size = a vertex's distinct neighbor labels, bounded
    * by degree); localCheckpoint per iteration per the iterative-
    * algorithm invariant. Output: (vertex, label).
    */
  def labelPropagation(edges: DataFrame, iterations: Int,
                       edgesMaterialized: Boolean = false): DataFrame = {
    val e = if (edgesMaterialized) edges else edges.localCheckpoint(true)
    var labels = e.select(col("src").as("vertex"))
      .unionAll(e.select(col("dst").as("vertex")))
      .distinct()
      .withColumn("label", col("vertex"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val votes = e
        .join(labels.select(col("vertex").as("src"), col("label")), "src")
        .groupBy(col("dst").as("vertex"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      labels = votes
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("vertex"))
            .orderBy(col("cnt").desc, col("label").asc)))
        .filter(col("rn") === 1)
        .select(col("vertex"), col("label"))
        .localCheckpoint(true)
    }
    labels
  }
}
