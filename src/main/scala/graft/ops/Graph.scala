package graft.ops

import graft.Tables
import graft.Engine.LoopCheckpointOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over relationship structures derived from the relational
  * tables (here: the part co-purchase graph — parts are connected when they
  * appear in the same order).
  *
  * Iterative algorithms follow the same driver-orchestrated loop shape as
  * [[graft.ext.Dedup.connectedComponents]]: the edge set is materialized
  * once via [[graft.Engine.loopCheckpoint]] (local by default; the
  * `spark.graft.checkpoint.reliable` conf switches every loop to reliable
  * `checkpoint()` for the fault-tolerant cluster posture), each round is
  * ONE join + ONE aggregation, and only scalar convergence metadata ever
  * reaches the driver. Rank state is a (node, rank) frame — linear in
  * nodes, never in edges.
  *
  * Numerics: ranks are kept in integer MICRO-UNITS (1e9 = total mass 1.0)
  * and every per-edge contribution is an integer floor division
  * (`(r * 85) div (100 * deg)`). Integer sums are order-free, so the
  * result is bit-identical across partitionings AND across engines — a
  * float PageRank could not be hash-matched against an external oracle
  * because contribution-sum order differs.
  */
object Graph {

  /** Directed co-purchase edges (src part -> dst part, both directions),
    * deduplicated. Baskets gather once per order (partial-aggregated
    * collect_set) and pairs explode MAP-SIDE — one shuffle to group plus
    * one to dedup, where a basket self-join would add a third; fan-out
    * per order is bounded by lines-per-order squared (~16 at TPC-H
    * shape), so the expansion never explodes.
    */
  private def coPurchaseEdges(t: Tables): DataFrame =
    t.lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(collect_set(col("pk")).as("ps"))
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))
      // shared-order multiplicity rides along for free (the group IS the
      // dedup): unweighted consumers project it away, qSssp derives its
      // integer edge weights from it without a second graph build
      .groupBy("src", "dst").agg(count(lit(1)).as("shared"))

  /** The co-purchase edge fact is an INDEX every graph query probes —
    * PageRank, BFS, and the triangle census all start from the same
    * self-join. Build and checkpoint it once per table directory and
    * reuse the materialized rows across queries in the session (the same
    * build-once economics as [[graft.ext.Dedup]]'s persisted pair
    * frames); switching directories frees the superseded checkpoint, so
    * at most one edge index is ever held. Callers must NOT free the
    * returned frame — the cache owns it.
    */
  private val edgeIndexCached = new graft.Engine.DirCache((t, _) => {
    val edges = coPurchaseEdges(t).loopCheckpoint()
    // src-degree over the symmetric deduplicated edge set = undirected
    // neighbor count — the degree every consumer (PageRank, profile,
    // triangles) wants
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .loopCheckpoint()
    val stats = deg.agg(count(lit(1)), min("src")).head()
    EdgeIndex(edges, deg, stats.getLong(0),
      if (stats.isNullAt(1)) 0L else stats.getLong(1))
  })

  /** The shared edge index plus the node-sized statistics every graph
    * query re-derived per call (each a full edge scan + shuffle: degree
    * aggregation, distinct-node count, min-node seed). Building them once
    * with the edges drops ~2 fixed jobs from each of the seven graph
    * queries in a bench run. `deg` is checkpointed and cache-owned —
    * callers must not free it.
    */
  private final case class EdgeIndex(
      edges: DataFrame, deg: DataFrame, nNodes: Long, minNode: Long) {
    /** `df` hinted for broadcast while the graph has at most 1e6 nodes.
      * Node-sized frames (degrees, ranks, labels, frontiers) are a
      * dimension, not the edge fact: while they fit the broadcast tier
      * they join map-side and the edge frame never shuffles per round;
      * past that they join shuffled, keyed by node.
      */
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (nNodes <= 1000000L) broadcast(df) else df
  }

  private def coPurchaseWeightedCached(t: Tables): DataFrame =
    edgeIndexCached(t).edges
  private def coPurchaseEdgesCached(t: Tables): DataFrame =
    coPurchaseWeightedCached(t).select("src", "dst")

  /** The session's shared weighted co-purchase fact for NON-graph
    * consumers (basket pairs, association rules, item-item CF): (src,
    * dst, shared) with both directions present, `shared` = number of
    * orders containing both parts. One build serves the whole recommender
    * + graph family in a session. Cache-owned — callers must not free.
    */
  private[ops] def sharedCoPurchase(t: Tables): DataFrame =
    coPurchaseWeightedCached(t)

  /** PageRank (damping 0.85, fixed `iters` rounds) over the co-purchase
    * graph, in exact integer micro-units. Nodes are parts with at least one
    * co-purchase edge (the graph is symmetric, so every node has in- and
    * out-degree >= 1 and the per-round join loses nobody). The oracle
    * unrolls the same three rounds as chained CTEs — integer arithmetic
    * makes the two formulations value-identical, not just approximately
    * close.
    */
  def qPagerank(t: Tables, iters: Int = 3): DataFrame = {
    // the co-purchase self-join is by far the heaviest stage: materialize
    // it ONCE, then derive degrees / node count / the loop-invariant
    // (src, dst, deg) frame from the checkpointed rows (each a cheap
    // re-read, not a re-build). Degrees and the node count come from the
    // shared index (cache-owned — not freed here).
    val idx = edgeIndexCached(t)
    val edges0 = idx.edges.select("src", "dst")
    val deg = idx.deg
    val nNodes = idx.nNodes
    locally {
      val base = 150000000L / nNodes // (1 - d) * 1e9 / N, floored once
      // loop-invariant (src, dst, deg): left LAZY on purpose — each round
      // re-reads the checkpointed edge rows and re-applies the broadcast
      // deg join (a map-side hash probe), which is cheaper than writing a
      // second edge-sized checkpoint just to avoid it
      val edgesD = edges0.join(idx.maybeBroadcast(deg), "src")
      // the initial rank frame is checkpointed too: the free-previous walk
      // unpersists every LogicalRDD in the freed frame's plan, so frames
      // entering the prev-chain must be self-contained — a lazy frame here
      // would drag edgesD's checkpoint down with it on round 2
      var ranks = deg.select(col("src").as("node"))
        .withColumn("r", lit(1000000000L / nNodes))
        .loopCheckpoint()
      var prev: DataFrame = null
      for (_ <- 1 to iters) {
        val next = edgesD
          .join(idx.maybeBroadcast(ranks), col("src") === col("node"))
          .select(col("dst"),
            expr("(r * 85) div (100 * deg)").as("c"))
          .groupBy(col("dst").as("node"))
          .agg((sum("c") + lit(base)).as("r"))
          .loopCheckpoint()
        if (prev != null) graft.Engine.freeCheckpoint(prev)
        prev = ranks
        ranks = next
      }
      if (prev != null) graft.Engine.freeCheckpoint(prev)
      ranks.select(col("node").as("part"), col("r").as("rank"))
        .orderBy("part")
    }
  }

  /** BFS hop distance from a deterministic seed (the minimum part key in
    * the graph), bounded at `maxHops`. Frontier expansion: each round joins
    * the (node-sized, broadcast-guarded) frontier into the checkpointed
    * edge fact and anti-joins the visited set — min-DISTANCE semantics,
    * complementing [[qPagerank]]'s fixed-round mass flow and
    * [[graft.ext.Dedup.connectedComponents]]'s min-label lattice. All
    * arithmetic is integer; the oracle unrolls the same three frontiers as
    * NOT-IN chained CTEs.
    */
  def qBfsHops(t: Tables, maxHops: Int = 3): DataFrame = {
    val idx = edgeIndexCached(t)
    val edges0 = idx.edges.select("src", "dst")
    // node count and the deterministic seed come from the shared index —
    // per-query they each cost a full edge scan + shuffle
    val seed = idx.minNode
    // one checkpointed frame PER HOP, and the visited set is the lazy
    // union of those already-materialized frames — re-checkpointing the
    // growing visited frame every round added one extra (growing) job per
    // hop for data the hop frames already hold
    val hopFrames = scala.collection.mutable.Buffer(
      edges0.sparkSession.range(1)
        .select(lit(seed).as("node"), lit(0L).as("hop"))
        .loopCheckpoint())
    var frontier = hopFrames.head.select("node")
    var h = 1
    var growing = true
    while (growing && h <= maxHops) {
      val visited = hopFrames.map(_.select("node")).reduce(_ unionByName _)
      // the emptiness witness materializes the lazy hop checkpoint (the
      // limit-1 probe touches partitions until one yields; the remainder
      // fill in when the next hop's join first scans the frame)
      val (next, empty) = graft.Engine.loopCheckpointWith(
        edges0
          .join(idx.maybeBroadcast(frontier.select(col("node").as("src"))), "src")
          .select(col("dst").as("node")).distinct()
          .join(idx.maybeBroadcast(visited), Seq("node"), "left_anti")
          .withColumn("hop", lit(h.toLong)))(_.isEmpty)
      growing = !empty
      if (growing) {
        hopFrames += next
        frontier = next.select("node")
      } else graft.Engine.freeCheckpoint(next)
      h += 1
    }
    // the hop frames stay live — they ARE the result; node-sized, freed
    // when the next table directory supersedes the session's graph state
    hopFrames.map(_.select("node", "hop")).reduce(_ unionByName _)
      .select(col("node").as("part"), col("hop")).orderBy("part")
  }

  /** Graph profile of the co-purchase graph: size, degree extremes, and
    * degree assortativity — the Pearson correlation of endpoint degrees
    * over the (symmetric) directed edge set, the standard one-number
    * summary of hub-to-hub vs hub-to-leaf wiring. Because the edge set is
    * symmetric the two endpoint-degree marginals coincide, so
    * `r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)` — every moment an exact
    * integer (decimal-widened against 2^63), ONE double division at the
    * end, no square root: bit-identical across engines and partitionings.
    * Shape: degrees probe the session's shared edge index; the moment
    * pass is one broadcast-join + aggregation over edges.
    */
  def qGraphProfile(t: Tables): DataFrame = {
    val idx = edgeIndexCached(t)
    val edges = idx.edges.select("src", "dst")
    val deg = idx.deg.select(col("src"), col("deg").as("d"))
    val nNodes = idx.nNodes
    val m = edges
      .join(idx.maybeBroadcast(deg.select(col("src"), col("d").as("ds"))), "src")
      .join(idx.maybeBroadcast(
        deg.select(col("src").as("dst"), col("d").as("dt"))), "dst")
      .agg(
        count(lit(1)).as("n_edges"),
        max("ds").as("max_degree"),
        sum(col("ds").cast("decimal(38,0)")).as("sx"),
        sum((col("ds") * col("ds")).cast("decimal(38,0)")).as("sxx"),
        sum((col("ds") * col("dt")).cast("decimal(38,0)")).as("sxy"))
      .head()
    val (nE, sx, sxx, sxy) = (m.getLong(0),
      BigDecimal(m.getDecimal(2)), BigDecimal(m.getDecimal(3)),
      BigDecimal(m.getDecimal(4)))
    val num = BigDecimal(nE) * sxy - sx * sx
    val den = BigDecimal(nE) * sxx - sx * sx
    edges.sparkSession.range(1).select(
      lit(nNodes).as("n_nodes"), lit(nE).as("n_edges"),
      lit(m.getLong(1)).as("max_degree"),
      (lit(nE).cast("double") / lit(nNodes)).as("avg_degree"),
      (lit(num.toDouble) / lit(den.toDouble)).as("assortativity"))
  }

  /** [[propagateLabels]] behind a build-once session cache keyed on
    * `iters`: the community partition is consumed by both qLabelProp and
    * qModularity, and re-propagating for each costs a full round set.
    * The cache owns the final checkpoint; callers must not free it.
    */
  private val propagateLabelsCached = new graft.Engine.DirCache(propagateLabels)

  /** Synchronous label propagation (fixed `iters` rounds) over the
    * co-purchase graph: every node starts as its own label, and each round
    * every node adopts the most frequent label among its neighbors, ties
    * broken toward the SMALLEST label — the classic LPA community
    * heuristic made deterministic. Per round the edge fact is joined once
    * against the node-sized (broadcast-guarded) label frame, counted by
    * (dst, label), and reduced by an exact `min(struct(-count, label))`
    * argmax — a partial-aggregable reduction, no sort window — so each
    * round costs two hash aggregations over edge-sized data and the label
    * state stays node-sized. All arithmetic is integer (counts and label
    * keys), so the fixed-round unrolled-CTE oracle is value-identical.
    * Returns the checkpointed final label frame, owned by
    * [[propagateLabelsCached]].
    */
  private def propagateLabels(t: Tables, iters: Int): DataFrame = {
    val idx = edgeIndexCached(t)
    val edges = idx.edges.select("src", "dst")
    // initial labels from the index's (node-unique, materialized) degree
    // frame — no distinct shuffle over edges; re-checkpointed so round 1's
    // free of the superseded frame cannot unpersist the cache-owned deg
    var labels = idx.deg.select(col("src").as("node"), col("src").as("lbl"))
      .loopCheckpoint()
    for (_ <- 1 to iters) {
      val next = edges
        .join(idx.maybeBroadcast(labels.withColumnRenamed("node", "src")), "src")
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dst").as("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("s"))
        .select(col("node"), col("s.l").as("lbl"))
        .loopCheckpoint()
      graft.Engine.freeCheckpoint(labels)
      labels = next
    }
    labels
  }

  /** Final per-node community assignment after three synchronous label
    * propagation rounds — see [[propagateLabels]] for the loop shape and
    * determinism argument.
    */
  def qLabelProp(t: Tables, iters: Int = 3): DataFrame =
    // the final label checkpoint is owned by the session cache (shared
    // with qModularity); the superseded rounds were freed in-loop
    propagateLabelsCached(t, iters)
      .select(col("node").as("part"), col("lbl").as("community"))
      .orderBy("part")

  /** Newman modularity decomposition of the [[propagateLabels]] partition,
    * kept in exact integers: per community c the contribution to
    * Q = Σ_c [ e_c/(2m) − (deg_c/(2m))² ] is reported as the integer
    * numerator `q_num = internal_edges·2m − deg_sum²` over the constant
    * denominator `two_m²` — no float aggregation, so both engines agree
    * bit-for-bit. On the symmetric directed edge set, `deg_sum` (directed
    * edges leaving c) equals the undirected degree sum and
    * `internal_edges` counts intra-community directed edges (2·e_c on
    * both sides of the oracle, consistently). Shape: one edge-fact pass
    * joining the two node-sized label maps (broadcast-guarded), one
    * community-keyed aggregation. Headroom: deg_sum² < 2^63 up to ~3e9
    * directed edges per community; widen to DECIMAL(38,0) beyond.
    */
  def qModularity(t: Tables, iters: Int = 3): DataFrame = {
    val idx = edgeIndexCached(t)
    val edges = idx.edges.select("src", "dst")
    // cache-owned checkpoint; node-complete, so the index's node count
    // sizes it for the broadcast choice
    val labels = propagateLabelsCached(t, iters)
    val dTot = edges.count() // directed edge count = 2m (cheap: edges are
    // materialized index rows)
    edges
      .join(idx.maybeBroadcast(
        labels.select(col("node").as("src"), col("lbl").as("ls"))), "src")
      .join(idx.maybeBroadcast(
        labels.select(col("node").as("dst"), col("lbl").as("lt"))), "dst")
      .groupBy(col("ls").as("community"))
      .agg(
        countDistinct(col("src")).as("n_nodes"),
        sum(when(col("lt") === col("ls"), 1L).otherwise(0L))
          .as("internal_edges"),
        count(lit(1)).as("deg_sum"))
      .select(col("community"), col("n_nodes"), col("internal_edges"),
        col("deg_sum"),
        (col("internal_edges") * lit(dTot) -
          col("deg_sum") * col("deg_sum")).as("q_num"),
        lit(dTot).as("two_m"))
      .orderBy("community")
  }

  /** Degree-oriented edge list (u → v with rank(u) < rank(v), rank =
    * (degree, id)) — the Schank–Wagner orientation both triangle
    * consumers share. A lazy view over the checkpointed edge index (one
    * edge scan + two broadcast degree attachments per consumer); the
    * orientation bounds per-apex fan-out by oriented out-degree —
    * O(sqrt m) worst case — which is the whole triangle scale story.
    */
  private def orientedEdges(idx: EdgeIndex): DataFrame = {
    val und = idx.edges.select("src", "dst").filter(col("src") < col("dst"))
      .select(col("src").as("s"), col("dst").as("t"))
    val deg = idx.deg.select(col("src").as("n"), col("deg").as("d"))
    val lower = col("ds") < col("dt") ||
      (col("ds") === col("dt") && col("s") < col("t"))
    und
      .join(idx.maybeBroadcast(deg.select(col("n").as("s"), col("d").as("ds"))), "s")
      .join(idx.maybeBroadcast(deg.select(col("n").as("t"), col("d").as("dt"))), "t")
      .select(
        when(lower, col("s")).otherwise(col("t")).as("u"),
        when(lower, col("t")).otherwise(col("s")).as("v"),
        when(lower, col("dt")).otherwise(col("ds")).as("dv"))
  }

  /** Per-node triangle counts (node, t) — the ONE wedge-enumeration pass
    * in a session, shared by [[qClusteringCoeff]] (reads it directly) and
    * [[qTriangleCount]] (Σt = 3·triangles). Wedges come from a self-join
    * of the oriented edge list on the apex — two broadcast hash probes per
    * edge row in one whole-stage-codegen pass, no adjacency-list gather
    * and no per-wedge array slicing (the previous collect_list + slice
    * explode spent its time materializing array copies: 41 M struct
    * slices at sf0.1, measured ~10× this plan). The rank filter
    * (dv, v) keeps wedge order identical to the orientation, so the
    * closing chord is exactly an oriented edge; each closed triangle
    * credits its three corners via a 3-row explode into one hash
    * aggregate. Past the broadcast tier both joins degrade to the
    * one-shuffle hash join keyed by apex / chord — the same shape, just
    * exchanged. Node-sized output, cache-owned — callers must not free.
    */
  private val triPerNodeCache = graft.Engine.DirCache.frame(t => {
    val idx = edgeIndexCached(t)
    val ori = orientedEdges(idx)
    val nEdgesOri = idx.deg
      .agg((sum("deg") / 2).cast("long")).head().getLong(0)
    def maybeBroadcastEdges(df: DataFrame): DataFrame =
      if (nEdgesOri <= 2000000L) broadcast(df) else df
    val wedges = ori
      .select(col("u").as("a"), col("v").as("wu"), col("dv").as("d1"))
      .join(maybeBroadcastEdges(
        ori.select(col("u").as("a"), col("v").as("wv"), col("dv").as("d2"))),
        "a")
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("wu") < col("wv")))
    wedges
      .join(maybeBroadcastEdges(
        ori.select(col("u").as("wu"), col("v").as("wv"))),
        Seq("wu", "wv"), "left_semi")
      .select(explode(array(col("a"), col("wu"), col("wv"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
  })

  /** Triangle census of the undirected co-purchase graph, via the
    * degree-ordered node-iterator (Schank–Wagner, see
    * [[triPerNodeCache]]): one row out — node/edge/wedge/triangle counts
    * and the global clustering coefficient (3·triangles / open wedges),
    * all exact integers plus one rounded ratio — engine-independent.
    * Triangles fold out of the shared per-node census (Σt / 3); the
    * oriented wedge total is closed-form over the orientation's
    * out-degrees (Σ_u C(odeg(u), 2)), so this query never re-enumerates
    * the wedge stream.
    */
  def qTriangleCount(t: Tables): DataFrame = {
    val idx = edgeIndexCached(t)
    val degStats = idx.deg.agg(
      sum("deg").as("deg_total"),
      sum(expr("(deg * (deg - 1)) div 2")).cast("long").as("open")).head()
    val nNodes = idx.nNodes
    val nEdges = degStats.getLong(0) / 2 // every edge counted at both ends
    val open = degStats.getLong(1)
    val wedgeRow = orientedEdges(idx)
      .groupBy("u").agg(count(lit(1)).as("o"))
      .agg(sum(expr("(o * (o - 1)) div 2")).cast("long")).head()
    val nWedges = if (wedgeRow.isNullAt(0)) 0L else wedgeRow.getLong(0)
    val triRow = triPerNodeCache(t).agg(sum("t").cast("long")).head()
    val nTriangles = (if (triRow.isNullAt(0)) 0L else triRow.getLong(0)) / 3L
    // every statistic is already a driver scalar, so the result frame is
    // literal-only — collection cannot resurrect freed checkpoints
    t.spark.range(1).select(
      lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
      lit(nWedges).as("n_wedges"),
      lit(nTriangles).as("n_triangles"),
      round(lit(nTriangles * 3.0) / lit(open), 9).as("clustering"))
  }

  /** Neighborhood Jaccard similarity for the probe set: |N(u)∩N(v)| /
    * |N(u)∪N(v)| over candidate pairs — the normalized companion of
    * [[qLinkPrediction]]'s raw common-neighbor count (a hub pair shares
    * many neighbors by volume alone; Jaccard asks whether their
    * neighborhoods actually coincide). Same probe-framed join shape plus
    * two broadcast degree attachments; the ranking key is the INTEGER
    * micro-unit 10⁹·|∩| div |∪| — exact, so the top-k cut is a pure
    * function of the graph in any engine.
    */
  def qNodeJaccard(
      t: Tables, probeMod: Int = 199, k: Int = 5): DataFrame = {
    val idx = edgeIndexCached(t)
    val edges = idx.edges.select("src", "dst")
    val deg = idx.deg
    val probes = edges.filter(pmod(col("src"), lit(probeMod)) === 0)
      .select(col("src").as("u"), col("dst").as("w"))
    val common = probes
      .join(edges.select(col("src").as("w"), col("dst").as("v")), "w")
      .filter(col("v") =!= col("u"))
      .groupBy("u", "v").agg(count(lit(1)).as("n_common"))
      .join(edges.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .join(idx.maybeBroadcast(deg.select(col("src").as("u"),
        col("deg").as("du"))), "u")
      .join(idx.maybeBroadcast(deg.select(col("src").as("v"),
        col("deg").as("dv"))), "v")
      .withColumn("n_union", col("du") + col("dv") - col("n_common"))
      .withColumn("jac_units",
        expr("(1000000000 * n_common) div n_union"))
    val byProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("jac_units").desc, col("v"))
    common
      .withColumn("rnk", row_number().over(byProbe).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("u").as("part"), col("v").as("candidate"),
        col("n_common"), col("n_union").cast("long").as("n_union"),
        col("jac_units").cast("long").as("jac_units"),
        (col("n_common").cast("double") / col("n_union").cast("double"))
          .as("jaccard"), col("rnk"))
      .orderBy("part", "rnk")
  }

  /** Per-node local clustering coefficient: 2·t(v) / (deg(v)·(deg(v)−1)),
    * the top-25 most triangle-embedded nodes — which products sit inside
    * tight co-purchase cliques (bundle candidates) vs mere hubs. Per-node
    * triangle counts come from the session's shared census
    * ([[triPerNodeCache]] — one wedge pass serves this query AND
    * [[qTriangleCount]]); what remains here is a node-sized degree join.
    * All-integer until the one coefficient division; the top-25 cut
    * orders by (t, node) — integer keys, so the cut is deterministic in
    * any engine.
    */
  def qClusteringCoeff(t: Tables, k: Int = 25): DataFrame = {
    val idx = edgeIndexCached(t)
    val deg = idx.deg.select(col("src").as("n"), col("deg").as("d"))
    val triPerNode = triPerNodeCache(t)
    deg.select(col("n").as("node"), col("d"))
      .join(triPerNode, Seq("node"), "left")
      .na.fill(0L, Seq("t"))
      .withColumn("coeff",
        when(col("d") >= 2L,
          (col("t") * 2L).cast("double") /
            (col("d") * (col("d") - 1L)).cast("double")))
      .orderBy(col("t").desc, col("node"))
      .limit(k)
      .select(col("node"), col("d").cast("long").as("deg"),
        col("t").cast("long").as("n_tri"), col("coeff"))
  }

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * over the symmetric edge list — do high-degree products co-purchase
    * with other hubs (r > 0) or with the long tail (r < 0)? One
    * broadcast-degree join over the shared edge index plus a single
    * exact-decimal moment aggregate; the correlation is the only float,
    * rounded far above the cross-engine ulp.
    */
  def qAssortativity(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val idx = edgeIndexCached(t)
    val deg = idx.deg
    idx.edges.select("src", "dst")
      .join(idx.maybeBroadcast(deg.select(col("src"), col("deg").as("ds"))), "src")
      .join(idx.maybeBroadcast(
        deg.select(col("src").as("dst"), col("deg").as("dt"))), "dst")
      .agg(
        count(lit(1)).as("n"),
        sum(col("ds")).cast("long").as("sx"),
        sum(col("dt")).cast("long").as("sy"),
        sum((col("ds") * col("ds")).cast(DecimalType(38, 0))).as("sxx"),
        sum((col("dt") * col("dt")).cast(DecimalType(38, 0))).as("syy"),
        sum((col("ds") * col("dt")).cast(DecimalType(38, 0))).as("sxy"))
      .select(
        col("n").as("n_edges"),
        (col("sx").cast("double") / col("n").cast("double")).as("mean_deg"),
        round(
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt(
              (col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
              (col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 9)
          .as("assortativity"))
  }

  /** Single-k peel: the stabilized symmetric edge frame of the k-core of
    * `edges0` (src/dst, both directions). Returns a checkpointed frame the
    * caller owns; the input is never freed. Package-private so the spec
    * can cross-check it against a brute-force peel on crafted graphs.
    */
  private[graft] def kcoreSurvivors(
      edges0: DataFrame, k: Int, maxIter: Int = 30,
      keepHint: DataFrame => DataFrame = broadcast(_)): DataFrame = {
    var edges = edges0
    var owned = false
    var prevCount = edges.count()
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      // the survivor set is node-sized: broadcasting it turns BOTH
      // semi-joins into map-side probes, so each peel round shuffles the
      // edge frame once (the degree aggregate) instead of three times
      val keep0 = deg.filter(col("deg") >= k).select(col("src"))
      val keep = keepHint(keep0)
      // the symmetric edge frame's src-degree equals the undirected
      // degree; convergence = no edge was dropped this round. The count
      // witness materializes the lazy round checkpoint — one job per peel.
      val (next, c) = graft.Engine.loopCheckpointWith(
        edges
          .join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst"))(_.count())
      done = c == prevCount
      prevCount = c
      if (owned) graft.Engine.freeCheckpoint(edges)
      edges = next
      owned = true
      i += 1
    }
    if (!done) throw new IllegalStateException(
      s"kcoreSurvivors: $k-core peel did not converge in $maxIter rounds")
    edges
  }

  /** k-core decomposition by iterative peeling: repeatedly delete nodes of
    * degree < k until the subgraph stabilizes; emitted for a ladder of k
    * values. Cores are NESTED (the (k+1)-core is a subgraph of the
    * k-core), so each ladder step peels the PREVIOUS step's survivor
    * graph, not the full graph — the expensive first peel happens once.
    *
    * Scale shape: each peel round is one degree aggregate + one semi-join
    * on the shrinking edge frame, checkpointed per round with the
    * superseded round freed ([[graft.ext.Dedup.connectedComponents]]'s
    * loop discipline); the driver reads only the surviving-node COUNT.
    * Rounds are bounded by the peel depth of the degeneracy ordering —
    * loud failure past `maxIter`, never a silently unconverged core.
    *
    * Oracle: the peel fixpoint is not expressible in DuckDB's recursive
    * CTEs (no aggregation in the recursive term), so the SQL oracle
    * unrolls the loop as exactly 4 MATERIALIZED filter rounds per k
    * (`SparkEntry.oracleSql("q_kcore")`). The unroll is a BOUND: on a
    * corpus whose peel depth exceeds 4 rounds the engine fails loudly
    * past `maxIter` while the oracle would silently under-peel — the
    * spec pins the graded corpus inside the bound by asserting
    * `qKcore(maxIter = 4)` matches the default run, and a brute-force
    * cross-check covers crafted graphs.
    */
  def qKcore(t: Tables, ks: Seq[Int] = Seq(2, 4, 8), maxIter: Int = 30): DataFrame = {
    val spark = t.spark
    var cur = coPurchaseEdgesCached(t) // shared index; do not free
    var curOwned = false
    val idx = edgeIndexCached(t)
    val rows = ks.sorted.map { k =>
      // cores are nested: peel the previous k's survivors, not the full graph
      val surv = kcoreSurvivors(cur, k, maxIter, keepHint = idx.maybeBroadcast)
      if (curOwned) graft.Engine.freeCheckpoint(cur)
      cur = surv
      curOwned = true
      val stats = cur
        .agg(countDistinct(col("src")).as("n"), count(lit(1)).as("e")).head()
      (k.toLong, stats.getLong(0), stats.getLong(1) / 2)
    }
    if (curOwned) graft.Engine.freeCheckpoint(cur)
    import spark.implicits._
    rows.toDF("k", "n_nodes", "n_edges").orderBy("k")
  }

  /** Hop-bounded weighted shortest paths (Bellman-Ford rounds) from the
    * minimum part key over the co-purchase graph. Edge weight is
    * `1000000 div shared_order_count` — strongly co-purchased parts are
    * "closer" — so every distance is an exact integer and the result
    * hash-matches an oracle that unrolls the same relaxation rounds as
    * chained CTEs (the same unroll-vs-loop pairing as [[qPagerank]]).
    *
    * The hop bound IS the semantics (cheapest cost over paths of <= `hops`
    * edges), so the loop is a fixed count, not a convergence test —
    * exactly `hops` rounds of one join + one min-aggregate each, with the
    * per-round checkpoint/free discipline of the other iterative
    * operators. State is (node, dist) — linear in nodes.
    */
  def qSssp(t: Tables, hops: Int = 4): DataFrame = {
    // shares the session's weighted co-purchase index — no second build;
    // the seed (min node over the symmetric edge set) is an index scalar
    val idx = edgeIndexCached(t)
    val weighted = idx.edges
      .select(col("src"), col("dst"), expr("1000000 div shared").as("w"))
    val source = idx.minNode
    // dist is node-sized state, same as PageRank's rank frame: while it
    // fits the broadcast tier the relaxation join is a map-side hash probe
    // and the (checkpointed) edge fact never shuffles per round — AQE
    // cannot make this call itself because LogicalRDD stats are unknown
    var dist = weighted.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("dist"))
      .loopCheckpoint()
    for (_ <- 1 to hops) {
      val next = weighted
        .join(idx.maybeBroadcast(dist), weighted("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .union(dist)
        .groupBy("node").agg(min("dist").as("dist"))
        .loopCheckpoint()
      graft.Engine.freeCheckpoint(dist)
      dist = next
    }
    val out = dist.orderBy(col("dist"), col("node")).limit(20)
      .loopCheckpoint()
    graft.Engine.freeCheckpoint(dist) // the shared weighted index stays
    out
  }

  /** Link prediction by common-neighbor count for a deterministic PROBE
    * set (parts with key ≡ 0 mod `probeMod`): for each probe u, the top-k
    * non-adjacent candidates v ranked by |N(u) ∩ N(v)| — the co-purchase
    * recommendation shortlist. The probe-set framing is the production
    * shape: all-pairs common-neighbor counting is Σ deg²/2 wedges (148 M
    * on this graph at sf0.1 already — quadratic in the hub degrees),
    * while scoring a query set is probes × deg × deg work that scales
    * linearly with the probe count at ANY corpus size.
    *
    * Shape: the probe adjacency (probe-count-sized) joins the shared
    * edge index once on the middle node — candidate generation never
    * touches non-probe wedges — then one hash aggregate on (u, v), an
    * anti-join against the edge fact to drop already-adjacent pairs, and
    * a per-probe ranking window (bounded by each probe's two-hop
    * neighborhood, never global). All counts are integers; rank ties
    * break on the candidate key, so the result is a pure function of the
    * graph.
    */
  def qLinkPrediction(
      t: Tables, probeMod: Int = 199, k: Int = 5): DataFrame = {
    val idx = edgeIndexCached(t)
    val edges = idx.edges.select("src", "dst")
    val probes = edges.filter(pmod(col("src"), lit(probeMod)) === 0)
      .select(col("src").as("u"), col("dst").as("w"))
    val common = probes
      .join(edges.select(col("src").as("w"), col("dst").as("v")), "w")
      .filter(col("v") =!= col("u"))
      .groupBy("u", "v").agg(count(lit(1)).as("n_common"))
      .join(edges.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
    val byProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("n_common").desc, col("v"))
    common
      .withColumn("rnk", row_number().over(byProbe).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("u").as("part"), col("v").as("candidate"),
        col("n_common"), col("rnk"))
      .orderBy("part", "rnk")
  }

  /** Resource-allocation link scoring (Zhou–Lü–Zhang): each common
    * neighbor w contributes 1/deg(w) instead of 1 — a hub that bridges
    * everything stops dominating the shortlist. Same probe-set framing
    * and join shape as [[qLinkPrediction]]; the only addition is one
    * broadcast-sized join against the shared degree frame on the middle
    * node.
    *
    * Exactness: the per-neighbor weight is the INTEGER 10⁹ div deg(w)
    * (micro-unit floor division), so the score sum is exact integer
    * arithmetic — no float-accumulation order to diverge on, and the
    * ranking (score desc, candidate asc) is a pure function of the graph
    * in any engine.
    */
  def qResourceAlloc(
      t: Tables, probeMod: Int = 199, k: Int = 5): DataFrame = {
    val idx = edgeIndexCached(t)
    val edges = idx.edges.select("src", "dst")
    val probes = edges.filter(pmod(col("src"), lit(probeMod)) === 0)
      .select(col("src").as("u"), col("dst").as("w"))
    val wWeight = idx.deg
      .select(col("src").as("w"), expr("1000000000 div deg").as("wt"))
    val scored = probes
      .join(edges.select(col("src").as("w"), col("dst").as("v")), "w")
      .filter(col("v") =!= col("u"))
      .join(wWeight, "w")
      .groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"),
        sum(col("wt")).cast("long").as("ra_units"))
      .join(edges.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
    val byProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("ra_units").desc, col("v"))
    scored
      .withColumn("rnk", row_number().over(byProbe).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("u").as("part"), col("v").as("candidate"),
        col("n_common"), col("ra_units"), col("rnk"))
      .orderBy("part", "rnk")
  }

  /** Adamic–Adar link scoring: each common neighbor w contributes
    * 1/ln(deg(w)) — the classical midpoint between [[qLinkPrediction]]'s
    * flat count and [[qResourceAlloc]]'s aggressive 1/deg damping. Same
    * probe-set framing and join shape as both.
    *
    * Exactness: ln is transcendental, so the weight is pinned BEFORE any
    * aggregation — ln(deg(w)) rounds to integer micro-nats (half-up, the
    * engine-shared convention), then the contribution is the INTEGER
    * 10¹² div ln_micro. Sums of those longs are order-free on any engine.
    * deg(w) ≥ 2 always (w is adjacent to both endpoints), so ln_micro ≥
    * ln 2·10⁶ and the division is safe.
    */
  def qAdamicAdar(
      t: Tables, probeMod: Int = 199, k: Int = 5): DataFrame = {
    val idx = edgeIndexCached(t)
    val edges = idx.edges.select("src", "dst")
    val probes = edges.filter(pmod(col("src"), lit(probeMod)) === 0)
      .select(col("src").as("u"), col("dst").as("w"))
    val wWeight = idx.deg
      .select(col("src").as("w"), expr(
        "CAST(1000000000000 div CAST(round(ln(deg) * 1000000) AS BIGINT) AS BIGINT)")
        .as("wt"))
    val scored = probes
      .join(edges.select(col("src").as("w"), col("dst").as("v")), "w")
      .filter(col("v") =!= col("u"))
      .join(wWeight, "w")
      .groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"),
        sum(col("wt")).cast("long").as("aa_units"))
      .join(edges.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
    val byProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("aa_units").desc, col("v"))
    scored
      .withColumn("rnk", row_number().over(byProbe).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("u").as("part"), col("v").as("candidate"),
        col("n_common"), col("aa_units"), col("rnk"))
      .orderBy("part", "rnk")
  }

  /** The decimal-prefix forest over `ids` (one long column `id`):
    * parent(c) = c div 10 when that key exists, else null (a root).
    * `p.id <> c.id` guards the degenerate self-loop at key 0 (0 div 10 = 0).
    */
  def decimalForest(ids: DataFrame): DataFrame =
    ids.as("c")
      .join(ids.as("p"), expr("p.id = c.id div 10 AND p.id <> c.id"), "left")
      .select(col("c.id").as("id"), col("p.id").as("parent"))

  /** Resolves a parent forest (`id`, `parent`; a null parent marks a root,
    * and every non-null parent is itself an `id`) to (id, anc, depth):
    * each node's root and its distance from it, by pointer jumping. Each
    * round joins the label frame to itself on `anc = id` (the build side
    * through [[graft.Engine.joinIndex]]) and adds the two hop distances,
    * so every unresolved node's pointer doubles its reach; a node at depth
    * d is resolved after floor(log2 d) + 1 rounds, not d. A round is ONE
    * job (plus the build side's broadcast while it fits): its checkpoint
    * is materialized by its witness, the count of nodes still unresolved
    * ([[graft.Engine.loopCheckpointWith]]), and the superseded round is
    * freed. The first round reads `parentOf`'s
    * lineage directly, so the forest itself is never checkpointed. Fails
    * when `maxIter` rounds leave a node unresolved (a forest deeper than
    * 2^(maxIter - 1), or a cycle).
    */
  def resolveForest(parentOf: DataFrame, maxIter: Int = 20): DataFrame = {
    def round(labels: DataFrame): (DataFrame, Long) = {
      val up = labels.select(col("id").as("anc"), col("anc").as("up"),
        col("depth").as("up_depth"), col("done").as("up_done"))
      val next = labels.join(graft.Engine.joinIndex(up), "anc")
        .select(
          col("id"),
          when(col("done"), col("anc")).otherwise(col("up")).as("anc"),
          when(col("done"), col("depth"))
            .otherwise(col("depth") + col("up_depth")).as("depth"),
          (col("done") || col("up_done")).as("done"))
      // toRdd.count sums per-partition counts on the driver: one job,
      // where Dataset.count plans an aggregate exchange (two under AQE)
      graft.Engine.loopCheckpointWith(next)(
        _.filter(!col("done")).queryExecution.toRdd.count())
    }
    var (labels, active) = round(parentOf.select(
      col("id"),
      coalesce(col("parent"), col("id")).as("anc"),
      when(col("parent").isNull, lit(0L)).otherwise(lit(1L)).as("depth"),
      col("parent").isNull.as("done")))
    var rounds = 1
    while (active > 0 && rounds < maxIter) {
      val (next, stillActive) = round(labels)
      graft.Engine.freeCheckpoint(labels)
      labels = next
      active = stillActive
      rounds += 1
    }
    if (active > 0) {
      graft.Engine.freeCheckpoint(labels)
      throw new IllegalStateException(
        s"resolveForest: $active nodes unresolved after $maxIter rounds")
    }
    labels.select("id", "anc", "depth")
  }

  /** Hierarchy flattening: every node resolved to its ROOT and DEPTH over
    * a parent forest (here [[decimalForest]] on customer keys). The
    * transitive-closure pattern behind org charts and bill-of-materials
    * explosions, resolved by [[resolveForest]]'s pointer jumping in
    * floor(log2 depth) + 1 rounds of one job each — depth is bounded by the
    * hierarchy (≈ log10 of the key domain), NOT by data volume, so the
    * round count is scale-free. The depth-sized census (one row per
    * level) is returned lazily over the last round's checkpoint. The
    * oracle walks the same forest with a recursive CTE — two different
    * closure algorithms, one hash.
    */
  def qHierarchyFlatten(t: Tables, maxIter: Int = 20): DataFrame =
    resolveForest(decimalForest(t.customer.select(col("c_custkey").as("id"))), maxIter)
      .groupBy("depth")
      .agg(count(lit(1)).as("n_nodes"), countDistinct("anc").as("n_roots"))
      .orderBy("depth")

  /** HITS hubs/authorities (two fixed mutual-reinforcement rounds) over
    * the shared co-purchase index: authority = Σ neighbor hub mass,
    * hub = Σ neighbor authority mass, each round L∞-normalized back to a
    * 1e6 integer scale with floor division — the [[qPagerank]] exactness
    * convention (integer micro-units end to end, so the hash matches the
    * oracle's unrolled CTEs regardless of fold order). On the symmetric
    * co-purchase graph hubs and authorities coincide analytically, but the
    * operator computes both sides generically — the plan is the one a
    * directed citation/link graph needs. Each round is one join + one
    * aggregate against the node-sized score frame (broadcast-guarded, the
    * edge fact never re-shuffles).
    */
  def qHits(t: Tables, k: Int = 25): DataFrame = {
    val idx = edgeIndexCached(t)
    val edges = idx.edges.select("src", "dst")
    // round 1: h0 = 1e6 uniformly, so a1 is degree * 1e6 — still computed
    // through the generic join shape (the constant-h0 shortcut would not
    // survive a directed graph).
    // Each round's score frame is CHECKPOINTED before normalization:
    // normalize consumes its input twice (max-agg + join) and the next
    // round consumes the output again, so without materialization every
    // level re-evaluates the edge-join subtree below it — measured ~8
    // redundant edge scans over the three rounds. The frames are
    // node-sized; intermediates are freed once the k-row output is
    // materialized (the qSssp discipline).
    def normalize(scores: DataFrame, c: String): DataFrame = {
      // LAZY intermediate: the eager checkpoint of `out` is the one job
      // of the round — it materializes `m` on the way through (both the
      // max-broadcast side and the main scan fill the same persisted
      // blocks), where an eager `m` plus the max aggregate cost two extra
      // jobs per normalization
      val m = graft.Engine.lazyLoopCheckpoint(scores)
      val mx = m.agg(max(col(c)).as("mx"))
      val out = m.crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"($c * 1000000L) div mx").as(c))
        .loopCheckpoint()
      graft.Engine.freeCheckpoint(m) // out is materialized; m is spent
      out
    }
    val h0 = idx.deg.select(col("src").as("node"), lit(1000000L).as("h"))
    val a1 = normalize(
      edges.join(idx.maybeBroadcast(h0), col("src") === col("node"))
        .groupBy(col("dst").as("n2")).agg(sum("h").as("a"))
        .select(col("n2").as("node"), col("a")), "a")
    val h1 = normalize(
      edges.join(idx.maybeBroadcast(a1), col("dst") === col("node"))
        .groupBy(col("src").as("n2")).agg(sum("a").as("h"))
        .select(col("n2").as("node"), col("h")), "h")
    val a2 = normalize(
      edges.join(idx.maybeBroadcast(h1), col("src") === col("node"))
        .groupBy(col("dst").as("n2")).agg(sum("h").as("a"))
        .select(col("n2").as("node"), col("a")), "a")
    val out = h1.join(a2, "node")
      .orderBy(col("a").desc, col("node"))
      .limit(k)
      .select(col("node"), col("h").as("hub"), col("a").as("authority"))
      .loopCheckpoint()
    Seq(a1, h1, a2).foreach(graft.Engine.freeCheckpoint)
    out
  }

  /** Personalized PageRank from the deterministic seed (minimum part key):
    * [[qPagerank]]'s damped mass flow, but ALL restart mass returns to the
    * seed — the "related products for THIS product" ranking, vs global
    * importance. Integer micro-unit arithmetic (seed starts with 1e9,
    * restart adds 15% of 1e9 at the seed each round, every edge transfer
    * is `(r * 85) div (100 * deg)`), so three rounds are a pure integer
    * function of the graph and the oracle unrolls them as chained CTEs.
    *
    * Scale shape: the rank frame holds only nodes reached so far (seed's
    * ball of radius `iters`) — never wider than PageRank's node-sized
    * state; each round is one broadcast-guarded join + hash aggregate
    * against the shared checkpointed edge index, with the restart row
    * union'd in map-side. Top-k by (rank DESC, node) with the seed's own
    * row carrying the residual mass.
    */
  def qPpr(t: Tables, iters: Int = 3, k: Int = 25): DataFrame = {
    val idx = edgeIndexCached(t)
    val edges0 = idx.edges.select("src", "dst")
    val deg = idx.deg
    val seed = idx.minNode
    val edgesD = edges0.join(idx.maybeBroadcast(deg), "src")
    val spark = edges0.sparkSession
    var ranks = spark.range(1)
      .select(lit(seed).as("node"), lit(1000000000L).as("r"))
      .loopCheckpoint()
    var prev: DataFrame = null
    for (_ <- 1 to iters) {
      val contrib = edgesD
        .join(idx.maybeBroadcast(ranks), col("src") === col("node"))
        .select(col("dst").as("node"),
          expr("(r * 85) div (100 * deg)").as("c"))
      val restart = spark.range(1)
        .select(lit(seed).as("node"), lit(150000000L).as("c"))
      val next = contrib.unionByName(restart)
        .groupBy("node").agg(sum("c").as("r"))
        .loopCheckpoint()
      if (prev != null) graft.Engine.freeCheckpoint(prev)
      prev = ranks
      ranks = next
    }
    val out = ranks
      .orderBy(col("r").desc, col("node"))
      .limit(k)
      .select(col("node").as("part"), col("r").as("ppr_micro"))
      .loopCheckpoint()
    if (prev != null) graft.Engine.freeCheckpoint(prev)
    graft.Engine.freeCheckpoint(ranks)
    out
  }
}
